package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base for suites: one local session, sf0.001 fixtures,
  * and the suite's scratch: what a suite leaves in `java.io.tmpdir` or the
  * warehouse is named `graft_…<runId>…` and removed when it ends
  * ([[SpecScratch.clean]]). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(cores = 4, shufflePartitions = 4)
      .config("graft.landing.dir", SpecScratch.landingDir)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  val runId: String = java.util.UUID.randomUUID.toString.replace("-", "").take(8)

  /** A new directory in `java.io.tmpdir`, removed when the suite ends. */
  def tempDir(name: String): String =
    Files.createTempDirectory(s"graft_${name}_$runId").toString

  /** A new file in `java.io.tmpdir`, removed when the suite ends. */
  def tempFile(name: String, suffix: String): Path =
    Files.createTempFile(s"graft_${name}_$runId", suffix)

  override def afterAll(): Unit =
    try SparkSession.getDefaultSession.fold(SpecScratch.cleanTmp(runId))(SpecScratch.clean(_, runId))
    finally super.afterAll()
}
