package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.operators.Dedup

/** Removes what a suite leaves behind ([[SparkSpec]]): the corpus indexes
  * whose roots sit in the warehouse, the catalog tables, and the
  * `java.io.tmpdir` entries, each named `graft_…` with the suite's run id.
  * A dropped table can be external, so its files go with its root. */
object SpecScratch {
  private def mine(runId: String)(name: String): Boolean =
    name.startsWith("graft_") && name.contains(runId)

  def clean(spark: SparkSession, runId: String): Unit = {
    val warehouse = new File(new java.net.URI(
      spark.catalog.getDatabase(spark.catalog.currentDatabase).locationUri))
    entries(warehouse).map(_.getName).filter(n => mine(runId)(n) && n.matches("\\w+"))
      .foreach(Dedup.dropCorpusIndex(spark, _))
    spark.catalog.listTables().collect().map(_.name).filter(mine(runId))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    entries(warehouse).filter(f => mine(runId)(f.getName)).foreach(deleteTree)
    cleanTmp(runId)
  }

  /** The `java.io.tmpdir` half of [[clean]]. */
  def cleanTmp(runId: String): Unit =
    entries(new File(System.getProperty("java.io.tmpdir")))
      .filter(f => mine(runId)(f.getName)).foreach(deleteTree)

  /** The landing root (`graft.landing.dir`) of every suite's session: the
    * landing cache lives as long as the JVM, so the directory is removed
    * when the JVM exits. */
  lazy val landingDir: String = {
    val d = Files.createTempDirectory("graft_landings_").toFile
    sys.addShutdownHook(deleteTree(d))
    d.toString
  }

  private def entries(dir: File): Seq[File] = Option(dir.listFiles()).toSeq.flatten

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
