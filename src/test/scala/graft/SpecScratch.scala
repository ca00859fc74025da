package graft

import java.io.File

import org.apache.spark.sql.SparkSession

/** Removes what a spec's durable indexes leave behind: the catalog
  * tables and the `java.io.tmpdir` entries named `graft_…` that carry
  * the spec's run id. */
object SpecScratch {
  def clean(spark: SparkSession, runId: String): Unit = {
    spark.catalog.listTables().collect().map(_.name)
      .filter(t => t.startsWith("graft_") && t.contains(runId))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Option(new File(System.getProperty("java.io.tmpdir")).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("graft_") && f.getName.contains(runId))
      .foreach(deleteTree)
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
