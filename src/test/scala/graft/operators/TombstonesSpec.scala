package graft.operators

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._

import graft.{JobCount, SparkSpec}

/** The tombstone seed: an empty batch written on the driver. */
class TombstonesSpec extends SparkSpec {

  private def names(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten.map(_.getName)

  test("a seeded tombstone directory and catalog table read as empty, and seeding runs no Spark job") {
    import spark.implicits._
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_tomb_seed_$runId"
    // Stale ids from an earlier index at the path: Overwrite resets them.
    Seq(1L, 2L).toDF("id").write.parquet(dir)
    val (_, overwriteJobs) = JobCount(spark)(Tombstones.seed(spark, dir, SaveMode.Overwrite))
    assert(overwriteJobs === 0, s"an Overwrite seed ran $overwriteJobs jobs")
    val seeded = Tombstones.at(spark, dir)
    assert(seeded.files.size === 1, s"one schema-only file, got ${names(dir)}")
    assert(!names(dir).exists(_.startsWith("_")),
      s"the seed must be renamed out of its `_` name, got ${names(dir)}")
    assert(spark.read.parquet(dir).schema.fieldNames.toSeq === Seq("id"))
    assert(spark.read.parquet(dir).isEmpty, "a seeded directory must read as empty")

    // Append keeps a batch written before it (a delete racing a re-seed).
    Tombstones.append(Seq(7L, 7L, 9L).toDF("id"), col("id"), dir)
    val (_, appendJobs) = JobCount(spark)(Tombstones.seed(spark, dir, SaveMode.Append))
    assert(appendJobs === 0, s"an Append seed ran $appendJobs jobs")
    assert(spark.read.parquet(dir).as[Long].collect().sorted.toSeq === Seq(7L, 9L))

    val table = s"graft_tomb_table_$runId"
    spark.sql(s"CREATE TABLE $table (id BIGINT) USING parquet")
    val loc = spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))
      .location.toString
    val (_, tableJobs) = JobCount(spark)(Tombstones.seed(spark, loc, SaveMode.Overwrite))
    assert(tableJobs === 0, s"seeding a catalog table ran $tableJobs jobs")
    spark.catalog.refreshTable(table)
    assert(spark.table(table).isEmpty, "a seeded catalog table must read as empty")
    assert(Tombstones.at(spark, loc).files.size === 1)
  }
}
