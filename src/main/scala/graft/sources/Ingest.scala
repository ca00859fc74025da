package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Landing layer: page accumulation and the partitioned parquet layout
  * the 100 TB design calls for (SURVEY.md §4.3).
  */
object Ingest {

  /** G68: accumulate ingested pages (the reference's
    * `all_data.extend(batch)`) — schema-tolerant union so late pages with
    * extra/missing keys still land. */
  def accumulatePages(pages: Seq[DataFrame]): DataFrame =
    pages.reduce(_.unionByName(_, allowMissingColumns = true))

  /** Physical layout for scale: land normalized data partitioned by
    * `year` (mirrors the upstream's only server-side filter, A2, so year
    * predicates become partition pruning instead of scans) and sorted
    * within partitions by (street, date, hour) so the seven analyses'
    * group-bys read near-clustered data. `targetFileParallelism` bounds
    * files per partition (small-file control at scale). */
  def land(df: DataFrame, path: String, targetFileParallelism: Int = 8): Unit =
    df.repartition(targetFileParallelism, col("year"))
      .sortWithinPartitions(col("street"), col("date"), col("hour"))
      .write
      .mode(SaveMode.Overwrite)
      .partitionBy("year")
      .parquet(path)

  /** Once-per-JVM year-partitioned landing of the `orders` table (§4.3):
    * rewrites the flat parquet partitioned by `o_year` so year predicates
    * become partition PRUNING (directories never opened) instead of scans
    * — the layout a date-partitioned fact table has at cluster scale.
    * Path and cache discipline: [[landed]]. */
  def ordersByYearLanding(spark: SparkSession, dir: String): String =
    landed(spark, dir, "orders_by_year") { path =>
      Tables.orders(spark, dir)
        .withColumn("o_year", year(col("o_orderdate")))
        .repartition(col("o_year"))
        .write.mode(SaveMode.Overwrite).partitionBy("o_year").parquet(path)
    }

  /** Once-per-JVM source-partitioned landing of the `documents` corpus:
    * every real corpus query slices on `source` (held-out vs web-crawl,
    * per-source mixing rates), so at 100 TB the corpus lives partitioned
    * by it — a `source = 'src0'` probe opens ONE directory instead of
    * scanning the corpus. `source` has bounded cardinality by
    * construction (it names corpora, not documents), so the layout cannot
    * degenerate into per-row directories. Path and cache discipline:
    * [[landed]]. */
  def documentsBySourceLanding(spark: SparkSession, dir: String): String =
    landed(spark, dir, "documents_by_source") { path =>
      Tables.documents(spark, dir)
        .repartition(col("source"))
        .write.mode(SaveMode.Overwrite).partitionBy("source").parquet(path)
    }

  /** The landing of source dir `dir` as `<root>/<kind>_<tag>`, `tag` the
    * sanitized source dir (a shared fixed path would let one dataset's
    * landing serve, or clobber, another's). `write` lands it once per
    * JVM: later query builds (bench reruns, Verify) reuse it, and a
    * derived copy cannot go stale against its own source read.
    *
    * The root is `graft.landing.dir` when set: on a cluster, a SHARED
    * filesystem path (HDFS/S3) — a driver-local path there would scatter
    * partitions across executor disks — and those landings are kept, as
    * a reusable layout. Unset (local mode), the root is [[tempRoot]]:
    * one directory per JVM, deleted when the JVM exits. */
  private def landed(spark: SparkSession, dir: String, kind: String)(
      write: String => Unit): String = {
    val root = spark.conf.getOption("graft.landing.dir")
      .fold(tempRoot)(_.stripSuffix("/"))
    val tag = dir.replaceAll("[^A-Za-z0-9]+", "_").stripPrefix("_")
    landings.computeIfAbsent(s"$root/${kind}_$tag", path => { write(path); path })
  }

  private val landings = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The per-JVM root of the landings written without
    * `graft.landing.dir`, removed by a shutdown hook. */
  private[sources] lazy val tempRoot: String = {
    val root = java.nio.file.Files.createTempDirectory("graft-landings-").toFile
    sys.addShutdownHook(org.apache.hadoop.fs.FileUtil.fullyDelete(root))
    root.toString
  }

  /** Bucketed layout for co-located joins (§4.3): both sides of a
    * frequently joined pair written bucketed+sorted on the join key join
    * WITHOUT a shuffle — the bucket layout pre-satisfies the join's
    * required distribution. Requires a catalog table (bucket metadata
    * lives in the metastore, not in parquet). */
  def landBucketed(
      df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
}
