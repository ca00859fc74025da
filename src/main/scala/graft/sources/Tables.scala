package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated TPC-H-ish parquet tables (TESTDATA.md).
  *
  * One parquet file per table under `sfDir`. At 100 TB these would be
  * directory-partitioned datasets; the loader only assumes "a parquet path
  * per logical table", so swapping in partitioned layouts is transparent to
  * every query builder.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Per-JVM parquet schema cache (round 21): every query build calls
    * `spark.read.parquet` 1–3×, and each call re-infers the schema from
    * the file footer — pure metadata work repeated hundreds of times
    * per bench/Verify sweep. The schema is a pure function of the
    * dataset's bytes, so it is cached and passed explicitly — exactly
    * what a production job does by declaring its table schemas. Results
    * are unchanged: the explicit schema IS the inferred one.
    *
    * The key is (path, bytes, modification time), not the path alone: a
    * dataset regenerated at the same path (a writer that changed a
    * column's type, as the `events.ts` encodings did) is read with its
    * new schema, never a stale one. For a directory dataset the bytes
    * are its contents' total and the time is the directory's, which a
    * rewrite replaces. A missing path is not cached: the read fails as
    * an uncached one would. */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), org.apache.spark.sql.types.StructType]()

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) return spark.read.parquet(path)
    val st = fs.getFileStatus(p)
    val bytes = if (st.isDirectory) fs.getContentSummary(p).getLength else st.getLen
    val schema = schemaCache.computeIfAbsent((path, bytes, st.getModificationTime),
      _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** Register every table as a temp view (+ the engine's SQL functions)
    * so the full surface is reachable from `spark.sql(...)`. */
  def registerViews(spark: SparkSession, sfDir: String): Unit = {
    all.foreach { t =>
      val df = if (t == "events") events(spark, sfDir) else load(spark, sfDir, t)
      df.createOrReplaceTempView(t)
    }
    graft.GraftExtensions.register(spark)
  }

  def region(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  /** `events.ts` has shipped under three physical parquet encodings across
    * testdata generations, and the loader normalizes all of them to a plain
    * micro-precision `TimestampType` so downstream `unix_micros`/window
    * arithmetic never cares which writer produced the file:
    *
    *  - TIMESTAMP(NANOS): with spark.sql.legacy.parquet.nanosAsLong it lands
    *    as Long nanos-since-epoch → `timestamp_micros(ts div 1000)` (`div`
    *    keeps the arithmetic integral — a double division loses precision at
    *    1e18 nanos). DuckDB performs the same nanos→micros truncation on
    *    read, so the oracle sees identical instants.
    *  - timestamp[us] with no timezone: Spark 4 infers TIMESTAMP_NTZ
    *    (spark.sql.parquet.inferTimestampNTZ.enabled defaults true) →
    *    cast to TimestampType. The session timezone is pinned to UTC
    *    (GraftSession), so the cast is instant-preserving and the oracle
    *    (DuckDB, also tz-naive UTC) is unaffected.
    *  - timestamp[us] UTC-adjusted: already TimestampType, pass through.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
