package graft.operators

import java.util.UUID

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** One snapshot of a durable index's tombstones — THE tombstone read
  * path of every [[PathIndex]] family, the MinHash corpus index included:
  * `<path>/tombstones` is a directory of parquet `id` files, appended one
  * file per delete batch ([[Tombstones.append]], the one writer, with
  * [[Tombstones.seed]]).
  *
  * [[Tombstones.at]] lists the directory's data files ONCE, and while
  * their bytes stay within [[Tombstones.BroadcastCapBytes]] it also reads
  * their ids on the driver (parquet pages, no Spark job) into one sorted
  * array shipped as a broadcast variable. Every use of the snapshot is
  * then a small predicate over that variable ([[live]],
  * [[requireNoneOf]]): no join, no broadcast exchange and no job per
  * probe, and the plan never carries the id set into its tasks. A filter
  * keeps its child's distribution, so a bucketed or partition-pruned
  * scan under it keeps its exchange-free plan. An empty snapshot applies
  * nothing at all.
  *
  * Past the cap — a months-un-compacted delete stream — the snapshot's
  * files are anti-joined instead, left to the optimizer (a shuffled join:
  * slower, still correct) rather than holding millions of ids on the
  * driver; compaction restores the cheap regime.
  *
  * Snapshot semantics: a handle loaded from a snapshot keeps the
  * tombstones that existed when it was loaded, and a load after a delete
  * sees the delete. A compaction erases exactly the files of its own
  * snapshot ([[erase]]), so a delete racing its rewrite survives it. */
private[operators] final class Tombstones private (
    spark: SparkSession, val files: Seq[FileStatus], ids: Option[Array[Long]]) {

  // Shipped once per snapshot; every probe of the handle reads it.
  private val shipped = ids.filter(_.nonEmpty).map(spark.sparkContext.broadcast(_))

  private val empty: Boolean = ids.exists(_.isEmpty)

  /** Bytes of the snapshot's data files — the broadcast gate's measure. */
  def bytes: Long = files.map(_.getLen).sum

  private def frame: DataFrame =
    spark.read.schema(Tombstones.Schema)
      .parquet(files.map(_.getPath.toString): _*)

  /** True for an id the snapshot does not hold (and for a null id, which
    * no anti-join matches either). */
  private def isLive(ids: Broadcast[Array[Long]]): Column =
    udf((id: java.lang.Long) =>
      id == null || java.util.Arrays.binarySearch(ids.value, id.longValue) < 0)
      .apply(col("id"))

  /** `df` without the tombstoned rows, matched on its `id` column. */
  def live(df: DataFrame): DataFrame =
    if (empty) df
    else shipped match {
      case Some(b) => df.filter(isLive(b))
      case None => df.join(frame, Seq("id"), "left_anti")
    }

  /** Fail an append whose shard (`id` column) re-ingests a tombstoned
    * id: the rows would land in the data files, but every load filters
    * them out, so the id would stay invisible to every probe until a
    * compaction — a churn workflow (delete by mistake, re-add) would lose
    * the rows with no signal. The error names the compaction verb that
    * makes the re-ingest legal. */
  def requireNoneOf(shardIds: DataFrame, where: String, compactVerb: String): Unit = {
    val clash =
      if (empty) Array.empty[Long]
      else {
        val shard = shardIds.select(col("id"))
        val hit = shipped match {
          case Some(b) => shard.filter(!isLive(b))
          case None => shard.join(frame, Seq("id"), "left_semi")
        }
        PathIndex.firstIds(hit, 5)
      }
    require(clash.isEmpty,
      s"append would re-ingest tombstoned id(s) ${clash.mkString(", ")} " +
        s"$where — a tombstoned id stays invisible to every probe until " +
        s"compaction clears the tombstones; run $compactVerb first, then " +
        "re-append")
  }

  /** Delete the snapshot's files: their ids are physically gone from the
    * index once a compaction rewrote it. Files appended since the
    * snapshot stay. */
  def erase(): Unit = files.foreach { f =>
    f.getPath.getFileSystem(spark.sessionState.newHadoopConf()).delete(f.getPath, false)
  }
}

private[operators] object Tombstones {

  /** Cap (file bytes) on reading the ids to the driver. Tombstones are
    * request-sized between compactions by contract; the cap is the safety
    * net past that contract. 32 MB of parquet longs ≈ 4M deleted ids, a
    * 32 MB sorted array — far past the compaction knee and still an order
    * of magnitude inside driver headroom. */
  val BroadcastCapBytes: Long = 32L << 20

  private val Schema = StructType(Seq(StructField("id", LongType)))

  /** One delete batch: the distinct ids, appended as one file. The
    * distinct runs in the one task `coalesce(1)` leaves, whose single
    * partition already satisfies the aggregate's distribution: no
    * exchange, one job. A dead earlier batch's `_temporary` is removed
    * first ([[IndexFiles.clearUncommitted]], under [[PathIndex]]'s
    * single-writer contract), so none of its tasks is committed with
    * this one. */
  def append(ids: DataFrame, id: Column, dir: String): Unit = {
    IndexFiles.clearUncommitted(ids.sparkSession, dir)
    ids.select(id.cast(LongType).as("id")).coalesce(1).distinct()
      .write.mode(SaveMode.Append).parquet(dir)
  }

  /** An empty batch (one schema-only file), so the relation exists and is
    * readable with nothing deleted. `Overwrite` also resets stale
    * tombstones (an index write); `Append` keeps a delete racing the
    * caller (a compaction's re-seed). Written on the driver with no Spark
    * job: the file is written under a `_` name, which no reader lists
    * ([[IndexFiles.dataFiles]], Spark's file index), and renamed into
    * place, so a crash mid-seed leaves nothing readable. */
  def seed(spark: SparkSession, dir: String, mode: SaveMode): Unit = {
    val d = new Path(dir)
    val conf = spark.sessionState.newHadoopConf()
    val fs = d.getFileSystem(conf)
    if (mode == SaveMode.Overwrite) fs.delete(d, true)
    fs.mkdirs(d)
    val name = s"part-00000-${UUID.randomUUID()}-seed.parquet"
    val tmp = new Path(d, s"_$name")
    ExampleParquetWriter.builder(tmp).withConf(conf)
      .withType(new MessageType("spark_schema",
        Types.optional(PrimitiveTypeName.INT64).named("id")))
      .build().close()
    require(fs.rename(tmp, new Path(d, name)), s"rename $tmp -> $name failed")
  }

  /** Snapshot the tombstones under `dir`. */
  def at(spark: SparkSession, dir: String): Tombstones = {
    val files = IndexFiles.dataFiles(spark, dir)
    val ids =
      if (files.map(_.getLen).sum > BroadcastCapBytes) None
      else Some(readIds(spark, files))
    new Tombstones(spark, files, ids)
  }

  /** The ids of `files`, sorted and distinct, read on the driver
    * ([[IndexFiles.foreachRecord]], the parameter artifacts' reader). */
  private def readIds(spark: SparkSession, files: Seq[FileStatus]): Array[Long] = {
    val out = Array.newBuilder[Long]
    IndexFiles.foreachRecord(spark, files) { g =>
      val i = g.getType.getFieldIndex("id")
      if (g.getFieldRepetitionCount(i) > 0) out += g.getLong(i, 0)
    }
    out.result().sorted.distinct
  }
}
