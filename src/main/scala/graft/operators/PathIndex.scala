package graft.operators

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** A path-based durable index family as data: everything the shared
  * lifecycle ([[PathIndex]]) needs to know about one of [[Similarity]]'s
  * IVF, IVF+PQ, LSH and PQ indexes. `P` is the family's frozen parameter
  * artifact (centroids, codebooks, `nBits`, or a pair of them).
  *
  * @param name       `Ivf`, `IvfPq`, `Lsh`, `Pq`: names the verbs in error
  *                   messages (`writeIvfIndex`, `compactIvfIndex`); lower
  *                   case, the health report's `kind`
  * @param params     the parameter subdirectories
  * @param data       the data subdirectory every verb scans or lands in
  * @param schema     the data directory's declared read schema
  * @param stripe     the stripe column and its stripe count; `None` for a
  *                   table with no probe key to prune by
  * @param readParams the parameter artifacts, read on the driver (no job)
  * @param writeParams one writer per parameter artifact
  * @param encode     assign or encode raw vectors under frozen parameters:
  *                   the same expression a build runs, so an appended row
  *                   is byte-identical to a built one */
private[operators] final case class PathFamily[P](
    name: String,
    params: Seq[String],
    data: String,
    schema: StructType,
    stripe: Option[(String, P => Long)],
    readParams: (SparkSession, String) => P,
    writeParams: (SparkSession, P, String) => Seq[() => Unit],
    encode: (DataFrame, Column, Column, P) => DataFrame) {
  def parts: Seq[String] = params :+ data
  def kind: String = name.toLowerCase
  def nStripes(p: P): Long = stripe.fold(1L)(_._2(p))
}

/** The lifecycle verbs of every path-based durable index, written once
  * over a [[PathFamily]]. An index at `path` is its parameter and data
  * subdirectories, a `tombstones/` directory of deleted ids and a
  * completion marker.
  *
  * '''Write''' clears the marker, writes the data and parameter artifacts
  * concurrently, seeds an empty tombstone set and writes the marker last.
  * A fresh index has no deletions, so stale tombstones from a previous
  * index at the path would hide rows of the new one: the seed resets
  * them. It runs AFTER the data writes, so a crash mid-rebuild leaves
  * the old tombstones over broken data (loud) rather than cleared
  * tombstones over the old data (silently resurrecting deleted rows).
  * The remaining window, a crash after the data writes but before the
  * seed, leaves stale tombstones over a loadable new index; the marker
  * closes it: cleared first, created last, required by every later verb
  * ([[requireIndexDir]]), so any interrupted write reads as a
  * must-rebuild failure.
  *
  * '''Layout.''' A striped family (IVF, IVF+PQ, LSH) lands every write,
  * append and compaction through one writer ([[land]]): whole stripes
  * placed on the write tasks ([[IndexFiles.placed]]), rows sorted by
  * (stripe, id), plain parquet files in a flat data directory. Each file
  * holds a contiguous stripe range, so its footer's min/max of the stripe
  * column is a tight interval, the intervals of one write do not overlap,
  * and a probe's `stripe IN (…)` filter is answered from footer and
  * row-group statistics: only the files whose interval covers a probed
  * stripe return rows. There is no directory per stripe: a directory per
  * LSH bucket cost 5.6–16 s per write against 1.3–1.5 s for the flat
  * layout (sf0.1, 32 cores, same data and tasks), and is 65,536
  * directories at nBits = 16. A family without stripes (PQ) writes its
  * rows as they come.
  *
  * '''Load''' checks the layout and the marker, reads the parameters on
  * the driver, and returns the data scan filtered by one tombstone
  * snapshot ([[Tombstones]]). The scan is the layout itself, not a copy:
  * a probe's stripe filter prunes it to the probed stripes.
  *
  * '''Delete''' is logical: one tombstone batch appended beside the index
  * ([[Tombstones.append]]). It is visible to the next load; a handle
  * loaded before keeps its snapshot.
  *
  * '''Append''' refuses a shard that re-ingests a tombstoned id (every
  * load would hide the rows until a compaction; the error names the
  * compaction verb) or an id already live (`SaveMode.Append` is not
  * atomic, so a retried partial append would land rows twice;
  * [[requireNewIds]]), then lands the shard encoded under the frozen
  * parameters. A striped family guards only the stripes the shard
  * touches: it encodes first and prunes the live-id scan to those
  * stripes. A flat family runs both guards concurrently over the
  * shard's ids.
  *
  * '''Compact''' erases physically and resets the layout: it snapshots
  * the tombstones, rewrites the survivors into `<data>__compact`, swaps
  * it in with two renames ([[swapInPlace]]) and erases exactly the
  * snapshot's tombstone files, so a delete racing the rewrite survives
  * it. An all-deleted index is refused before any mutation: an empty
  * layout would be unreadable. Two compactions of one index must not
  * run at once.
  *
  * '''Crash states.''' Every verb's leftovers are either harmless or
  * named by the next verb: an unfinished write (no marker) and a
  * compaction stopped between its renames (`<data>__pre_compact`, no
  * `<data>`) fail with a message naming the state; a half-written
  * tombstone batch (`_temporary` under `tombstones/`) is never read, nor
  * is a half-written seed (the driver writes it under a `_` name and
  * renames it into place, [[Tombstones.seed]]: before the rename the
  * directory reads as no tombstones); and a compaction stopped before
  * its first rename leaves a stray `<data>__compact` the next compaction
  * replaces. */
private[operators] object PathIndex {

  private val CompletionMarker = "_GRAFT_INDEX_COMPLETE"

  /** Past this many touched stripes the live-id guard scans the whole id
    * column instead of stripe-pruning: a 10⁴-entry `IN` literal costs the
    * plan more than the pruning saves, and a shard touching that many
    * stripes reads most of them anyway. */
  private val LiveGuardMaxStripes = 1024

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  private def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path))

  private def tombstones(path: String): String = s"$path/tombstones"

  private def scan(f: PathFamily[_], spark: SparkSession, path: String): DataFrame =
    spark.read.schema(f.schema).parquet(s"$path/${f.data}")

  /** The one data writer of write, append and compaction: the layout
    * above. An append adds at most one file per write task, merged back
    * by compaction. */
  private def land[P](f: PathFamily[P], df: DataFrame, p: P, dir: String,
      mode: SaveMode): Unit =
    f.stripe.fold(df) { case (s, _) =>
      IndexFiles.placed(df, col(s), f.nStripes(p)).sortWithinPartitions(col(s), col("id"))
    }.write.mode(mode).parquet(dir)

  def write[P](f: PathFamily[P], p: P, encoded: DataFrame, path: String): Unit = {
    val spark = encoded.sparkSession
    val marker = new Path(s"$path/$CompletionMarker")
    fs(spark, path).delete(marker, false)
    Similarity.inParallel(
      (() => land(f, encoded, p, s"$path/${f.data}", SaveMode.Overwrite)) +:
        f.writeParams(spark, p, path): _*)
    Tombstones.seed(spark, tombstones(path), SaveMode.Overwrite)
    fs(spark, path).create(marker, true).close()
  }

  def load[P](f: PathFamily[P], spark: SparkSession, path: String): (P, DataFrame) = {
    requireIndexDir(f, spark, path)
    (f.readParams(spark, path),
      Tombstones.at(spark, Some(tombstones(path))).live(scan(f, spark, path)))
  }

  def delete(f: PathFamily[_], ids: DataFrame, id: Column, path: String): Unit = {
    requireIndexDir(f, ids.sparkSession, path)
    Tombstones.append(ids, id, tombstones(path))
  }

  def append[P](f: PathFamily[P], newVecs: DataFrame, id: Column, vec: Column,
      path: String): Unit = {
    val spark = newVecs.sparkSession
    requireIndexDir(f, spark, path)
    val dir = s"$path/${f.data}"
    val verb = s"appendTo${f.name}Index"
    val ids = newVecs.select(id.cast("long").as("id"))
    def notTombstoned(): Unit = Tombstones.at(spark, Some(tombstones(path)))
      .requireNoneOf(ids, s"at '$path'", s"compact${f.name}Index")
    def newIds(stripes: Option[Column], shard: DataFrame): Unit = {
      val existing = scan(f, spark, path)
      requireNewIds(stripes.fold(existing)(existing.filter).select(col("id")),
        shard, verb, s"the index at '$dir'")
    }
    f.stripe match {
      case None =>
        // The lowest-index error wins: the tombstone guard keeps its
        // precedence over the live-id one.
        Similarity.inParallel(() => notTombstoned(), () => newIds(None, ids))
        val p = f.readParams(spark, path)
        land(f, f.encode(newVecs, id, vec, p), p, dir, SaveMode.Append)
      case Some((stripe, _)) =>
        notTombstoned()
        val p = f.readParams(spark, path)
        val encoded = f.encode(newVecs, id, vec, p).persist(StorageLevel.MEMORY_AND_DISK)
        try {
          // Prune while the touched set stays IN-literal-sized.
          val touched = touchedStripes(encoded.select(col(stripe)))
          newIds(if (touched.size > LiveGuardMaxStripes) None
            else Some(col(stripe).isin(touched: _*)), encoded)
          land(f, encoded, p, dir, SaveMode.Append)
        } finally {
          encoded.unpersist()
          ()
        }
    }
  }

  def compact[P](f: PathFamily[P], spark: SparkSession, path: String): Unit = {
    requireIndexDir(f, spark, path)
    val tombs = Tombstones.at(spark, Some(tombstones(path)))
    val survivors = tombs.live(scan(f, spark, path))
    require(!survivors.isEmpty,
      s"compaction would EMPTY the index at '$path' — every row is " +
        "tombstoned. An all-deleted index has nothing left to probe: delete the index " +
        "directory (or rebuild on a non-empty corpus) instead")
    val p = f.readParams(spark, path)
    // Survivors come back at the core count; a striped landing's own
    // placement replaces that repartition (Spark collapses the two).
    swapInPlace(spark, s"$path/${f.data}") { tmp =>
      land(f, Dedup.spread(survivors), p, tmp, SaveMode.Overwrite)
    }
    tombs.erase()
    // Keep the relation readable: an empty batch, appended so that a
    // delete racing this step is not overwritten.
    if (IndexFiles.dataFiles(spark, Some(tombstones(path))).isEmpty)
      Tombstones.seed(spark, tombstones(path), SaveMode.Append)
  }

  /** Readable failures for a wrong path (missing directories), a
    * compaction stopped between its renames (`<data>__pre_compact` in
    * place of `<data>`), and an unfinished write (no completion marker). */
  private def requireIndexDir(f: PathFamily[_], spark: SparkSession, path: String): Unit = {
    val missing = f.parts.map(s => s"$path/$s").filterNot(exists(spark, _))
    missing.find(p => exists(spark, s"${p}__pre_compact")).foreach { p =>
      throw new IllegalArgumentException(
        s"${f.name} index at '$path': a compaction was interrupted between " +
          s"its two renames — '$p' is missing and '${p}__pre_compact' holds " +
          s"its data; rename it back to '$p', then run compact${f.name}Index again")
    }
    require(missing.isEmpty,
      s"no ${f.name} index at '$path': missing ${missing.mkString(", ")} — " +
        s"was write${f.name}Index run against this filesystem?")
    require(exists(spark, s"$path/$CompletionMarker"),
      s"${f.name} index at '$path' is INCOMPLETE: its directories exist " +
        s"but the completion marker does not — the write${f.name}Index " +
        "run crashed before finishing (stale tombstones or partial " +
        "artifacts may sit over the data), or the index predates the " +
        s"marker format; rebuild with write${f.name}Index")
  }

  /** Rewrite a data directory in place via tmp-dir + two renames. The
    * new copy is FULLY written before the original moves, so no crash
    * window loses the index: interrupted before the first rename —
    * original intact, stray `<dir>__compact` cleaned on retry; between
    * the renames — original preserved at `<dir>__pre_compact`
    * ([[requireIndexDir]] names it); after — only the stale copy
    * remained and is deleted. */
  private def swapInPlace(spark: SparkSession, dir: String)(writeTmp: String => Unit): Unit = {
    val fileSystem = fs(spark, dir)
    val cur = new Path(dir)
    val tmp = new Path(dir + "__compact")
    val old = new Path(dir + "__pre_compact")
    require(!fileSystem.exists(old),
      s"$old exists — a previous compaction was interrupted between " +
        s"renames; rename it back to $dir (if $dir is missing) or delete it")
    if (fileSystem.exists(tmp)) fileSystem.delete(tmp, true)
    writeTmp(tmp.toString)
    require(fileSystem.rename(cur, old), s"rename $cur -> $old failed")
    require(fileSystem.rename(tmp, cur), s"rename $tmp -> $cur failed")
    fileSystem.delete(old, true)
    ()
  }

  /** Fail an append whose shard (`id` column) holds an id already in
    * `existingIds` — live rows of the index, by construction of the
    * caller: tombstoned ids are refused first. An append is not atomic,
    * so the realistic trigger is a retried partially-failed append, after
    * which probes return the id twice with every gate green. Shared by
    * both index stacks ([[Dedup.appendToCorpusIndex]]). */
  def requireNewIds(existingIds: DataFrame, shard: DataFrame, verb: String,
      where: String): Unit = {
    val clash = firstIds(existingIds.join(shard.select(col("id")), Seq("id"), "left_semi"), 5)
    require(clash.isEmpty,
      s"$verb would duplicate LIVE id(s) ${clash.mkString(", ")}" +
        (if (clash.length == 5) ", …" else "") +
        s" already in $where — append ids must be NEW (a retried " +
        "partially-failed append is the usual cause; an append is not " +
        "atomic), else probes return the id twice. Recover by appending " +
        "only the missing rows (anti-join the shard against the index's " +
        "ids) or by deleting + compacting the id first")
  }

  /** Up to `n` non-null values of `ids`' `id` column, in ONE job: each
    * partition keeps its first `n` and the driver keeps the first `n` of
    * those. `limit(n).collect()` would run a one-task job first and then,
    * when that partition falls short, a second job over the rest. For the
    * guards' error messages, which name a few offending ids. */
  def firstIds(ids: DataFrame, n: Int): Array[Long] =
    ids.select(col("id").cast("long").as("id")).filter(col("id").isNotNull)
      .as(Encoders.scalaLong).mapPartitions(_.take(n))(Encoders.scalaLong)
      .collect().take(n)

  /** The distinct non-null values of `stripes`' one column, in ONE job:
    * each partition keeps a set of at most [[LiveGuardMaxStripes]] + 1
    * values and the driver merges them, so no distinct exchange runs. A
    * result past [[LiveGuardMaxStripes]] means "too many to prune by" and
    * may be cut short. */
  private def touchedStripes(stripes: DataFrame): Seq[Any] = {
    val cap = LiveGuardMaxStripes + 1
    stripes.mapPartitions { rows =>
      val seen = mutable.HashSet[Row]()
      while (rows.hasNext && seen.size < cap) {
        val r = rows.next()
        if (!r.isNullAt(0)) seen += r
      }
      seen.iterator
    }(Encoders.row(stripes.schema)).collect().map(_.get(0)).distinct.toSeq
  }

  /** One index's family and layout counts: the health report's row. */
  final case class Health(family: PathFamily[_], nStripes: Long, nDataFiles: Int,
      maxFilesPerStripe: Int, nTombstoneFiles: Int, tombstoneBytes: Long)

  /** The family at `path` — the one with the most of its subdirectories
    * present, its data directory and a parameter directory among them
    * (ties go to the family with fewer parts: an IVF index is also a
    * partial IVF+PQ one) — and its layout counts. `nStripes` is the
    * family's stripe count (1 for a family without stripes), and
    * `maxFilesPerStripe` the most files a one-stripe probe opens: the
    * deepest overlap of the files' stripe intervals, read from their
    * footers (every file, for a family without stripes). Driver-side
    * metadata only, no job. */
  def health(spark: SparkSession, path: String,
      families: Seq[PathFamily[_]]): Health = {
    val present = families.map(f => f -> f.parts.count(s => exists(spark, s"$path/$s")))
      .filter { case (f, n) => n >= 2 && exists(spark, s"$path/${f.data}") }
    require(present.nonEmpty,
      s"no durable index at '$path': expected an " +
        s"${families.map(_.name).mkString("/")} layout (was a write*Index " +
        "run against this filesystem?), or a corpus-index TABLE PREFIX " +
        "(writeCorpusIndex's layout — indexHealth/compactIfNeeded dispatch " +
        "there when '<prefix>_meta' exists in the catalog)")
    val f = present.maxBy { case (f, n) => (n, -f.parts.size) }._1
    health(spark, path, f)
  }

  private def health[P](spark: SparkSession, path: String, f: PathFamily[P]): Health = {
    val files = IndexFiles.dataFiles(spark, Some(s"$path/${f.data}"))
    val perStripe = f.stripe.fold(files.size) { case (s, _) =>
      maxOverlap(IndexFiles.intervals(spark, files, s))
    }
    val tfs = IndexFiles.dataFiles(spark, Some(tombstones(path)))
    Health(f, f.nStripes(f.readParams(spark, path)), files.size, perStripe,
      tfs.size, tfs.map(_.getLen).sum)
  }

  /** The most closed intervals covering any one point: a sweep over the
    * sorted endpoints, a start counted before an end at the same point. */
  private def maxOverlap(intervals: Seq[(Long, Long)]): Int =
    intervals.flatMap { case (lo, hi) => Seq((lo, 0), (hi, 1)) }.sorted
      .foldLeft((0, 0)) { case ((open, most), (_, end)) =>
        if (end == 0) (open + 1, most max (open + 1)) else (open - 1, most)
      }._2
}
