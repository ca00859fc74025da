package graft.operators

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** How one data relation of a [[PathFamily]] lands and is scanned. */
private[operators] sealed trait Layout[P]

/** Rows as they come, plain parquet files (PQ codes). */
private[operators] final case class AsItComes[P]() extends Layout[P]

/** Whole stripes placed on each write task and sorted by (stripe, id),
  * plain parquet files (IVF and IVF+PQ lists, LSH buckets): each file
  * holds a contiguous stripe range, so its footer's min/max of `column`
  * is a tight interval a probe's `column IN (…)` filter prunes by. */
private[operators] final case class Striped[P](column: String, nStripes: P => Long)
    extends Layout[P]

/** A bucketed catalog table over the directory (`bucketBy(n, column)`,
  * sorted by `column`; the MinHash corpus relations). The catalog's
  * bucket spec is what gives a `spark.table` scan its hash distribution,
  * so a join on `column` reads the relation with no exchange. The table
  * is named `<root name>_<directory name>`. */
private[operators] final case class Bucketed[P](column: String, nBuckets: P => Int)
    extends Layout[P]

/** One data relation of a [[PathFamily]].
  *
  * @param dir    its subdirectory under the index root
  * @param schema its columns, in table order: the read schema of a plain
  *               directory, the column order of a bucketed table
  * @param layout how it lands and is scanned
  * @param derive the relation's rows from the family's encoded frame */
private[operators] final case class DataRelation[P](
    dir: String,
    schema: StructType,
    layout: Layout[P],
    derive: (DataFrame, P) => DataFrame = (df: DataFrame, _: P) => df) {
  def bucketed: Boolean = layout.isInstanceOf[Bucketed[_]]
}

/** A durable index family as data: everything the shared lifecycle
  * ([[PathIndex]]) needs to know about one of [[Similarity]]'s IVF,
  * IVF+PQ, LSH and PQ indexes or [[Dedup]]'s MinHash corpus index. `P` is
  * the family's frozen parameter artifact (centroids, codebooks, `nBits`,
  * the corpus scheme, or a pair of them).
  *
  * @param name       `Ivf`, `IvfPq`, `Lsh`, `Pq`, `Corpus`: names the verbs
  *                   in error messages (`writeIvfIndex`, `compactCorpusIndex`);
  *                   lower case, the health report's `kind`
  * @param params     the parameter subdirectories
  * @param data       the data relations every verb scans or lands in; the
  *                   first one carries the ids the live-id guard reads
  * @param readParams the parameter artifacts, read on the driver (no job)
  * @param writeParams one writer per parameter artifact
  * @param encode     assign or encode raw rows under frozen parameters:
  *                   the same expression a build runs, so an appended row
  *                   is byte-identical to a built one */
private[operators] final case class PathFamily[P](
    name: String,
    params: Seq[String],
    data: Seq[DataRelation[P]],
    readParams: (SparkSession, String) => P,
    writeParams: (SparkSession, P, String) => Seq[() => Unit],
    encode: (DataFrame, Column, Column, P) => DataFrame) {
  def parts: Seq[String] = params ++ data.map(_.dir)
  def kind: String = name.toLowerCase
  /** The stripe (or bucket) count of the first relation; 1 for a family
    * without stripes. */
  def nStripes(p: P): Long = data.head.layout match {
    case Striped(_, n) => n(p)
    case Bucketed(_, n) => n(p).toLong
    case AsItComes() => 1L
  }
  def bucketed: Boolean = data.exists(_.bucketed)
}

/** The lifecycle verbs of every durable index, written once over a
  * [[PathFamily]]: this is the only code that writes a completion marker,
  * seeds or erases tombstones, or swaps a data directory. An index at
  * `path` is its parameter and data subdirectories, a `tombstones/`
  * directory of deleted ids and a completion marker.
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
  * '''Layout.''' Every relation lands through one writer ([[land]]) in
  * its [[Layout]]. A striped relation (IVF, IVF+PQ, LSH) places whole
  * stripes on the write tasks ([[IndexFiles.placed]]) and sorts rows by
  * (stripe, id) into plain parquet files in a flat data directory. Each
  * file holds a contiguous stripe range, so its footer's min/max of the
  * stripe column is a tight interval, the intervals of one write do not
  * overlap, and a probe's `stripe IN (…)` filter is answered from footer
  * and row-group statistics: only the files whose interval covers a
  * probed stripe return rows. There is no directory per stripe: a
  * directory per LSH bucket cost 5.6–16 s per write against 1.3–1.5 s for
  * the flat layout (sf0.1, 32 cores, same data and tasks), and is 65,536
  * directories at nBits = 16. A bucketed relation (the corpus index)
  * places whole buckets the same way and lands as an external bucketed
  * table over its directory. A relation without stripes (PQ) lands its
  * rows as they come.
  *
  * '''Load''' checks the layout and the marker, reads the parameters on
  * the driver, and returns each relation's scan filtered by one tombstone
  * snapshot ([[Tombstones]]). The scan is the layout itself, not a copy:
  * a probe's stripe filter prunes it to the probed stripes, and a
  * bucketed scan keeps its distribution under the filter.
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
  * parameters in every relation. A striped family guards only the
  * stripes the shard touches: it encodes first and prunes the live-id
  * scan to those stripes. Any other family runs both guards concurrently
  * over the shard's ids.
  *
  * '''Compact''' erases physically and resets the layout: it snapshots
  * the tombstones, rewrites each relation's survivors into
  * `<data>__compact` (a bucketed relation through a scratch table dropped
  * straight away; its files stay), swaps each in with two renames
  * ([[swapInPlace]]) and erases exactly the snapshot's tombstone files,
  * so a delete racing the rewrite survives it. The rewrite reads the
  * original files until their rename, so no copy of the index is pinned.
  * An all-deleted index is refused before the first rename, from the
  * copies' footer row counts, and its copies are removed: an empty layout
  * would be unreadable.
  *
  * '''Single writer per index.''' At most one write, append or compaction
  * runs against an index at a time, and at most one delete. A delete may
  * overlap a compaction: the compaction touches `tombstones/` only by
  * erasing the files of its own snapshot and by a driver-side re-seed.
  * The contract is what lets every append-mode write remove the
  * committer's `_temporary` directory first
  * ([[IndexFiles.clearUncommitted]]): under it, whatever sits there was
  * left by a job that died, and a task of that job that had committed
  * would otherwise be committed by the next job into the directory (rows
  * landed twice, or a delete hiding ids it was never given).
  *
  * '''Crash states.''' Every verb's leftovers are either harmless or
  * named by the next verb: an unfinished write (no marker) and a
  * compaction stopped between its renames (`<data>__pre_compact`, no
  * `<data>`) fail with a message naming the state; a half-written
  * tombstone or data batch (`_temporary` under the directory, committed
  * tasks included) is never read and is removed by the next append-mode
  * write into the directory; a half-written seed is never read either
  * (the driver writes it under a `_` name and renames it into place,
  * [[Tombstones.seed]]: before the rename the directory reads as no
  * tombstones); and a compaction stopped before its first rename leaves a
  * stray `<data>__compact` the next compaction replaces. A compaction
  * stopped between two relations' swaps leaves one relation compacted and
  * the other not, both still filtered by the unerased tombstones, so
  * every load reads the same rows. */
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

  /** The catalog table of a bucketed relation landed in `dir`:
    * `<root name>_<directory name>`. */
  private def table(dir: String): String = {
    val d = new Path(dir)
    s"${d.getParent.getName}_${d.getName}"
  }

  private def scan(r: DataRelation[_], spark: SparkSession, path: String): DataFrame =
    if (r.bucketed) spark.table(table(s"$path/${r.dir}"))
    else spark.read.schema(r.schema).parquet(s"$path/${r.dir}")

  /** The one data writer of write, append and compaction: the layout
    * above. An append adds at most one file per write task (per bucket,
    * for a bucketed relation), merged back by compaction. */
  private def land[P](r: DataRelation[P], df: DataFrame, p: P, dir: String,
      mode: SaveMode): Unit = {
    if (mode == SaveMode.Append) IndexFiles.clearUncommitted(df.sparkSession, dir)
    r.layout match {
      case AsItComes() => df.write.mode(mode).parquet(dir)
      case Striped(s, n) =>
        IndexFiles.placed(df, col(s), n(p)).sortWithinPartitions(col(s), col("id"))
          .write.mode(mode).parquet(dir)
      case Bucketed(b, n) =>
        // The stripe is the bucket id the bucketed writer computes itself,
        // `pmod(murmur3(b, seed 42), n)`: `HashPartitioning`'s expression,
        // which `hash` is. `insertInto` matches columns by position.
        val writer = IndexFiles.placed(df.select(r.schema.fieldNames.toIndexedSeq.map(col): _*),
          pmod(hash(col(b)), lit(n(p))), n(p).toLong).write.mode(mode)
        if (mode == SaveMode.Append) writer.insertInto(table(dir))
        else {
          df.sparkSession.sql(s"DROP TABLE IF EXISTS ${table(dir)}")
          writer.option("path", dir).bucketBy(n(p), b).sortBy(b).format("parquet")
            .saveAsTable(table(dir))
        }
    }
  }

  /** One landing per relation of `f` (`rows` in relation order), to run
    * concurrently: each reads its own input. */
  private def landAll[P](f: PathFamily[P], rows: Seq[DataFrame], p: P, path: String,
      mode: SaveMode): Seq[() => Unit] =
    f.data.zip(rows).map { case (r, df) => () => land(r, df, p, s"$path/${r.dir}", mode) }

  /** `data`: one frame per relation of `f`, in relation order. */
  def write[P](f: PathFamily[P], p: P, data: Seq[DataFrame], path: String): Unit = {
    val spark = data.head.sparkSession
    val marker = new Path(s"$path/$CompletionMarker")
    fs(spark, path).delete(marker, false)
    Similarity.inParallel(
      landAll(f, data, p, path, SaveMode.Overwrite) ++ f.writeParams(spark, p, path): _*)
    Tombstones.seed(spark, tombstones(path), SaveMode.Overwrite)
    fs(spark, path).create(marker, true).close()
  }

  /** The parameters and one tombstone-filtered scan per relation. */
  def load[P](f: PathFamily[P], spark: SparkSession, path: String): (P, Seq[DataFrame]) = {
    requireIndexDir(f, spark, path)
    val tombs = Tombstones.at(spark, tombstones(path))
    (f.readParams(spark, path), f.data.map(r => tombs.live(scan(r, spark, path))))
  }

  def delete(f: PathFamily[_], ids: DataFrame, id: Column, path: String): Unit = {
    requireIndexDir(f, ids.sparkSession, path)
    Tombstones.append(ids, id, tombstones(path))
  }

  def append[P](f: PathFamily[P], newRows: DataFrame, id: Column, value: Column,
      path: String): Unit = {
    val spark = newRows.sparkSession
    requireIndexDir(f, spark, path)
    val verb = s"appendTo${f.name}Index"
    val ids = newRows.select(id.cast("long").as("id"))
    def notTombstoned(): Unit = Tombstones.at(spark, tombstones(path))
      .requireNoneOf(ids, s"at '$path'", s"compact${f.name}Index")
    def newIds(stripes: Option[Column], shard: DataFrame): Unit = {
      val existing = scan(f.data.head, spark, path)
      requireNewIds(stripes.fold(existing)(existing.filter).select(col("id")),
        shard, verb, s"the index at '$path/${f.data.head.dir}'")
    }
    // Every relation's rows derive from the encoded frame, cached when
    // more than one reads it or the guard read it first: the block
    // manager computes each cached partition once and the other landings
    // wait for it.
    def landEncoded(encoded: DataFrame, p: P): Unit =
      Similarity.inParallel(landAll(f, f.data.map(_.derive(encoded, p)), p, path,
        SaveMode.Append): _*)
    f.data.head.layout match {
      case Striped(stripe, _) =>
        notTombstoned()
        val p = f.readParams(spark, path)
        Materialize.persisting(f.encode(newRows, id, value, p)) { encoded =>
          // Prune while the touched set stays IN-literal-sized.
          val touched = touchedStripes(encoded.select(col(stripe)))
          newIds(if (touched.size > LiveGuardMaxStripes) None
            else Some(col(stripe).isin(touched: _*)), encoded)
          landEncoded(encoded, p)
        }
      case _ =>
        // The lowest-index error wins: the tombstone guard keeps its
        // precedence over the live-id one.
        Similarity.inParallel(() => notTombstoned(), () => newIds(None, ids))
        val p = f.readParams(spark, path)
        val encoded = f.encode(newRows, id, value, p)
        if (f.data.size == 1) landEncoded(encoded, p)
        else Materialize.persisting(encoded)(landEncoded(_, p))
    }
  }

  def compact[P](f: PathFamily[P], spark: SparkSession, path: String): Unit = {
    requireIndexDir(f, spark, path)
    val tombs = Tombstones.at(spark, tombstones(path))
    val survivors = f.data.map(r => tombs.live(scan(r, spark, path)))
    val p = f.readParams(spark, path)
    // Survivors come back at the core count; a placed landing's own
    // placement replaces that repartition (Spark collapses the two).
    swapInPlace(spark, f.data.map(r => s"$path/${r.dir}"),
      s"compaction would EMPTY the index at '$path' — every row is " +
        "tombstoned. An all-deleted index has nothing left to probe: delete the index " +
        "directory (or rebuild on a non-empty corpus) instead")(
      f.data.zip(survivors).map { case (r, df) => (tmp: String) =>
        land(r, Dedup.spread(df), p, tmp, SaveMode.Overwrite)
        // The scratch table only carried the bucket spec to the files.
        if (r.bucketed) spark.sql(s"DROP TABLE IF EXISTS ${table(tmp)}")
        ()
      })
    // A bucketed relation's files changed behind the catalog's back.
    f.data.filter(_.bucketed).foreach(r => spark.catalog.refreshTable(table(s"$path/${r.dir}")))
    tombs.erase()
    // Keep the relation readable: an empty batch, appended so that a
    // delete racing this step is not overwritten.
    if (IndexFiles.dataFiles(spark, tombstones(path)).isEmpty)
      Tombstones.seed(spark, tombstones(path), SaveMode.Append)
  }

  /** Remove the index at `path`: its bucketed relations' tables (their
    * files stay: they are external), then the directory. */
  def drop(f: PathFamily[_], spark: SparkSession, path: String): Unit = {
    f.data.filter(_.bucketed)
      .foreach(r => spark.sql(s"DROP TABLE IF EXISTS ${table(s"$path/${r.dir}")}"))
    fs(spark, path).delete(new Path(path), true)
    ()
  }

  /** Readable failures for a wrong path (missing directories or, for a
    * bucketed relation, its catalog table), a compaction stopped between
    * its renames (`<data>__pre_compact` in place of `<data>`), and an
    * unfinished write (no completion marker). */
  private def requireIndexDir(f: PathFamily[_], spark: SparkSession, path: String): Unit = {
    val missing = f.parts.map(s => s"$path/$s").filterNot(exists(spark, _))
    missing.find(p => exists(spark, s"${p}__pre_compact")).foreach { p =>
      throw new IllegalArgumentException(
        s"${f.name} index at '$path': a compaction was interrupted between " +
          s"its two renames — '$p' is missing and '${p}__pre_compact' holds " +
          s"its data; rename it back to '$p', then run compact${f.name}Index again")
    }
    val missingTables = f.data.filter(_.bucketed).map(r => table(s"$path/${r.dir}"))
      .filterNot(spark.catalog.tableExists)
    require(missing.isEmpty && missingTables.isEmpty,
      s"no ${f.name} index at '$path': missing " +
        (missing ++ missingTables.map(t => s"table $t")).mkString(", ") +
        s" — was write${f.name}Index run against this filesystem and metastore?")
    require(exists(spark, s"$path/$CompletionMarker"),
      s"${f.name} index at '$path' is INCOMPLETE: its directories exist " +
        s"but the completion marker does not — the write${f.name}Index " +
        "run crashed before finishing (stale tombstones or partial " +
        "artifacts may sit over the data), or the index predates the " +
        s"marker format; rebuild with write${f.name}Index")
  }

  /** Rewrite data directories in place via tmp-dir + two renames each.
    * The new copies are FULLY written (concurrently) before any original
    * moves, so no crash window loses the index: interrupted before the
    * first rename — originals intact, stray `<dir>__compact` cleaned on
    * retry; between a directory's renames — its original preserved at
    * `<dir>__pre_compact` ([[requireIndexDir]] names it); after — only
    * the stale copy remained and is deleted. A first copy with no rows
    * (its footers' row counts, read on the driver with no job) is
    * refused with `ifEmpty` before the first rename, its copies removed:
    * an empty layout would be unreadable. */
  private def swapInPlace(spark: SparkSession, dirs: Seq[String], ifEmpty: String)(
      writeTmp: Seq[String => Unit]): Unit = {
    val fileSystem = fs(spark, dirs.head)
    def tmp(dir: String) = new Path(dir + "__compact")
    def old(dir: String) = new Path(dir + "__pre_compact")
    dirs.foreach { dir =>
      require(!fileSystem.exists(old(dir)),
        s"${old(dir)} exists — a previous compaction was interrupted between " +
          s"renames; rename it back to $dir (if $dir is missing) or delete it")
      if (fileSystem.exists(tmp(dir))) fileSystem.delete(tmp(dir), true)
    }
    Similarity.inParallel(dirs.zip(writeTmp).map { case (dir, w) =>
      () => w(tmp(dir).toString) }: _*)
    if (IndexFiles.rowCount(spark, IndexFiles.dataFiles(spark, tmp(dirs.head).toString)) == 0) {
      dirs.foreach(dir => fileSystem.delete(tmp(dir), true))
      throw new IllegalArgumentException(ifEmpty)
    }
    dirs.foreach { dir =>
      val cur = new Path(dir)
      require(fileSystem.rename(cur, old(dir)), s"rename $cur -> ${old(dir)} failed")
      require(fileSystem.rename(tmp(dir), cur), s"rename ${tmp(dir)} -> $cur failed")
      fileSystem.delete(old(dir), true)
    }
  }

  /** Fail an append whose shard (`id` column) holds an id already in
    * `existingIds` — live rows of the index, by construction of the
    * caller: tombstoned ids are refused first. An append is not atomic,
    * so the realistic trigger is a retried partially-failed append, after
    * which probes return the id twice with every gate green. */
  private def requireNewIds(existingIds: DataFrame, shard: DataFrame, verb: String,
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

  /** One index's family and layout counts: the health report's row.
    * `nDataFiles` has one count per relation. */
  private final case class Health(family: PathFamily[_], nStripes: Long, nDataFiles: Seq[Int],
      maxFilesPerStripe: Int, nTombstoneFiles: Int, tombstoneBytes: Long) {
    /** The knee: a stripe (or bucket) past `maxFilesPerStripe` files, as
      * many tombstone files, or tombstones past `maxTombstoneBytes`. */
    def needsCompaction(maxFilesPerStripe: Int, maxTombstoneBytes: Long): Boolean =
      this.maxFilesPerStripe > maxFilesPerStripe ||
        nTombstoneFiles > maxFilesPerStripe ||
        tombstoneBytes > maxTombstoneBytes
  }

  /** The one-row health report of the index at `path`, whose family is
    * one of `families` ([[health]]): its layout counts, whether its
    * tombstones still broadcast ([[Tombstones.BroadcastCapBytes]]) and
    * whether it is past the compaction knee. A bucketed family reports in
    * its tables' terms — `n_buckets`, `n_<relation>_files` per relation,
    * `max_files_per_bucket` — and every other family as `kind`,
    * `n_stripes` (a bigint: an LSH index has 2^nBits), `n_data_files` and
    * `max_files_per_stripe`; then `n_tombstone_files`, `tombstone_bytes`,
    * `tombstone_broadcast_ok` and `needs_compaction`. Driver-side
    * metadata only, no job. */
  def report(spark: SparkSession, path: String, families: Seq[PathFamily[_]],
      maxFilesPerStripe: Int, maxTombstoneBytes: Long): DataFrame = {
    val h = health(spark, path, families)
    val layout: Seq[(String, DataType, Any)] =
      if (h.family.bucketed)
        (("n_buckets", IntegerType, h.nStripes.toInt) +:
          h.family.data.zip(h.nDataFiles).map { case (r, n) =>
            (s"n_${r.dir}_files", IntegerType, n) }) :+
          (("max_files_per_bucket", IntegerType, h.maxFilesPerStripe))
      else Seq(("kind", StringType, h.family.kind), ("n_stripes", LongType, h.nStripes),
        ("n_data_files", IntegerType, h.nDataFiles.sum),
        ("max_files_per_stripe", IntegerType, h.maxFilesPerStripe))
    val cols = layout ++ Seq(
      ("n_tombstone_files", IntegerType, h.nTombstoneFiles),
      ("tombstone_bytes", LongType, h.tombstoneBytes),
      ("tombstone_broadcast_ok", BooleanType, h.tombstoneBytes <= Tombstones.BroadcastCapBytes),
      ("needs_compaction", BooleanType, h.needsCompaction(maxFilesPerStripe, maxTombstoneBytes)))
    spark.createDataFrame(java.util.List.of(Row.fromSeq(cols.map(_._3))),
      StructType(cols.map { case (n, t, _) => StructField(n, t, nullable = t == StringType) }))
  }

  /** Compact the index at `path` iff its health is past the knee; true
    * iff a compaction ran. */
  def compactIfNeeded(spark: SparkSession, path: String, families: Seq[PathFamily[_]],
      maxFilesPerStripe: Int, maxTombstoneBytes: Long): Boolean = {
    val h = health(spark, path, families)
    val due = h.needsCompaction(maxFilesPerStripe, maxTombstoneBytes)
    if (due) compact(h.family, spark, path)
    due
  }

  /** The family at `path` — the one with the most of its subdirectories
    * present, all its data directories and a parameter directory among
    * them (ties go to the family with fewer parts: an IVF index is also a
    * partial IVF+PQ one) — and its layout counts. `nStripes` is the
    * family's stripe or bucket count (1 for a family without stripes),
    * and `maxFilesPerStripe` the most files a one-stripe probe opens: the
    * deepest overlap of the files' stripe intervals, read from their
    * footers; the most files of one bucket, read from the bucketed file
    * names; or every file, for a family without stripes. */
  private def health(spark: SparkSession, path: String,
      families: Seq[PathFamily[_]]): Health = {
    val present = families.map(f => f -> f.parts.count(s => exists(spark, s"$path/$s")))
      .filter { case (f, n) => n >= 2 && f.data.forall(r => exists(spark, s"$path/${r.dir}")) }
    require(present.nonEmpty,
      s"no durable index at '$path': expected an " +
        s"${families.map(_.name).mkString("/")} layout (was a write*Index " +
        "run against this filesystem?)")
    val f = present.maxBy { case (f, n) => (n, -f.parts.size) }._1
    healthOf(spark, path, f)
  }

  private def healthOf[P](spark: SparkSession, path: String, f: PathFamily[P]): Health = {
    val files = f.data.map(r => r -> IndexFiles.dataFiles(spark, s"$path/${r.dir}"))
    val perStripe = files.map { case (r, fs) =>
      r.layout match {
        case AsItComes() => fs.size
        case Striped(s, _) => maxOverlap(IndexFiles.intervals(spark, fs, s))
        case Bucketed(_, _) => maxPerBucket(fs)
      }
    }.max
    val tfs = IndexFiles.dataFiles(spark, tombstones(path))
    Health(f, f.nStripes(f.readParams(spark, path)), files.map(_._2.size), perStripe,
      tfs.size, tfs.map(_.getLen).sum)
  }

  /** A bucketed writer's file name carries its bucket id
    * (`part-NNNNN-<uuid>_BBBBB.c000…`). */
  private val BucketId = "_(\\d{5})\\.".r

  /** The most files of one bucket: a one-bucket probe's open fan-out. */
  private def maxPerBucket(files: Seq[FileStatus]): Int = {
    val ids = files.flatMap(s => BucketId.findFirstMatchIn(s.getPath.getName).map(_.group(1)))
    if (ids.isEmpty) files.size else ids.groupBy(identity).values.map(_.size).max
  }

  /** The most closed intervals covering any one point: a sweep over the
    * sorted endpoints, a start counted before an end at the same point. */
  private def maxOverlap(intervals: Seq[(Long, Long)]): Int =
    intervals.flatMap { case (lo, hi) => Seq((lo, 0), (hi, 1)) }.sorted
      .foldLeft((0, 0)) { case ((open, most), (_, end)) =>
        if (end == 0) (open + 1, most max (open + 1)) else (open - 1, most)
      }._2
}
