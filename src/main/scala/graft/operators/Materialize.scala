package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Cache discipline shared by every persist-using operator in the
  * library, written once as [[over]]: persist the relation the operator
  * reads several times, build the output from it, eagerly materialize
  * the output via a checkpoint ([[pin]]), then release the persist in a
  * finally that also covers the build's own eager jobs — so composing
  * operators in a long-lived session never accumulates dead cache
  * entries, a failing build leaves none behind, and re-running an
  * operator never trips the cache manager's "already cached"
  * double-persist warning. Checkpoint blocks live OUTSIDE the SQL cache
  * manager and are reclaimed by the ContextCleaner once the frame is
  * unreferenced, so no unpersist obligation transfers to the caller.
  * Sites whose persisted frame feeds driver-side results rather than a
  * pinned output (a Bloom filter's bytes, a training loop's weights, an
  * index landing, a micro-batch's sink write) use the release half
  * alone, [[persisting]].
  *
  * The outputs this is applied to are orders of magnitude smaller than
  * the corpus they derive from (duplicate-pair sets, per-doc score rows,
  * per-group diagnostics), so checkpoint storage is cheap relative to
  * the re-scan it avoids.
  *
  * Durability is a CONFIG switch, not a source patch (round-11 item):
  * by default [[pin]] is `localCheckpoint()` — executor-local blocks,
  * fastest, but lineage is truncated so an executor loss mid-query
  * fails the job rather than recomputing. A cluster caller that needs
  * materialized frames to survive executor churn sets
  * `spark.conf.set("graft.checkpoint.reliable", "true")` (plus the
  * mandatory `sparkContext.setCheckpointDir(<durable path>)`) and every
  * pin in the library — operator outputs, ScalableWindow's pinned range
  * partitioning, label-propagation rounds — switches to reliable
  * `checkpoint()` into that directory. Same contract, durable blocks,
  * at the cost of a write to checkpoint storage per pin.
  *
  * Reclamation timing (local mode): localCheckpoint blocks are freed
  * when the result frame becomes unreferenced AND a driver GC cycle
  * lets the ContextCleaner see it — they are invisible to
  * `catalog.clearCache()`. In a long multi-query session (Verify's
  * full-surface sweep, bench loops) blocks from earlier queries can
  * linger until GC; `spark.cleaner.periodicGC.interval` (default 30min)
  * bounds the lag. If memory pressure appears in such a session,
  * suspect this lag before diagnosing a cache leak — the
  * MEMORY_AND_DISK level means lingering blocks spill rather than OOM.
  * (Reliable mode instead leaves files under the checkpoint dir;
  * cleanup there is `spark.cleaner.referenceTracking.cleanCheckpoints`
  * or the caller's dir hygiene.)
  */
private[graft] object Materialize {

  /** True when the session opted into reliable checkpoints. */
  private def reliable(df: DataFrame): Boolean =
    df.sparkSession.conf.getOption("graft.checkpoint.reliable")
      .exists(_.trim.equalsIgnoreCase("true"))

  /** Eagerly materialize `df`, truncating lineage: `localCheckpoint()`
    * by default, reliable `checkpoint()` under
    * `graft.checkpoint.reliable=true` (see object scaladoc). */
  def pin(df: DataFrame): DataFrame =
    if (reliable(df)) {
      require(
        df.sparkSession.sparkContext.getCheckpointDir.isDefined,
        "graft.checkpoint.reliable=true requires " +
          "sparkContext.setCheckpointDir(<durable path>)")
      df.checkpoint()
    } else df.localCheckpoint()

  /** Run `body` over `frame` persisted at `MEMORY_AND_DISK`, and release
    * the persist when `body` returns or throws. */
  def persisting[T](frame: DataFrame)(body: DataFrame => T): T = {
    val f = frame.persist(StorageLevel.MEMORY_AND_DISK)
    try body(f) finally f.unpersist(false)
  }

  /** The operator discipline: `build` the output from the persisted
    * `frame`, [[pin]] it, and release `frame` — also when `build` or the
    * pin throws. */
  def over(frame: DataFrame)(build: DataFrame => DataFrame): DataFrame =
    persisting(frame)(f => pin(build(f)))
}
