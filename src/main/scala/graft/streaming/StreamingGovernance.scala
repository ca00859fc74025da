package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.Domains

/** Streaming domain-governance screen — q181's blocklist + per-domain
  * diversity cap as crawl ADMISSION CONTROL: every arriving shard's
  * docs are host-parsed, blocklist-screened (exact host OR registered
  * domain, [[Domains.governanceReport]]'s two-level semantics — ONE
  * shared definition), and admitted only while their registered
  * domain's CUMULATIVE admitted count stays under `capPerDomain`;
  * admitted docs append to the sink.
  *
  * Cross-batch state is the SINK ITSELF, not a state store: the
  * admitted output is cap-bounded (≤ capPerDomain rows per domain,
  * ever), so re-reading it for the per-domain counts each batch scans
  * O(capPerDomain × |distinct domains|) rows no matter how much the
  * stream has carried — bounded by the CAP, not the traffic, but still
  * proportional to domain cardinality, which for an open web crawl is
  * data-sized (tens of millions of registered domains). The design
  * assumes a governed domain universe (blocklist + cap implies one);
  * past that, the state read is a full shuffle-side aggregate and the
  * state belongs in a keyed store instead — the
  * [[StreamingDedup]] zero-streaming-state design with the
  * boundedness argument made structural. Within a batch, admission
  * order is [[graft.operators.Split.capPerStratum]]'s deterministic
  * md5 order (a single-drain stream admits EXACTLY the batch
  * operator's kept set — spec-gated); across batches, earlier arrivals
  * hold their slots (admission control, not retro-selection — the
  * declared streaming semantic).
  *
  * Same foreachBatch contract as every screen here: exactly-once only
  * within a batch id; a crash after a partial sink write replays the
  * batch and can both duplicate rows and (because the sink doubles as
  * state) double-count toward caps — downstream dedupes on doc id, or
  * each batch writes a batchId-keyed path for idempotent replay.
  */
object StreamingGovernance {

  /** The per-doc screen shared by stream and batch callers:
    * (id, host, domain, blocked) — q181's host parse, suffix rollup
    * and two-level blocklist, null-safe on unparseable URLs (they pass
    * the blocklist unblocked under the null domain, the batch
    * operator's rule). */
  def screenBatch(
      batch: DataFrame, idCol: Column, urlCol: Column,
      blockedHosts: Seq[String], blockedDomains: Seq[String],
      multiPartTlds: Seq[String]): DataFrame = {
    val h = Domains.host(urlCol)
    val dom = Domains.registeredDomain(h, multiPartTlds)
    val blockedH =
      if (blockedHosts.isEmpty) lit(false) else h.isin(blockedHosts: _*)
    val blockedD =
      if (blockedDomains.isEmpty) lit(false) else dom.isin(blockedDomains: _*)
    batch.select(idCol.cast("long").as("id"), h.as("host"),
      dom.as("domain"),
      (coalesce(blockedH, lit(false)) || coalesce(blockedD, lit(false)))
        .as("blocked"))
  }

  /** Admit this batch's non-blocked docs under the cumulative cap:
    * per domain, at most `capPerDomain − n_admitted(domain)` docs, in
    * md5 order. `admitted` is the (domain, n_admitted) state —
    * cap-bounded. The batch's candidates are first cut to ≤ cap per
    * domain by the bounded-heap GroupTopK (a hot domain in a huge
    * shard costs cap·partitions, never its doc count); the residual
    * rank window then runs over ≤ cap·|domains| survivors. */
  def admitBatch(
      screened: DataFrame, admitted: DataFrame,
      capPerDomain: Int): DataFrame = {
    require(capPerDomain >= 1, "capPerDomain must be >= 1")
    val cut = graft.plans.GroupTopK.topK(
      screened.filter(!col("blocked"))
        .withColumn("__cap_key", md5(col("id").cast("string"))),
      Seq(col("domain")), Seq(col("__cap_key").asc, col("id").asc),
      capPerDomain)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("domain"))
      .orderBy(col("__cap_key").asc, col("id").asc)
    // Null-SAFE state join: the null domain (unparseable URLs) is a
    // real capped stratum — an equi-join would never match its prior
    // count and the cumulative cap would silently reset every batch.
    // No broadcast hint: `admitted` is O(cap × |domains|) and domain
    // cardinality is data-sized for a crawl, so a forced broadcast
    // could blow the driver; the optimizer broadcasts it when its
    // stats fit autoBroadcastJoinThreshold and shuffles otherwise.
    cut.withColumn("__rk", row_number().over(w))
      .join(admitted.select(col("domain").as("__adom"),
        col("n_admitted")), col("domain") <=> col("__adom"), "left")
      .filter(col("__rk") <= lit(capPerDomain) -
        coalesce(col("n_admitted"), lit(0L)))
      .select(col("id"), col("host"), col("domain"))
  }

  /** Start the screen: parquet-file source under `inputDir` →
    * per-batch screen + cumulative-cap admission → parquet append
    * under `outDir` (admitted docs only: id, host, domain).
    * `Trigger.AvailableNow` drains and stops. */
  def start(
      spark: SparkSession, inputDir: String, schema: StructType,
      idCol: Column, urlCol: Column,
      blockedHosts: Seq[String], blockedDomains: Seq[String],
      multiPartTlds: Seq[String], capPerDomain: Int,
      outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    ParquetScreen.start(spark, inputDir, schema, checkpointDir, trigger) { (batch, _) =>
      val screened = screenBatch(batch, idCol, urlCol,
        blockedHosts, blockedDomains, multiPartTlds)
      // The sink IS the state: cap-bounded, so this read is cheap
      // every batch (empty on the first). The existence check goes
      // through the Hadoop FileSystem API, not java.io.File — outDir
      // can be any supported filesystem (HDFS/S3/local URI); a
      // local-only check would silently skip the prior-admissions
      // read on remote storage and reset the cumulative cap per batch.
      val outPath = new org.apache.hadoop.fs.Path(outDir)
      val fs = outPath.getFileSystem(spark.sessionState.newHadoopConf())
      val admitted =
        if (fs.exists(outPath))
          spark.read.parquet(outDir)
            .groupBy(col("domain")).agg(count(lit(1)).as("n_admitted"))
        else
          spark.emptyDataFrame
            .select(lit("").as("domain"), lit(0L).as("n_admitted"))
            .limit(0)
      admitBatch(screened, admitted, capPerDomain)
        .write.mode(SaveMode.Append).parquet(outDir)
    }
}
