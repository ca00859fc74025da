package graft.streaming

import org.apache.spark.sql.{Column, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.{Dedup, Materialize}

/** Incremental near-dup flagging of a document stream against a static
  * reference corpus — the streaming form of the dedup family: every
  * arriving shard is MinHash-banded and verified against the
  * [[graft.operators.Dedup.CorpusIndex]] (built once, persisted), and the
  * verified pairs are APPENDED to a parquet sink.
  *
  * Deliberately `foreachBatch`, not a stateful streaming join: the
  * reference corpus is static (stream-static joins re-plan the static
  * side per batch — the persisted index makes that a cache read), the
  * per-batch work is the plain batch operator (so stream ≡ batch by
  * construction, pinned in StreamingDedupSpec), and the query keeps ZERO
  * streaming state — no watermark bookkeeping, no state store, restart
  * recovery via checkpointed source offsets + idempotent-enough append
  * (exactly-once within a batch id, the standard foreachBatch contract).
  * New-vs-new duplicates inside one shard are the batch
  * [[graft.operators.Dedup.dedupCorpus]]'s half of the job; this operator
  * owns new-vs-corpus.
  */
object StreamingDedup {

  /** Start the ingest-dedup stream: parquet-file source under
    * `inputDir` → per-batch [[Dedup.nearDupAgainstIndex]] → parquet
    * append under `outDir`. `Trigger.AvailableNow` drains what exists
    * and stops (the nightly-shard shape); pass a processing-time trigger
    * for a resident ingest daemon. `index` composes with the DURABLE
    * lifecycle: a [[graft.operators.Dedup.loadCorpusIndex]] handle over
    * the bucketed tables plugs in directly (the weeks-old-index daemon
    * shape, gated stream ≡ batch in StreamingDedupSpec), and nightly
    * [[graft.operators.Dedup.appendToCorpusIndex]] growth is picked up
    * on the daemon's next restart/reload. */
  def start(
      spark: SparkSession, inputDir: String, schema: StructType,
      idCol: Column, textCol: Column,
      index: Dedup.CorpusIndex, threshold: Double,
      outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    ParquetScreen.start(spark, inputDir, schema, checkpointDir, trigger) { (batch, _) =>
      // Cache the batch rows once; the operator's shingle relation is
      // computed from them twice (banded + verify side) and caching
      // INSIDE the operator would leak one cache entry per micro-batch.
      Materialize.persisting(batch) { rows =>
        Dedup.nearDupAgainstIndex(
            rows, idCol, textCol, index, threshold, persistNewRel = false)
          .write.mode(SaveMode.Append).parquet(outDir)
      }
    }
}
