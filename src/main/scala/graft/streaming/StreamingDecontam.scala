package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.Dedup

/** Streaming decontamination screen: score every arriving training-data
  * shard's documents for n-gram overlap against a static reference
  * (benchmark/eval) corpus whose distinct shingles were folded into a
  * Bloom filter ONCE — the streaming form of
  * [[graft.operators.Dedup.crossCorpusOverlapBloom]], completing the
  * decontamination family (batch exact q43, batch Bloom q76, streaming
  * here).
  *
  * The filter bytes are built once on the driver (from the batch
  * operator's own build path) and captured by the per-batch closure, so
  * each micro-batch pays ONE map-side codegen'd probe pass — the
  * reference corpus is never rescanned, never joined, never broadcast
  * per batch. Same `foreachBatch` zero-streaming-state design as
  * [[StreamingDedup]] (no watermark, no state store; restart recovery
  * via checkpointed offsets + append). As there, `foreachBatch` +
  * parquet append is exactly-once only WITHIN a batch id: a crash after
  * a partial sink write replays the whole batch on restart and can
  * duplicate flagged rows — downstream consumers dedupe on doc id, or
  * write per-batch output under a batchId-keyed path for idempotent
  * replay. The per-batch arithmetic IS
  * the batch operator's probe side, so stream ≡ batch by construction —
  * pinned in StreamingDecontamSpec. One-sided error inherited from the
  * screen: overlap can be inflated by the Bloom fpp, never deflated; the
  * exact path is the confirmation pass on whatever this flags.
  */
object StreamingDecontam {

  /** The probe-side scoring IS the batch operator's probe half
    * ([[Dedup.crossCorpusOverlapWithBloom]]) — one definition, so
    * stream ≡ batch by construction: (id, n_sh, n_hit, overlap). */
  def scoreBatch(
      batch: DataFrame, idCol: Column, textCol: Column,
      filterBytes: Array[Byte], n: Int): DataFrame =
    Dedup.crossCorpusOverlapWithBloom(batch, idCol, textCol, filterBytes, n)

  /** Start the screen: parquet-file source under `inputDir` → per-batch
    * Bloom-probed overlap scores → parquet append under `outDir`.
    * `minOverlap` keeps the sink to the suspicious slice (0.0 keeps
    * every doc's score). `Trigger.AvailableNow` drains and stops. */
  def start(
      spark: SparkSession, inputDir: String, schema: StructType,
      idCol: Column, textCol: Column,
      filterBytes: Array[Byte], n: Int, minOverlap: Double,
      outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    ParquetScreen.start(spark, inputDir, schema, checkpointDir, trigger) { (batch, _) =>
      scoreBatch(batch, idCol, textCol, filterBytes, n)
        .filter(col("overlap") >= minOverlap)
        .write.mode(SaveMode.Append).parquet(outDir)
    }
}
