package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.Ranking

/** Streaming model-based quality screen: score every arriving
  * training-data shard's documents with the hashed-feature linear
  * classifier ([[Ranking.hashedLinearScore]] — q130's surface) and
  * append (id, n_tokens, z, keep) — the streaming form of the
  * model-based filter, completing the quality-scoring modality the way
  * [[StreamingRedact]] completes redaction.
  *
  * Scoring is per-document (the margin touches only the doc's own
  * tokens and the seed-derived weight table), so stream ≡ batch needs
  * NO cross-batch state: per-batch work is one tokenize + (doc, term)
  * aggregation + the parameter-sized broadcast weight join, all
  * batch-local. Same `foreachBatch` zero-streaming-state design as
  * [[StreamingRedact]] (no watermark, no state store; restart recovery
  * via checkpointed offsets + append), and the same at-least-once
  * caveat: a crash after a partial sink write replays the batch —
  * downstream dedupes on id or keys paths by batchId. The per-batch
  * arithmetic IS the batch operator — one definition, so stream ≡
  * batch by construction, pinned in StreamingScoreSpec. */
object StreamingScore {

  /** The scoring projection shared by stream and batch callers:
    * (id, n_tokens, z, keep) — exactly [[Ranking.hashedLinearScore]],
    * unmaterialized (each micro-batch is consumed once, straight into
    * the sink; a pin would only add checkpoint traffic). */
  def scoreBatch(
      batch: DataFrame, idCol: Column, textCol: Column,
      nBuckets: Int, seed: String, bias: Double,
      threshold: Double): DataFrame =
    Ranking.hashedLinearScore(batch, idCol, textCol, nBuckets, seed,
      bias, threshold, materialize = false)

  /** Start the screen: parquet-file source under `inputDir` → per-batch
    * scoring → parquet append under `outDir`. `Trigger.AvailableNow`
    * drains and stops. */
  def start(
      spark: SparkSession, inputDir: String, schema: StructType,
      idCol: Column, textCol: Column,
      nBuckets: Int, seed: String, bias: Double, threshold: Double,
      outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    ParquetScreen.start(spark, inputDir, schema, checkpointDir, trigger) { (batch, _) =>
      scoreBatch(batch, idCol, textCol, nBuckets, seed, bias, threshold)
        .write.mode(SaveMode.Append).parquet(outDir)
    }
}
