package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.functions.TextFunctions

/** Streaming PII-redaction screen: scrub every arriving training-data
  * shard's documents ([[TextFunctions.redactPii]] — emails, phones,
  * IPv4s to typed placeholders) and record per-class match counts —
  * the streaming form of the q84 surface, completing the redaction
  * modality the way [[StreamingDecontam]] completes decontamination
  * (batch q43/q76, streaming screen here).
  *
  * Per-batch work is ONE codegen'd projection (three global
  * `regexp_replace` passes + three `regexp_count`s) — no join, no
  * reference data, nothing to broadcast. Same `foreachBatch`
  * zero-streaming-state design as [[StreamingDedup]] (no watermark, no
  * state store; restart recovery via checkpointed offsets + append).
  * As there, `foreachBatch` + parquet append is exactly-once only
  * WITHIN a batch id: a crash after a partial sink write replays the
  * whole batch on restart and can duplicate output rows — downstream
  * consumers dedupe on doc id, or point each batch at a batchId-keyed
  * path for idempotent replay. The per-batch arithmetic IS the batch
  * operator's projection — one definition, so stream ≡ batch by
  * construction, pinned in StreamingRedactSpec.
  */
object StreamingRedact {

  /** The redaction projection shared by stream and batch callers:
    * (id, n_email, n_phone, n_ip, text_redacted). Counts are over the
    * ORIGINAL text (q84's contract). */
  def redactBatch(batch: DataFrame, idCol: Column, textCol: Column): DataFrame =
    batch.select(idCol.as("id"),
      TextFunctions.emailCount(textCol).cast("long").as("n_email"),
      TextFunctions.phoneCount(textCol).cast("long").as("n_phone"),
      TextFunctions.ipv4Count(textCol).cast("long").as("n_ip"),
      TextFunctions.redactPii(textCol).as("text_redacted"))

  /** Start the screen: parquet-file source under `inputDir` → per-batch
    * redaction projection → parquet append under `outDir`.
    * `Trigger.AvailableNow` drains and stops. */
  def start(
      spark: SparkSession, inputDir: String, schema: StructType,
      idCol: Column, textCol: Column,
      outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    ParquetScreen.start(spark, inputDir, schema, checkpointDir, trigger) { (batch, _) =>
      redactBatch(batch, idCol, textCol)
        .write.mode(SaveMode.Append).parquet(outDir)
    }
}
