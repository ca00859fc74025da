package graft.streaming

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The runner every parquet-source screen starts through: the files
  * under `inputDir` read with `schema`, each micro-batch handed to
  * `batch` with its id, source offsets checkpointed under
  * `checkpointDir`. */
private[streaming] object ParquetScreen {
  def start(
      spark: SparkSession, inputDir: String, schema: StructType,
      checkpointDir: String, trigger: Trigger)(
      batch: (Dataset[Row], Long) => Unit): StreamingQuery =
    spark.readStream.schema(schema).parquet(inputDir)
      .writeStream
      .foreachBatch(batch)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
}
