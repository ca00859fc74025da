package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Ranking

class StreamingScoreSpec extends SparkSpec {
  import spark.implicits._

  private val shardRows = Seq(
    Seq((0L, "cat cat dog"), (1L, "the quick brown fox")),
    Seq((2L, null.asInstanceOf[String]), (3L, "dog dog dog dog")))

  test("streaming quality screen equals the batch scorer, keeps no state") {
    val root = tempDir("streamscore")
    val inDir = s"$root/in"
    val outDir = s"$root/out"
    val ckDir = s"$root/ck"
    shardRows.head.toDF("doc_id", "text").write.parquet(inDir)
    val schema = spark.read.parquet(inDir).schema
    def run(): Unit = {
      val q = StreamingScore.start(spark, inDir, schema,
        col("doc_id"), col("text"), nBuckets = 8, seed = "s",
        bias = 0.0, threshold = 0.5, outDir = outDir, checkpointDir = ckDir)
      try {
        q.awaitTermination()
        assert(q.lastProgress == null ||
          q.lastProgress.stateOperators.isEmpty,
          "foreachBatch screen must keep no streaming state")
      } finally q.stop()
    }
    run()
    shardRows(1).toDF("doc_id", "text").write.mode("append").parquet(inDir)
    run() // restart drains the second shard via the checkpoint
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0),
        (r.getLong(1), r.getDouble(2), r.getBoolean(3))))
      .toMap
    val got = asMap(spark.read.parquet(outDir))
    assert(got.keySet == Set(0L, 1L, 2L, 3L), got.keySet)
    // stream ≡ batch: batch-boundary placement must not change a score
    // (scoring is per-doc — no cross-batch statistics by design).
    val batch = asMap(Ranking.hashedLinearScore(
      shardRows.flatten.toDF("doc_id", "text"), col("doc_id"), col("text"),
      nBuckets = 8, seed = "s", bias = 0.0, threshold = 0.5))
    assert(got == batch, s"stream=$got batch=$batch")
    // the null-text doc is scored at the boundary, not dropped
    assert(got(2L) == ((0L, 0.0, true)), got(2L))
  }
}
