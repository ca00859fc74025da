package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Dedup

class StreamingDecontamSpec extends SparkSpec {
  import spark.implicits._

  // Reference (benchmark) corpus and arriving training shards: shard
  // doc 0 IS benchmark doc 100 (overlap 1.0), doc 1 contains half of
  // benchmark 103's run, docs 2/3 are clean.
  private val benchRows = Seq(
    (100L, "the quick brown fox jumps over the lazy dog near the river bank at dawn today"),
    (103L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
  private val shardRows = Seq(
    Seq((0L, "the quick brown fox jumps over the lazy dog near the river bank at dawn today"),
        (1L, "our model saw alpha beta gamma delta epsilon during training last week")),
    Seq((2L, "nothing from any benchmark appears in this clean document"),
        (3L, "another clean training document with entirely fresh words")))

  test("streaming Bloom screen equals the batch operator, keeps no state, never misses") {
    val root = tempDir("streamdecon")
    val inDir = s"$root/in"
    val outDir = s"$root/out"
    val ckDir = s"$root/ck"
    val bench = benchRows.toDF("doc_id", "text")
    // Built ONCE — the exact bytes both the stream and the batch
    // comparison probe (stream ≡ batch shares the filter by construction).
    val bf = Dedup.referenceBloom(bench, col("text"), n = 3)
    shardRows.head.toDF("doc_id", "text").write.parquet(inDir)
    val schema = spark.read.parquet(inDir).schema
    def run(): Unit = {
      val q = StreamingDecontam.start(spark, inDir, schema,
        col("doc_id"), col("text"), bf, n = 3, minOverlap = 0.0,
        outDir = outDir, checkpointDir = ckDir)
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
    val got = spark.read.parquet(outDir)
      .collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got.keySet == Set(0L, 1L, 2L, 3L), got.keySet)
    // stream ≡ batch (same filter bytes, same probe arithmetic)
    val batch = Dedup.crossCorpusOverlapWithBloom(
        shardRows.flatten.toDF("doc_id", "text"), col("doc_id"), col("text"),
        bf, n = 3)
      .collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got == batch, s"stream=$got batch=$batch")
    // One-sided error vs the EXACT overlap: bloom hits >= exact hits per
    // doc (false positives possible, false negatives impossible).
    val exact = Dedup.crossCorpusOverlap(
        shardRows.flatten.toDF("doc_id", "text"), col("doc_id"), col("text"),
        bench, col("text"), n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    got.foreach { case (id, (_, nHit, _)) =>
      assert(nHit >= exact(id), s"bloom missed hits for doc $id")
    }
    // The planted contamination is found at full overlap.
    assert(got(0L)._3 == 1.0, got(0L))
    assert(got(1L)._2 > 0L, "partial benchmark run must register hits")
  }
}
