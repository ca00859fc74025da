package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Dedup

class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  // Reference corpus (ids 100+) and three "arriving" shards (ids 0-5):
  // 0 exact-dups corpus 100, 1 near-dups it (last word changed,
  // jaccard 18/20), 3 exact-dups corpus 103; 2 and 5 are unrelated, and
  // 4 is corpus 103's words REVERSED — word-order-sensitive 3-gram
  // shingles share nothing, so it must NOT pair (the negative control
  // that distinguishes shingle dedup from bag-of-words dedup).
  private val corpusRows = Seq(
    (100L, "the quick brown fox jumps over the lazy dog while the sun sets behind quiet hills and birds sing softly tonight"),
    (101L, "completely different reference content about catalyst plans and codegen stages"),
    (102L, "a third unrelated corpus document mentioning watermarks and state stores"),
    (103L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
  private val shardRows = Seq(
    Seq((0L, "the quick brown fox jumps over the lazy dog while the sun sets behind quiet hills and birds sing softly tonight"),
        (1L, "the quick brown fox jumps over the lazy dog while the sun sets behind quiet hills and birds sing softly today")),
    Seq((2L, "nothing in common with anything stored so far"),
        (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")),
    Seq((4L, "kappa iota theta eta zeta epsilon delta gamma beta alpha"),
        (5L, "another novel document with fresh words only")))

  test("streaming shard-vs-corpus near-dup equals the batch operator, with zero streaming state") {
    val root = tempDir("sd")
    val inDir = s"$root/in"
    val outDir = s"$root/out"
    val ckDir = s"$root/ck"
    val corpus = corpusRows.toDF("doc_id", "text")
    val index = Dedup.corpusIndex(corpus, col("doc_id"), col("text"))
    // Land shard 1 before start; 2 and 3 arrive while the query drains
    // (AvailableNow picks up files present at start; restart drains the
    // rest via the checkpoint — exercising the resume path too).
    shardRows.head.toDF("doc_id", "text").write.parquet(inDir)
    val schema = spark.read.parquet(inDir).schema
    def run(): Unit = {
      val q = StreamingDedup.start(spark, inDir, schema,
        col("doc_id"), col("text"), index, threshold = 0.8,
        outDir = outDir, checkpointDir = ckDir)
      try {
        q.awaitTermination()
        assert(q.lastProgress == null ||
          q.lastProgress.stateOperators.isEmpty,
          "foreachBatch dedup must keep no streaming state")
      } finally q.stop()
    }
    run()
    shardRows(1).toDF("doc_id", "text").write.mode("append").parquet(inDir)
    shardRows(2).toDF("doc_id", "text").write.mode("append").parquet(inDir)
    run()
    val got = spark.read.parquet(outDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = Dedup.nearDupAgainstIndex(
        shardRows.flatten.toDF("doc_id", "text"), col("doc_id"), col("text"),
        index, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == batch, s"stream=$got batch=$batch")
    // The planted expectations: exact dups and the one-word near-dup hit
    // their corpus twins; unrelated docs AND the reversed-word doc are
    // absent.
    assert(got.map(p => (p._1, p._2)) ==
      Set((0L, 100L), (1L, 100L), (3L, 103L)))
    assert(got.find(_._1 == 0L).get._3 == 1.0)
    assert(got.find(_._1 == 1L).get._3 == 0.9)
    index.unpersist()
  }

  test("streaming over a RELOADED durable index: fresh-session handle, stream ≡ batch") {
    // The production shape: the index was written by LAST week's build
    // job; the resident ingest daemon holds only a loadCorpusIndex
    // handle over the bucketed tables. The stream's per-batch probe must
    // equal the batch operator run with the same reloaded handle (and,
    // via IndexLifecycleSpec's bit-equal gate, the original build).
    val prefix = s"graft_idx_sd_$runId"
    val built = Dedup.corpusIndex(
      corpusRows.toDF("doc_id", "text"), col("doc_id"), col("text"))
    Dedup.writeCorpusIndex(built, prefix, buckets = 2)
    built.unpersist()

    val fresh = spark.newSession()
    val loaded = Dedup.loadCorpusIndex(fresh, prefix)
    val root = tempDir("sd_reload")
    val inDir = s"$root/in"
    shardRows.flatten.toDF("doc_id", "text").write.parquet(inDir)
    val schema = fresh.read.parquet(inDir).schema
    val q = StreamingDedup.start(fresh, inDir, schema,
      col("doc_id"), col("text"), loaded, threshold = 0.8,
      outDir = s"$root/out", checkpointDir = s"$root/ck")
    try q.awaitTermination() finally q.stop()
    val got = fresh.read.parquet(s"$root/out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = Dedup.nearDupAgainstIndex(
        shardRows.flatten.toDF("doc_id", "text"), col("doc_id"),
        col("text"), loaded, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == batch, s"stream=$got batch=$batch")
    assert(got.map(p => (p._1, p._2)) ==
      Set((0L, 100L), (1L, 100L), (3L, 103L)))
  }
}
