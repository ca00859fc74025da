package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

class StreamingRedactSpec extends SparkSpec {
  import spark.implicits._

  private val shardRows = Seq(
    Seq((0L, "contact alice@example.org or call 555-123-4567 today"),
        (1L, "server at 10.0.0.7 and backup at 192.168.1.200")),
    Seq((2L, "a perfectly clean document with no identifiers"),
        (3L, "bob.smith+x@mail.co wrote from 172.16.0.9 at 555.000.1111")))

  test("streaming redaction screen equals the batch projection, keeps no state") {
    val root = tempDir("streamredact")
    val inDir = s"$root/in"
    val outDir = s"$root/out"
    val ckDir = s"$root/ck"
    shardRows.head.toDF("doc_id", "text").write.parquet(inDir)
    val schema = spark.read.parquet(inDir).schema
    def run(): Unit = {
      val q = StreamingRedact.start(spark, inDir, schema,
        col("doc_id"), col("text"), outDir = outDir, checkpointDir = ckDir)
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
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    val got = asMap(spark.read.parquet(outDir))
    assert(got.keySet == Set(0L, 1L, 2L, 3L), got.keySet)
    // stream ≡ batch (one shared projection definition)
    val batch = asMap(StreamingRedact.redactBatch(
      shardRows.flatten.toDF("doc_id", "text"), col("doc_id"), col("text")))
    assert(got == batch, s"stream=$got batch=$batch")
    // spot-check the rewrites themselves
    assert(got(0L) == ((1L, 1L, 0L,
      "contact <EMAIL> or call <PHONE> today")), got(0L))
    assert(got(1L) == ((0L, 0L, 2L,
      "server at <IP> and backup at <IP>")), got(1L))
    assert(got(2L) == ((0L, 0L, 0L,
      "a perfectly clean document with no identifiers")), got(2L))
    assert(got(3L) == ((1L, 1L, 1L,
      "<EMAIL> wrote from <IP> at <PHONE>")), got(3L))
  }
}
