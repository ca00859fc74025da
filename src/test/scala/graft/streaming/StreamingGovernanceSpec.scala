package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Split

class StreamingGovernanceSpec extends SparkSpec {
  import spark.implicits._

  private val blockedHosts = Seq("bad.example.com")
  private val blockedDomains = Seq("spam.net")
  private val tlds = Seq("co.uk")

  // Shard 1: example.com has three eligible docs (cap 2 admits two in
  // md5 order), spam.net is domain-blocked, bad.example.com
  // host-blocked, one unparseable URL (null domain).
  private val shard1 = Seq(
    (1L, "https://www.example.com/a"),
    (2L, "https://m.example.com/b"),
    (3L, "https://www.example.com/c"),
    (4L, "https://cdn.spam.net/d"),
    (5L, "https://bad.example.com/e"),
    (6L, "not a url"))
  // Shard 2: more example.com docs (cap already full), a fresh domain,
  // a second null-domain doc, and another blocked doc.
  private val shard2 = Seq(
    (7L, "https://www.example.com/f"),
    (8L, "https://news.daily.co.uk/g"),
    (9L, "also not a url"),
    (10L, "https://mirror.spam.net/h"))

  private def run(inDir: String, outDir: String, ckDir: String,
      schema: org.apache.spark.sql.types.StructType, cap: Int): Unit = {
    val q = StreamingGovernance.start(spark, inDir, schema,
      col("doc_id"), col("url"), blockedHosts, blockedDomains, tlds,
      capPerDomain = cap, outDir = outDir, checkpointDir = ckDir)
    try {
      q.awaitTermination()
      assert(q.lastProgress == null ||
        q.lastProgress.stateOperators.isEmpty,
        "foreachBatch screen must keep no streaming state")
    } finally q.stop()
  }

  test("single drain admits exactly the batch cap operator's kept set " +
    "under the two-level blocklist") {
    val root = tempDir("streamgov")
    val (inDir, outDir, ckDir) = (s"$root/in", s"$root/out", s"$root/ck")
    (shard1 ++ shard2).toDF("doc_id", "url").write.parquet(inDir)
    val schema = spark.read.parquet(inDir).schema
    run(inDir, outDir, ckDir, schema, cap = 2)
    val got = spark.read.parquet(outDir).collect()
      .map(r => r.getLong(0)).toSet
    // Batch reference: the shared screen + capPerStratum on the full
    // corpus (one drain ⇒ identical admitted set by construction).
    val screened = StreamingGovernance.screenBatch(
      (shard1 ++ shard2).toDF("doc_id", "url"), col("doc_id"),
      col("url"), blockedHosts, blockedDomains, tlds)
    val batchKept = Split.capPerStratum(
        screened.filter(!col("blocked")), col("domain"), col("id"), 2)
      .collect().map(_.getAs[Long]("id")).toSet
    assert(got == batchKept, s"stream=$got batch=$batchKept")
    // Blocked docs are never admitted; the null domain is a real
    // capped stratum (2 unparseable docs exist, cap 2 keeps both).
    assert(!got.contains(4L) && !got.contains(5L) && !got.contains(10L))
    assert(got.contains(6L) && got.contains(9L))
  }

  test("cumulative cap across batches: earlier arrivals hold their " +
    "slots, fresh domains still admit") {
    val root = tempDir("streamgov2")
    val (inDir, outDir, ckDir) = (s"$root/in", s"$root/out", s"$root/ck")
    shard1.toDF("doc_id", "url").write.parquet(inDir)
    val schema = spark.read.parquet(inDir).schema
    run(inDir, outDir, ckDir, schema, cap = 2)
    val afterFirst = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) null else r.getString(2)))
    // Shard 1: two of the three example.com docs (md5 order), the one
    // null-domain doc — blocked docs out.
    val exDocs1 = afterFirst.filter(_._2 == "example.com").map(_._1).toSet
    assert(exDocs1.size == 2 && exDocs1.subsetOf(Set(1L, 2L, 3L)))
    assert(afterFirst.map(_._1).toSet.contains(6L))

    shard2.toDF("doc_id", "url").write.mode("append").parquet(inDir)
    run(inDir, outDir, ckDir, schema, cap = 2)
    val afterSecond = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) null else r.getString(2)))
    // example.com was full after shard 1: doc 7 must NOT displace the
    // earlier admissions even though md5 order might prefer it.
    assert(afterSecond.filter(_._2 == "example.com").map(_._1).toSet
      == exDocs1, "cap already full — earlier arrivals keep their slots")
    // Fresh domain admits; second null-domain doc fills the null
    // stratum's remaining slot; blocked doc 10 stays out.
    val ids = afterSecond.map(_._1).toSet
    assert(ids.contains(8L) && ids.contains(9L) && !ids.contains(10L))
    // No domain ever exceeds the cap.
    afterSecond.groupBy(_._2).foreach { case (d, rows) =>
      assert(rows.length <= 2, s"domain $d over cap: ${rows.toSeq}")
    }
  }
}
