package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.CorpusStats

class StreamingKAnonymitySpec extends SparkSpec {
  import spark.implicits._

  // Two shards; ("a", 1) is risky after shard 1 (count 3 < 5) and must
  // LEAVE the audit once shard 2 pushes it to 6; ("b", 2) stays risky.
  private val shard1 = Seq.fill(3)(("a", 1)) ++ Seq.fill(4)(("b", 1))
  private val shard2 = Seq.fill(3)(("a", 1)) ++ Seq(("b", 1), ("b", 2))

  test("streaming under-k audit equals the batch audit; risky combos heal") {
    val root = tempDir("streamkanon")
    val inDir = s"$root/in"
    shard1.toDF("grp", "sub").write.parquet(inDir)
    val schema = spark.read.parquet(inDir).schema
    val qids = Seq("grp" -> col("grp"), "sub" -> col("sub"))
    def drain(name: String): Unit = {
      val q = StreamingKAnonymity.start(spark, inDir, schema, qids, name)
      try q.awaitTermination() finally q.stop()
    }
    def auditSet(name: String) =
      StreamingKAnonymity.audit(spark, name, k = 5).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    def batchSet(rows: Seq[(String, Int)]) =
      CorpusStats.kAnonymity(rows.toDF("grp", "sub"), qids, k = 5)
        .collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet

    drain("kanon1")
    val after1 = auditSet("kanon1")
    assert(after1 == batchSet(shard1))
    assert(after1.contains(("a", 1, 3L)) && after1.contains(("b", 1, 4L)))

    shard2.toDF("grp", "sub").write.mode("append").parquet(inDir)
    drain("kanon2") // fresh query re-reads everything available
    val after2 = auditSet("kanon2")
    assert(after2 == batchSet(shard1 ++ shard2))
    // ("a",1) reached 6 >= k: healed out; ("b",1) at 5: healed;
    // ("b",2) stays at 1 < k.
    assert(!after2.exists(t => t._1 == "a"))
    assert(after2 == Set(("b", 2, 1L)))
  }
}
