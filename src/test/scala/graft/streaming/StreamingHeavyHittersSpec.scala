package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.expressions.MisraGriesTopK.Kernel

class StreamingHeavyHittersSpec extends SparkSpec {
  import spark.implicits._

  // Skewed two-shard feed: "hot" dominates both shards, "warm" only the
  // second; plenty of singleton noise to force evictions at capacity 4.
  private val shard1 = Seq(
    (0L, "hot hot hot hot warm n1 n2"),
    (1L, "hot hot n3 n4 n5"))
  private val shard2 = Seq(
    (2L, "hot warm warm warm n6 n7"),
    (3L, "hot hot warm warm n8 n9 n10"))

  private def exactCounts(rows: Seq[(Long, String)]): Map[String, Long] =
    rows.flatMap(_._2.toLowerCase.trim.split("\\s+"))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap

  test("bucket-sharded MG screen: candidates contain every true heavy " +
      "hitter across restarts, state stays <= capacity per bucket") {
    val root = tempDir("streamhh")
    val inDir = s"$root/in"
    val outDir = s"$root/out"
    val ckDir = s"$root/ck"
    val capacity = 4
    val nBuckets = 2
    shard1.toDF("doc_id", "text").write.parquet(inDir)
    val schema = spark.read.parquet(inDir).schema
    def run(): Unit = {
      val q = StreamingHeavyHitters.start(spark, inDir, schema,
        col("text"), capacity, nBuckets, outDir, ckDir)
      try q.awaitTermination() finally q.stop()
    }
    run()
    shard2.toDF("doc_id", "text").write.mode("append").parquet(inDir)
    run() // restart resumes MG state from the checkpoint

    val snaps = spark.read.parquet(outDir)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // per-bucket capacity bound on every emitted snapshot
    snaps.groupBy(s => (s._1, s._4)).foreach { case (key, rows) =>
      assert(rows.length <= capacity, s"snapshot $key exceeds capacity")
    }
    // one-sided guarantee over the FULL prefix: every term with global
    // freq > N_bucket/(capacity+1) (bucket-local N — the stronger form)
    // is in the bucket's final snapshot
    val candidates = StreamingHeavyHitters
      .latestCandidates(spark, outDir).collect().toSet
    val exact = exactCounts(shard1 ++ shard2)
    val bucketN = snaps.groupBy(_._1).view.mapValues(_.map(_._4).max).toMap
    val bucketOf = snaps.map(s => s._2 -> s._1).toMap
    exact.foreach { case (term, f) =>
      // terms never emitted have no bucket row; derive the bound from
      // the total N across buckets for those (weaker but sufficient)
      val n = bucketOf.get(term).flatMap(bucketN.get)
        .getOrElse(bucketN.values.sum)
      if (f > n / (capacity + 1))
        assert(candidates.contains(term),
          s"heavy hitter $term (freq $f) missing from $candidates")
    }
    assert(candidates.contains("hot") && candidates.contains("warm"))

    // lower-bound contract: no emitted count exceeds the true count at
    // the time of its snapshot — final snapshots vs full-prefix truth
    val finalRows = snaps.filter(s => bucketN(s._1) == s._4)
    finalRows.foreach { case (_, term, lb, _) =>
      assert(lb <= exact.getOrElse(term, 0L), s"$term overestimated: $lb")
    }
  }

  test("foldTerms over one prefix equals the batch kernel run in " +
      "arrival order (one definition of the arithmetic)") {
    val terms = (shard1 ++ shard2).flatMap(_._2.split("\\s+"))
    val viaStream = StreamingHeavyHitters.foldTerms(
      StreamingHeavyHitters.MgState(Map.empty, 0L), terms.iterator, 4)
    val ref = mutable.HashMap.empty[String, Long]
    terms.foreach(t => Kernel.update(ref, t, 4))
    assert(viaStream.counts == ref.toMap)
    assert(viaStream.n == terms.size.toLong)
  }
}
