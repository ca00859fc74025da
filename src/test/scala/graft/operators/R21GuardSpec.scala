package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

/** Round-21 guard fixes (r20 VERDICT "what's wrong" items 2 and 4):
  * the disabled-sampling fit path must refuse an over-cap driver
  * collect instead of OOMing, and [[Similarity.inParallel]] must carry
  * every concurrent failure on the thrown error as suppressed
  * exceptions instead of dropping all but the lowest-index one. */
class R21GuardSpec extends SparkSpec {

  test("inParallel: lowest-index error thrown, others suppressed") {
    val e1 = new RuntimeException("guard-a")
    val e2 = new IllegalStateException("guard-b")
    val thrown = intercept[RuntimeException] {
      Similarity.inParallel(
        () => throw e1,
        () => (), // a succeeding task contributes nothing
        () => throw e2)
    }
    assert(thrown eq e1, "the lowest-index failure keeps precedence")
    assert(thrown.getSuppressed.toSeq == Seq(e2),
      "every other concurrent failure rides along as suppressed")
    // Single failure: nothing suppressed (no self-suppression).
    val solo = intercept[IllegalStateException] {
      Similarity.inParallel(() => (), () => throw e2)
    }
    assert(solo.getSuppressed.isEmpty)
  }

  test("inParallel: results come back in task order") {
    // Later tasks finish first: the order is the tasks', not completion's.
    val got = Similarity.inParallel((0 until 6).map { i =>
      () => { Thread.sleep((6 - i) * 20L); i * i }
    }: _*)
    assert(got == Seq(0, 1, 4, 9, 16, 25))
    assert(Similarity.inParallel[Int]().isEmpty)
  }

  test("fitSampleRows <= 0 refuses an over-cap whole-corpus collect") {
    val emb = Tables.embeddings(spark, sf)
    val corpus = emb.filter(col("vec_id") =!= 0)
    val n = corpus.count()
    spark.conf.set("graft.fit.maxCollectRows", (n - 1).toString)
    try {
      val err = intercept[IllegalArgumentException] {
        Similarity.pqIndex(corpus, col("vec_id"), col("embedding"),
          m = 16, ksub = 16, iters = 1, fitSampleRows = 0L)
      }
      assert(err.getMessage.contains("graft.fit.maxCollectRows"),
        s"guard must name the cap conf: ${err.getMessage}")
    } finally spark.conf.unset("graft.fit.maxCollectRows")
    // Under the cap the disabled-sampling path still works (the
    // standing IndexLifecycleSpec bit-identity test covers semantics).
    val (cbs, enc) = Similarity.pqIndex(corpus, col("vec_id"),
      col("embedding"), m = 16, ksub = 16, iters = 1, fitSampleRows = 0L)
    assert(cbs.nonEmpty && enc.count() == n)
  }
}
