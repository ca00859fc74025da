package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus = Seq(
    (1L, Array(1.0f, 0.0f)),
    (2L, Array(0.9f, 0.1f)),
    (3L, Array(0.0f, 1.0f)),
    (4L, Array(-1.0f, 0.0f)),
    (5L, Array(0.7f, 0.7f)))
    .toDF("id", "vec")

  test("cosine: exact values on known vectors") {
    val df = Seq((Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
                 (Array(1.0f, 2.0f), Array(2.0f, 4.0f))).toDF("a", "b")
    val got = df.select(VectorFunctions.cosine(col("a"), col("b")))
      .collect().map(_.getDouble(0))
    assert(got(0) == 0.0)
    assert(math.abs(got(1) - 1.0) < 1e-12)
  }

  test("ivfIndex fails fast on ragged embedding widths in the fit sample") {
    // A truncated embedding would otherwise train centroids on the
    // common PREFIX silently (lloydFit's L2 kernels zip to the shorter
    // width) — the pqEncode width discipline, enforced at the sample.
    val ragged = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.5f)),
      (3L, Array(0.0f, 1.0f))).toDF("id", "vec")
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfIndex(ragged, col("id"), col("vec"), nLists = 2)
    }
    assert(e.getMessage.contains("ragged"))
    assert(e.getMessage.contains("1, 2"),
      s"the error should name the observed widths, got: ${e.getMessage}")
  }

  test("parallel Lloyd fit is bit-identical to the single-threaded schedule") {
    // The determinism-vs-throughput gate: the parallel fit may only
    // reorganize SCHEDULE, never float association — per-point work is
    // disjoint-slot, per-cluster sums keep sample order. Gated on a
    // real sample (the q78 fixture corpus), both k regimes.
    val sample = graft.sources.Tables.embeddings(spark, sf)
      .filter(col("vec_id") =!= 0)
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(500)
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1).map(_._2)
    for (k <- Seq(8, 64)) {
      val seq = Similarity.lloydFitImpl(sample, k, iters = 10,
        parallel = false)
      val par = Similarity.lloydFitImpl(sample, k, iters = 10,
        parallel = true)
      assert(seq.length === par.length)
      assert(seq.zip(par).forall { case (a, b) => a.sameElements(b) },
        s"parallel fit diverged from the sequential schedule at k=$k")
    }
  }

  test("bruteForceTopK ranks by cosine, descending") {
    val q = Seq(Tuple1(Array(1.0f, 0.0f))).toDF("qv")
    val got = Similarity.bruteForceTopK(corpus, col("id"), col("vec"), q, 3)
      .collect().map(_.getAs[Long]("id")).toSeq
    assert(got == Seq(1L, 2L, 5L))
  }

  test("bruteForceTopKBatch gives each query its own ranked neighbors") {
    val qs = Seq((1L, Array(1.0f, 0.0f)), (3L, Array(0.0f, 1.0f)))
      .toDF("qid", "qv")
    val got = Similarity.bruteForceTopKBatch(
        corpus, col("id"), col("vec"), qs, col("qid"), col("qv"), 2)
      .collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("id")).toSeq)
      .toMap
    assert(got(1L) == Seq(2L, 5L)) // excludes self
    assert(got(3L) == Seq(5L, 2L))
  }

  test("IVF: nearest posting lists contain the true neighbors") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val (centroids, indexed) = Similarity.ivfIndex(
      emb, col("vec_id"), col("embedding"), nLists = 8)
    assert(centroids.length == 8)
    assert(indexed.select("list").distinct().count() <= 8)
    // exact neighbors of vec 0
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val exact = Similarity.bruteForceTopK(
      emb.filter(col("vec_id") =!= 0), col("vec_id"), col("embedding"), q, 10)
      .collect().map(_.getAs[Long]("id")).toSet
    val qv = emb.filter(col("vec_id") === 0).collect().head
      .getSeq[Float](1).toArray
    // probing ALL lists must recover the exact result (completeness),
    val all = Similarity.ivfTopK(centroids, indexed.filter(col("id") =!= 0),
      qv, k = 10, nProbe = 8).collect().map(_.getAs[Long]("id")).toSet
    assert(all == exact)
    // a partial probe keeps decent recall on this corpus
    val partial = Similarity.ivfTopK(centroids, indexed.filter(col("id") =!= 0),
      qv, k = 10, nProbe = 3).collect().map(_.getAs[Long]("id")).toSet
    assert(partial.intersect(exact).size >= 5,
      s"recall ${partial.intersect(exact).size}/10")
  }

  test("hyperplane bucket: identical vectors share bucket; LSH topK finds them") {
    val emb = Seq(
      (10L, Array.fill(8)(0.5f)),
      (11L, Array.fill(8)(0.5001f)),          // near-identical
      (12L, Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f)))
      .toDF("id", "vec")
    val bucketed = Similarity.bucketize(emb, col("id"), col("vec"), nBits = 8)
    val buckets = bucketed.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("bucket")).toMap
    assert(buckets(10L) == buckets(11L), "near-identical vectors bucket together")
    val q = Seq(Tuple1(Array.fill(8)(0.5f))).toDF("qv")
    val got = Similarity.lshTopK(bucketed, q, k = 2, nBits = 8, probeHamming = 0)
      .collect().map(_.getAs[Long]("id")).toSeq
    assert(got.take(2).toSet == Set(10L, 11L))
  }

  test("recallStats counts exact/approx/hit over the join columns") {
    import spark.implicits._
    val exact = Seq((1L, 0.9), (2L, 0.8), (3L, 0.7)).toDF("id", "sim")
    val approx = Seq((1L, 0.9), (3L, 0.7), (9L, 0.5)).toDF("id", "sim")
    val r = Similarity.recallStats(exact, approx, Seq("id", "sim")).collect().head
    assert((r.getAs[Long]("n_exact"), r.getAs[Long]("n_approx"),
      r.getAs[Long]("n_hit")) == ((3L, 3L, 2L)))
    // id-only join ignores score mismatches
    val r2 = Similarity.recallStats(exact, approx, Seq("id")).collect().head
    assert(r2.getAs[Long]("n_hit") == 2L)
  }

  test("PQ: full-rerank ADC equals exact brute force; codes are one packed long") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") =!= 0)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val qv = q.collect().head.getSeq[Float](0).toArray
    val exact = Similarity.bruteForceTopK(
        corpus, col("vec_id"), col("embedding"), q, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val (cbs, encoded) = Similarity.pqIndex(
      corpus, col("vec_id"), col("embedding"), m = 16, ksub = 16, iters = 2)
    assert(encoded.schema("codes").dataType ==
      org.apache.spark.sql.types.LongType, "one packed long per vector")
    assert(encoded.count() == corpus.count())
    val full = Similarity.pqTopK(cbs, encoded, corpus,
        col("vec_id"), col("embedding"), qv, k = 10, rerankN = 1 << 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full == exact, s"full=$full exact=$exact")
  }

  test("PQ: a vector dim not divisible by m is rejected, not silently truncated") {
    // dsub = ⌊d/m⌋ slices cover only m·dsub components; a mismatched m
    // would drop the trailing dims from ADC scoring while the exact
    // rerank uses the full vector — recall would quietly degrade.
    val vecs = Seq((1L, Seq.fill(10)(1.0f)), (2L, Seq.fill(10)(0.5f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.pqIndex(vecs, col("vec_id"), col("embedding"),
        m = 4, ksub = 2, iters = 1)
    }
    assert(e.getMessage.contains("not divisible"))
  }

  test("PQ: partial-rerank recall holds the q89 floor; encode is deterministic") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") =!= 0)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val qv = q.collect().head.getSeq[Float](0).toArray
    val exactIds = Similarity.bruteForceTopK(
        corpus, col("vec_id"), col("embedding"), q, k = 10)
      .collect().map(_.getLong(0)).toSet
    val (cbs, encoded) = Similarity.pqIndex(
      corpus, col("vec_id"), col("embedding"), m = 16, ksub = 16, iters = 2)
    val partialIds = Similarity.pqTopK(cbs, encoded, corpus,
        col("vec_id"), col("embedding"), qv, k = 10, rerankN = 100)
      .collect().map(_.getLong(0)).toSet
    val recall = exactIds.intersect(partialIds).size / exactIds.size.toDouble
    assert(recall >= 0.5, s"recall=$recall below the q89 contract floor")
    // Determinism: a second fit+encode reproduces codes bit-for-bit.
    val (cbs2, encoded2) = Similarity.pqIndex(
      corpus, col("vec_id"), col("embedding"), m = 16, ksub = 16, iters = 2)
    assert(cbs2.map(c => (c._1, c._2, c._3.toSeq)) ==
      cbs.map(c => (c._1, c._2, c._3.toSeq)))
    val a = encoded.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val b = encoded2.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a == b)
  }

  test("randomProjection: one-hot inputs read the sign matrix back; " +
    "wrong-dim vectors project to null") {
    // v = e_j  =>  out[i] = sign(i, j) / sqrt(outDim), exactly.
    val oneHot = (0 until 4).map { j =>
      (j.toLong, Array.tabulate(4)(d => if (d == j) 1.0f else 0.0f))
    }
    val df = (oneHot :+ (9L, Array(1.0f, 2.0f))).toDF("id", "vec")
    val got = Similarity.randomProjection(
        df, col("id"), col("vec"), inDim = 4, outDim = 3)
      .orderBy("id").collect()
    for (r <- got.take(4); i <- 0 until 3) {
      val j = r.getLong(0).toInt
      assert(r.getSeq[Double](1)(i) ==
        BigDecimal(Similarity.rpSign("rp", i, j) / math.sqrt(3.0))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    assert(got(4).isNullAt(1), "a non-inDim vector must yield null, " +
      "not a silently truncated projection")
  }

  test("hardNegatives: top-k most-similar DIFFERENT-label vectors, " +
    "anchor and same-label rows excluded") {
    val labeled = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.9f, 0.1f), 0),   // same label as anchor: excluded
      (3L, Array(0.8f, 0.2f), 1),   // the hardest negative
      (4L, Array(0.0f, 1.0f), 1),
      (5L, Array(-1.0f, 0.0f), 2))
      .toDF("id", "vec", "lbl")
    val anchors = labeled.filter(col("id") === 1L)
      .select(col("id").as("query_id"), col("vec").as("qv"),
        col("lbl").as("qlabel"))
    val got = Similarity.hardNegatives(
        labeled, col("id"), col("vec"), col("lbl"), anchors, k = 2)
      .collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getInt(3))).toSeq.sortBy(_._1)
    // ranks 1..2 = ids 3 (label 1), then 4 — never 2 (same label) or 1
    assert(got == Seq((1, 3L, 1), (2, 4L, 1)), got.toString)
  }

  test("labelNoiseScreen flags the planted mislabel and nothing else") {
    // two tight clusters; id 5 sits in cluster B but is labeled A
    val labeled = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(0.95f, 0.05f), 0),
      (3L, Array(0.0f, 1.0f), 1), (4L, Array(0.05f, 0.95f), 1),
      (5L, Array(0.0f, 0.9f), 0))
      .toDF("id", "vec", "lbl")
    val got = Similarity.labelNoiseScreen(
        labeled, col("id"), col("lbl"), col("vec"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(got.toSeq == Seq((5L, 0, 1)), got.mkString(","))
  }

  test("truncatedDimRecall: full dim is the recall-1 control row, all " +
    "recalls in [0,1], and a prefix that inverts the order scores < 1") {
    // first component ties everywhere; the second decides the true
    // ranking — so d=1 must miss.
    val c = Seq(
      (1L, Array(1.0f, 0.9f)), (2L, Array(1.0f, 0.1f)),
      (3L, Array(1.0f, 0.85f)), (4L, Array(1.0f, 0.05f)))
      .toDF("id", "vec")
    val q = Seq(Tuple1(Array(1.0f, 1.0f))).toDF("qv")
    val got = Similarity.truncatedDimRecall(
        c, col("id"), col("vec"), q, dims = Seq(1, 2), k = 2)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(got(2) == 1.0, s"full dim must be the control: $got")
    assert(got(1) >= 0.0 && got(1) <= 1.0)
    // d=1: all cosines tie at 1.0, top-2 by id tie-break = {1,2};
    // truth (d=2) = {1,3} -> recall 0.5
    assert(got(1) == 0.5, s"d=1 should half-miss: $got")
  }

  test("truncatedDimRecall: sub-k corpus still reports recall 1 for the " +
    "full-dimension control row (denominator is the truth size, not k)") {
    val c = Seq((1L, Array(1.0f, 0.9f)), (2L, Array(1.0f, 0.1f)))
      .toDF("id", "vec")
    val q = Seq(Tuple1(Array(1.0f, 1.0f))).toDF("qv")
    val got = Similarity.truncatedDimRecall(
        c, col("id"), col("vec"), q, dims = Seq(2), k = 10)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(got(2) == 1.0,
      s"2-row corpus, k=10: truth list has 2 rows and both hit: $got")
  }

  test("projectedTopK: corpus-sized shortlist degenerates to exact " +
    "brute force (completeness gate)") {
    val q = Seq(Tuple1(Array(1.0f, 0.0f))).toDF("qv")
    val exact = Similarity.bruteForceTopK(corpus, col("id"), col("vec"), q, 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val proj = Similarity.projectedTopK(corpus, col("id"), col("vec"), q,
        inDim = 2, outDim = 2, shortlist = 100, k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(proj == exact)
  }

  test("ivfTopK against a loaded index with tombstones runs no job, and equals the one-query batch probe") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val (centroids, indexed) = Similarity.ivfIndex(
      emb.filter(col("vec_id") =!= 0), col("vec_id"), col("embedding"), nLists = 8)
    val root = java.nio.file.Files.createTempDirectory("graft-sim-ivf-")
    val path = root.toString
    try {
      Similarity.writeIvfIndex(centroids, indexed, path)
      Similarity.deleteFromIvfIndex(Seq(1L, 2L, 3L).toDF("id"), col("id"), path)
      val (cents, lists) = Similarity.loadIvfIndex(spark.newSession(), path)
      val q0 = emb.filter(col("vec_id") === 0)
      val qv = q0.select(col("embedding")).collect().head.getSeq[Float](0).toArray
      Similarity.ivfTopK(cents, lists, qv, k = 10, nProbe = 3).collect() // warm
      val (single, jobs) = JobCount(spark)(
        Similarity.ivfTopK(cents, lists, qv, k = 10, nProbe = 3).collect().toSeq)
      // Measured: no job — the pruned list files are read on the driver
      // (PointRead). (As a Spark read it was 1 job; with the query
      // broadcast and the tombstone anti-join it was 3.)
      assert(jobs === 0, s"ivfTopK ran $jobs jobs")
      val batch = Similarity.ivfTopKBatch(cents, lists, q0, col("vec_id"), col("embedding"),
        k = 10, nProbe = 3).orderBy(asc("rank")).select(col("id"), col("sim")).collect().toSeq
      assert(single === batch)
      assert(!single.exists(r => Set(1L, 2L, 3L)(r.getLong(0))))
    } finally SpecScratch.deleteTree(root.toFile)
  }

  test("probe budgets: construction plus collect of each probe") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val corpus = emb.filter(col("vec_id") =!= 0)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val qv = q.collect().head.getSeq[Float](0).toArray
    val queries = emb.filter(col("vec_id") < 5)
    val anchors = emb.filter(col("vec_id") < 10).select(col("vec_id").as("query_id"),
      col("embedding").as("qv"), col("label").as("qlabel"))
    val (id, vec, label) = (col("vec_id"), col("embedding"), col("label"))
    val root = java.nio.file.Files.createTempDirectory("graft-sim-budget-")
    try {
      val (centroids, indexed) = Similarity.ivfIndex(corpus, id, vec, nLists = 8)
      Similarity.writeIvfIndex(centroids, indexed, s"$root/ivf")
      val (cents, lists) = Similarity.loadIvfIndex(spark, s"$root/ivf")
      val cbs = Similarity.ivfPqFitCodebooks(corpus, id, vec, centroids,
        m = 16, ksub = 16, iters = 1)
      Similarity.writeIvfPqIndex(centroids, cbs,
        Similarity.ivfPqEncode(corpus, id, vec, centroids, cbs), s"$root/ivfpq")
      val (pqCents, pqCbs, codes) = Similarity.loadIvfPqIndex(spark, s"$root/ivfpq")
      val (flatCbs, encoded) = Similarity.pqIndex(corpus, id, vec, m = 16, ksub = 16, iters = 1)
      Similarity.writePqIndex(flatCbs, encoded, s"$root/pq")
      val (flatCbs2, flatCodes) = Similarity.loadPqIndex(spark, s"$root/pq")
      Similarity.writeLshIndex(corpus, id, vec, nBits = 8, s"$root/lsh")
      val (nBits, buckets) = Similarity.loadLshIndex(spark, s"$root/lsh")
      Similarity.randomProjection(corpus, id, vec, 64, 16).write.parquet(s"$root/rp")
      val projected = spark.read.parquet(s"$root/rp")
      val probes = Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "bruteForceTopK" -> (() => Similarity.bruteForceTopK(corpus, id, vec, q, 10)),
        "bruteForceTopKBatch" -> (() =>
          Similarity.bruteForceTopKBatch(corpus, id, vec, queries, id, vec, 5)),
        "hardNegatives" -> (() => Similarity.hardNegatives(corpus, id, vec, label, anchors, 5)),
        "hardNegativesShortlist" -> (() => Similarity.hardNegativesShortlist(
          corpus, id, vec, label, anchors, k = 5, inDim = 64, outDim = 16, shortlist = 50)),
        "hardNegativesAnn" -> (() => Similarity.hardNegativesAnn(cents, lists,
          corpus, id, vec, label, anchors, k = 5, nProbe = 3, shortlist = 50)),
        "hardNegativesAnnPq" -> (() => Similarity.hardNegativesAnnPq(pqCents, pqCbs, codes,
          corpus, id, vec, label, anchors, k = 5, nProbe = 3, shortlist = 50)),
        "ivfTopKBatch" -> (() => Similarity.ivfTopKBatch(cents, lists,
          queries, id, vec, k = 5, nProbe = 3)),
        "ivfPqTopK" -> (() => Similarity.ivfPqTopK(pqCents, pqCbs, codes,
          corpus, id, vec, qv, k = 10, nProbe = 3, rerankN = 100)),
        "ivfPqTopKBatch" -> (() => Similarity.ivfPqTopKBatch(pqCents, pqCbs, codes,
          corpus, id, vec, queries, id, vec, k = 5, nProbe = 3, rerankN = 50)),
        "pqTopK" -> (() => Similarity.pqTopK(flatCbs2, flatCodes,
          corpus, id, vec, qv, k = 10, rerankN = 100)),
        "lshTopK" -> (() => Similarity.lshTopK(buckets, q, k = 10,
          nBits = nBits, probeHamming = 2)),
        "lshTopKFullBall" -> (() => Similarity.lshTopK(buckets, q, k = 10,
          nBits = nBits, probeHamming = nBits)),
        "projectedTopKPrebuilt" -> (() => Similarity.projectedTopKPrebuilt(corpus, id, vec,
          projected, q, inDim = 64, outDim = 16, shortlist = 50, k = 10)))
      val jobs = probes.map { case (name, probe) =>
        name -> JobCount(spark)(probe().collect())._2 }
      // Budgets at the measured counts (4 cores).
      val budget = Map(
        "bruteForceTopK" -> 3, "bruteForceTopKBatch" -> 5, "hardNegatives" -> 5,
        "hardNegativesShortlist" -> 11, "hardNegativesAnn" -> 12,
        "hardNegativesAnnPq" -> 12, "ivfTopKBatch" -> 6, "ivfPqTopK" -> 3,
        "ivfPqTopKBatch" -> 9, "pqTopK" -> 3, "lshTopK" -> 3, "lshTopKFullBall" -> 2,
        "projectedTopKPrebuilt" -> 6)
      assert(jobs.forall { case (probe, n) => n <= budget(probe) },
        s"job budget exceeded: measured $jobs, budget $budget")
    } finally SpecScratch.deleteTree(root.toFile)
  }
}
