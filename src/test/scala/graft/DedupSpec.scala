package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  // Planted corpus: 0/1 exact dups, 2 near-dup of them (one word changed),
  // 3/4 shuffled-word dups, 5 unrelated.
  // Doc 2 differs from 0/1 only in the LAST token: exactly one 3-gram
  // shingle differs, so jaccard(0,2) = 18/20 = 0.9 — high enough that
  // MinHash banding (b=16, r=4) detects it with p ≈ 1-3e-8.
  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog while the sun sets behind quiet hills and birds sing softly tonight"),
    (1L, "the quick brown fox jumps over the lazy dog while the sun sets behind quiet hills and birds sing softly tonight"),
    (2L, "the quick brown fox jumps over the lazy dog while the sun sets behind quiet hills and birds sing softly today"),
    (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (4L, "kappa iota theta eta zeta epsilon delta gamma beta alpha"),
    (5L, "completely different content about spark shuffles and partitions"))
    .toDF("id", "text")

  test("exact dedup groups identical keys, survivor = min id") {
    val got = Dedup.exact(docs, col("text"), col("id"))
      .orderBy("survivor_id").collect()
      .map(r => (r.getAs[Long]("survivor_id"), r.getAs[Long]("n_dups")))
    assert(got.toSeq == Seq((0L, 2L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L)))
  }

  test("keepFirst returns surviving full rows") {
    val got = Dedup.keepFirst(docs, col("text"), col("id"))
    assert(got.count() == 5)
    assert(got.filter(col("id") === 1).count() == 0) // dup of 0 dropped
  }

  test("ngramJaccardPairs finds exact and near duplicates, not unrelated") {
    val pairs = Dedup.ngramJaccardPairs(docs, col("id"), col("text"),
        n = 3, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((0L, 1L)), "exact dup pair")
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L)), "near-dup pair")
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L), "unrelated not paired")
  }

  test("ngramJaccardPairs: exact dup has jaccard 1.0") {
    val j = Dedup.ngramJaccardPairs(docs, col("id"), col("text"), 3, 0.5)
      .filter(col("id_a") === 0 && col("id_b") === 1)
      .collect().head.getAs[Double]("jaccard")
    assert(j == 1.0)
  }

  test("minhashLshPairs detects planted near-dups") {
    val pairs = Dedup.minhashLshPairs(docs, col("id"), col("text"),
        threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((0L, 1L)), "exact dup found by LSH")
    assert(pairs.contains((0L, 2L)), "near dup found by LSH")
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("minhashLshVerifiedPairs equals the exhaustive exact pairs") {
    // The whole point of the verified variant: LSH only changes candidate
    // generation — output (ids AND exact jaccard values) must match the
    // exhaustive shingle-join path bit for bit.
    val exact = Dedup.ngramJaccardPairs(docs, col("id"), col("text"), 3, 0.8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = Dedup.minhashLshVerifiedPairs(docs, col("id"), col("text"),
        n = 3, threshold = 0.8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lsh == exact, s"lsh=$lsh exact=$exact")
    assert(exact.nonEmpty) // planted dups guarantee a non-trivial compare
  }

  test("containmentPairs scores a doc pasted inside a larger doc ~1.0") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val cdocs = Seq(
      (0L, base),
      (1L, base + " plus a long unrelated tail of extra words goes here now"),
      (2L, "completely different content about spark shuffles and partitions"))
      .toDF("id", "text")
    val got = Dedup.containmentPairs(cdocs, col("id"), col("text"), 3, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.keySet == Set((0L, 1L)), s"got $got")
    assert(got((0L, 1L)) == 1.0) // every shingle of 0 appears in 1
    // symmetric jaccard on the same pair is well under the 0.9 bar
    val jac = Dedup.ngramJaccardPairs(cdocs, col("id"), col("text"), 3, 0.9)
    assert(jac.count() == 0)
  }

  test("hash split is deterministic, disjoint, and ~frac sized") {
    val ids = (0L until 2000L).map(Tuple1(_)).toDF("id")
    val (test_, train) = graft.operators.Split.holdOut(ids, col("id"), 0.16)
    val nTest = test_.count()
    assert(nTest + train.count() == 2000)
    // 41/256 = 16.015%; binomial 3-sigma at n=2000 is ~2.5pp
    assert(nTest > 2000 * 0.10 && nTest < 2000 * 0.23, s"nTest=$nTest")
    // determinism: same rows land in the same split on re-evaluation
    val again = graft.operators.Split.holdOut(ids.repartition(7), col("id"), 0.16)._1
      .collect().map(_.getLong(0)).toSet
    assert(again == test_.collect().map(_.getLong(0)).toSet)
  }

  test("minhash est_jaccard is 1.0 for identical docs") {
    val est = Dedup.minhashLshPairs(docs, col("id"), col("text"), threshold = 0.5)
      .filter(col("id_a") === 0 && col("id_b") === 1)
      .collect().head.getAs[Double]("est_jaccard")
    assert(est == 1.0)
  }

  test("simhashPairs: identical docs at hamming 0; shuffled dups too (bag)") {
    val got = Dedup.simhashPairs(docs, col("id"), col("text"), maxHamming = 3)
      .collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
        r.getAs[Int]("hamming"))).toMap
    assert(got((0L, 1L)) == 0, "identical docs -> hamming 0")
    assert(got((3L, 4L)) == 0, "word order does not change bag simhash")
    assert(!got.keySet.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("stratifiedSample keeps per-stratum fractions, deterministically") {
    val rows = (0L until 4000L).map(i => (i, s"src${i % 4}")).toDF("id", "stratum")
    val rates = Map("src0" -> 0.5, "src1" -> 0.25)
    val kept = graft.operators.Split.stratifiedSample(
      rows, col("stratum"), col("id"), rates, defaultRate = 0.1)
    val bySrc = kept.groupBy("stratum").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // 1000 rows per stratum; md5 threshold granularity is 1/256, so the
    // realized fraction concentrates near the target (binomial, ±~5%).
    assert(math.abs(bySrc("src0") - 500) < 75, s"src0: ${bySrc("src0")}")
    assert(math.abs(bySrc("src1") - 250) < 75, s"src1: ${bySrc("src1")}")
    assert(math.abs(bySrc.getOrElse("src2", 0L) - 100) < 60)
    // invariant under repartitioning (pure function of the id)
    val again = graft.operators.Split.stratifiedSample(
      rows.repartition(7), col("stratum"), col("id"), rates, defaultRate = 0.1)
    assert(again.collect().map(_.getLong(0)).sorted.toSeq ==
      kept.collect().map(_.getLong(0)).sorted.toSeq)
    // edge rates: 0 keeps nothing, 1 keeps everything
    assert(graft.operators.Split.stratifiedSample(
      rows, col("stratum"), col("id"), Map.empty, defaultRate = 0.0).count() == 0)
    assert(graft.operators.Split.stratifiedSample(
      rows, col("stratum"), col("id"), Map.empty, defaultRate = 1.0).count() == 4000)
    // near-1 rates clamp to 255/256 — round(0.999*256)=256 would format
    // as the 3-char "100", which sorts below "11" and kept only ~6.6%
    val near1 = graft.operators.Split.stratifiedSample(
      rows, col("stratum"), col("id"), Map.empty, defaultRate = 0.999).count()
    assert(near1 > 3900, s"near-1 rate kept only $near1 of 4000")
  }

  test("containmentPairs (prefix-filtered) equals the naive shared-shingle join") {
    // The one-sided prefix filter rests on a pigeonhole argument (the
    // smallest shared hash lies in the SMALLER doc's prefix); pin it
    // against the exhaustive formulation — full explode self-join +
    // per-pair match count — on real corpus data across thresholds,
    // including τ=1.0 (prefix length 1) and doc-inside-doc fixtures.
    val fixtures = Seq(
      graft.sources.Tables.documents(spark, sf).select(
        col("doc_id").as("id"), col("text")),
      docs.unionByName(Seq(
        // 6 is a strict substring of 7 (containment 1.0, sizes differ 3x)
        (6L, "one two three four five six seven"),
        (7L, "zero one two three four five six seven eight nine ten eleven twelve thirteen fourteen fifteen sixteen")).toDF("id", "text")))
    for (frame <- fixtures; thr <- Seq(0.5, 0.9, 1.0)) {
      val got = Dedup.containmentPairs(frame, col("id"), col("text"), 3, thr)
        .collect().map(_.toSeq).toSet
      val sh = frame.select(col("id").cast("long").as("id"),
        graft.expressions.HashedShingles.shingles(col("text"), 3).as("hs"))
        .withColumn("n_sh", size(col("hs")))
      val ex = sh.select(col("id"), col("n_sh"), explode(col("hs")).as("h"))
      val naive = ex.as("a").join(ex.as("b"),
          col("a.h") === col("b.h") && col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
          col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
        .agg(count(lit(1)).as("n_inter"))
        .withColumn("containment",
          col("n_inter").cast("double") / least(col("n_a"), col("n_b")))
        .filter(col("containment") >= thr)
        .select(col("id_a"), col("id_b"), col("containment"))
        .collect().map(_.toSeq).toSet
      assert(got == naive, s"threshold $thr")
    }
  }

  test("dedupCorpus keepBy keeps the highest-scoring doc per cluster") {
    // Cluster {0,1,2}: doc 2 is one word different ("today") — make it
    // the longest by scoring on text length with a planted longer twin.
    val extended = docs.unionByName(Seq(
      (6L, "the quick brown fox jumps over the lazy dog while the sun sets behind quiet hills and birds sing softly tonight extra tail words")) // near-dup of 0/1, longest
      .toDF("id", "text"))
    val kept = Dedup.dedupCorpus(extended, col("id"), col("text"),
        threshold = 0.5, keepBy = Some(length(col("text"))))
      .collect().map(_.getAs[Long]("id")).toSet
    // cluster {0,1,2,6} -> survivor 6 (longest); 3/4/5 untouched
    assert(kept == Set(6L, 3L, 4L, 5L), s"kept: $kept")
    // default min-id behavior unchanged
    val keptMin = Dedup.dedupCorpus(extended, col("id"), col("text"),
        threshold = 0.5)
      .collect().map(_.getAs[Long]("id")).toSet
    assert(keptMin == Set(0L, 3L, 4L, 5L), s"kept: $keptMin")
    // tie on score -> min id survives
    val tied = Seq(
      (10L, "same exact text here padded to shingle width now"),
      (11L, "same exact text here padded to shingle width now"),
      (12L, "unrelated totally different content words entirely apart")).toDF("id", "text")
    val keptTied = Dedup.dedupCorpus(tied, col("id"), col("text"),
        threshold = 0.5, keepBy = Some(length(col("text"))))
      .collect().map(_.getAs[Long]("id")).toSet
    assert(keptTied == Set(10L, 12L), s"kept: $keptTied")
  }

  test("verified-LSH pairs equal exact prefix-join pairs on seeded random corpora") {
    // The central equivalence claim of the dedup family: LSH banding +
    // exact verification produces the SAME pair set as the exhaustive
    // prefix-filtered exact join (miss probability ~4e-12 per j>=0.9
    // pair at k=60/b=20). Seeded random corpora (not just the fixed
    // fixtures): base docs from a 60-word vocab, near-dups planted by
    // 1-2 token mutations (j >= ~0.85), exact dups, plus short docs that
    // exercise the <n-token whole-text shingle path.
    val rnd = new scala.util.Random(20260812L)
    val vocab = (0 until 60).map(i => s"w$i")
    for (trial <- 0 until 3) {
      val base = (0 until 40).map { i =>
        (i.toLong,
          (0 until (8 + rnd.nextInt(10))).map(_ => vocab(rnd.nextInt(vocab.size)))
            .mkString(" "))
      }
      val mutated = base.take(12).map { case (id, text) =>
        val toks = text.split(" ").toBuffer
        toks(rnd.nextInt(toks.size)) = vocab(rnd.nextInt(vocab.size))
        (id + 1000L, toks.mkString(" "))
      }
      val exactDups = base.slice(12, 18).map { case (id, t) => (id + 2000L, t) }
      val shorties = Seq((3001L, "w1"), (3002L, "w1"), (3003L, "w1 w2"))
      val corpus = (base ++ mutated ++ exactDups ++ shorties).toDF("id", "text")
      val exact = Dedup.ngramJaccardPairs(corpus, col("id"), col("text"), 3, 0.8)
        .collect().map(_.toSeq).toSet
      val lsh = Dedup.minhashLshVerifiedPairs(corpus, col("id"), col("text"), 3, 0.8)
        .collect().map(_.toSeq).toSet
      assert(lsh == exact, s"trial $trial")
      assert(exact.nonEmpty, s"trial $trial planted no qualifying pairs")
    }
  }

  test("containmentPairs equals the naive join on seeded random corpora") {
    val rnd = new scala.util.Random(42424242L)
    val vocab = (0 until 40).map(i => s"t$i")
    for (trial <- 0 until 3) {
      // containers: long docs; contained: contiguous slices of them
      // (containment ~1.0 with very different sizes), plus noise docs.
      val long = (0 until 15).map { i =>
        (i.toLong,
          (0 until (30 + rnd.nextInt(20))).map(_ => vocab(rnd.nextInt(vocab.size)))
            .mkString(" "))
      }
      val contained = long.take(6).map { case (id, text) =>
        val toks = text.split(" ")
        val start = rnd.nextInt(toks.length / 2)
        (id + 500L, toks.slice(start, start + 8 + rnd.nextInt(6)).mkString(" "))
      }
      val noise = (0 until 10).map(i =>
        (700L + i, (0 until 5).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      val corpus = (long ++ contained ++ noise).toDF("id", "text")
      for (thr <- Seq(0.7, 0.95)) {
        val got = Dedup.containmentPairs(corpus, col("id"), col("text"), 3, thr)
          .collect().map(_.toSeq).toSet
        val sh = corpus.select(col("id").cast("long").as("id"),
          graft.expressions.HashedShingles.shingles(col("text"), 3).as("hs"))
          .withColumn("n_sh", size(col("hs")))
        val ex = sh.select(col("id"), col("n_sh"), explode(col("hs")).as("h"))
        val naive = ex.as("a").join(ex.as("b"),
            col("a.h") === col("b.h") && col("a.id") < col("b.id"))
          .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
            col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
          .agg(count(lit(1)).as("n_inter"))
          .withColumn("containment",
            col("n_inter").cast("double") / least(col("n_a"), col("n_b")))
          .filter(col("containment") >= thr)
          .select(col("id_a"), col("id_b"), col("containment"))
          .collect().map(_.toSeq).toSet
        assert(got == naive, s"trial $trial thr $thr")
      }
    }
  }

  test("containmentPairsLsh equals the exact containment path") {
    // Banded bottom-k candidates + exact verify must reproduce the exact
    // path's pairs AND values: for docs whose probe window fits the
    // sketch the candidate set is a deterministic superset of the exact
    // path's; beyond it the per-pair miss probability is (1-c)^k
    // (~1e-8 at c=0.9, k=8), and the fixed hash makes the outcome
    // reproducible. Fixtures: the real corpus, the planted doc-inside-doc
    // set, and a LARGE container pair (smaller doc >> sampleK shingles)
    // exercising the probabilistic regime.
    val bigBase = (0 until 300).map(i => s"tok$i").mkString(" ")
    val fixtures = Seq(
      graft.sources.Tables.documents(spark, sf).select(
        col("doc_id").as("id"), col("text")),
      docs.unionByName(Seq(
        (6L, "one two three four five six seven"),
        (7L, "zero one two three four five six seven eight nine ten eleven twelve thirteen fourteen fifteen sixteen"),
        (8L, bigBase),
        (9L, bigBase + " plus an unrelated long tail " +
          (0 until 40).map(i => s"tail$i").mkString(" "))).toDF("id", "text")))
    for (frame <- fixtures; thr <- Seq(0.7, 0.9)) {
      val exact = Dedup.containmentPairs(frame, col("id"), col("text"), 3, thr)
        .collect().map(_.toSeq).toSet
      val banded = Dedup.containmentPairsLsh(frame, col("id"), col("text"), 3, thr)
        .collect().map(_.toSeq).toSet
      assert(banded == exact, s"thr $thr")
      assert(exact.nonEmpty, s"thr $thr planted no qualifying pairs")
    }
  }

  test("containment maxShingleFreq caps candidate generation, keeps exact values") {
    // 10 docs sharing one ubiquitous shingle (freq 10 > cap 5) plus a
    // genuine container pair: capping must drop the boilerplate-only
    // pairs but keep the real pair with its exact containment.
    val many = ((0 until 10).map(i =>
        (i.toLong, s"common shingle here unique$i word$i tail$i"))
      :+ (100L, "real duplicate text body one two three")
      :+ (101L, "real duplicate text body one two three plus extra tail words here"))
      .toDF("id", "text")
    for (variant <- Seq(
        (d: org.apache.spark.sql.DataFrame, cap: Option[Int]) =>
          Dedup.containmentPairs(d, col("id"), col("text"), 3, 0.2, cap),
        (d: org.apache.spark.sql.DataFrame, cap: Option[Int]) =>
          Dedup.containmentPairsLsh(d, col("id"), col("text"), 3, 0.2, 8, cap))) {
      val uncapped = variant(many, None).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val capped = variant(many, Some(5)).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(uncapped.size > capped.size, "cap should drop boilerplate-only pairs")
      assert(capped.contains((100L, 101L)), "real pair survives the cap")
      assert(capped((100L, 101L)) == 1.0, "verification stays exact under cap")
    }
  }

  test("simhashPairs equals brute-force bit_count(xor) <= 3 on real data") {
    // The chunked pigeonhole blocking must be COMPLETE, not just find the
    // planted dups: on the real sf0.001 documents, the blocked pair set
    // must equal the exhaustive O(n^2) Hamming scan on the same frame —
    // the Spark-side exact check standing in for the impossible DuckDB
    // oracle (xxhash64-based SimHash bits can't be mirrored there).
    val real = graft.sources.Tables.documents(spark, sf)
    val blocked = Dedup.simhashPairs(real, col("doc_id"), col("text"), maxHamming = 3)
      .select("id_a", "id_b", "hamming")
      .collect().map(_.toSeq).toSet
    val hashed = real.select(
      col("doc_id").cast("long").as("id"),
      graft.expressions.SimHash64.simhash64(
        graft.functions.TextFunctions.tokens(col("text"))).as("sh"))
    val brute = hashed.as("a").join(hashed.as("b"), col("a.id") < col("b.id"))
      .withColumn("hamming", bit_count(col("a.sh").bitwiseXOR(col("b.sh"))))
      .filter(col("hamming") <= 3)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("hamming"))
      .collect().map(_.toSeq).toSet
    assert(blocked == brute)
    assert(brute.nonEmpty, "fixture should contain at least one near-dup pair")
  }

  test("embeddingPairs finds near-identical vectors only") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.999f, 0.01f, 0.0f)),  // ~same direction as 0
      (2L, Array(0.0f, 1.0f, 0.0f)),     // orthogonal
      (3L, Array(-1.0f, 0.0f, 0.0f)))    // opposite
      .toDF("id", "vec")
    val pairs = Dedup.embeddingPairs(emb, col("id"), col("vec"), 0.99)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("dedupCorpus keeps one survivor per near-dup cluster") {
    val deduped = Dedup.dedupCorpus(docs, col("id"), col("text"), threshold = 0.5)
    val ids = deduped.collect().map(_.getAs[Long]("id")).toSet
    // docs 0/1/2 are one cluster -> survivor 0; 3/4 shuffled-word docs are
    // NOT jaccard dups (shingles differ) -> both stay; 5 unrelated stays.
    assert(ids == Set(0L, 3L, 4L, 5L), s"got $ids")
  }

  test("dedupCorpus LSH path keeps the same survivors as the exact path") {
    val deduped = Dedup.dedupCorpus(docs, col("id"), col("text"),
      threshold = 0.5, useLsh = true)
    val ids = deduped.collect().map(_.getAs[Long]("id")).toSet
    assert(ids == Set(0L, 3L, 4L, 5L), s"got $ids")
  }

  test("embeddingPairsLsh finds near-identical vectors without a cross join") {
    val emb = Seq(
      (0L, Array.fill(16)(0.5f)),
      (1L, Array.tabulate(16)(i => 0.5f + (if (i == 0) 0.001f else 0f))),
      (2L, Array.tabulate(16)(i => if (i % 2 == 0) 1.0f else -1.0f)))
      .toDF("id", "vec")
    val pairs = Dedup.embeddingPairsLsh(emb, col("id"), col("vec"), 0.99, nBits = 8)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("crossCorpusOverlap: contaminated doc scores 1.0, novel doc 0.0") {
    val probe = Seq(
      (100L, "the quick brown fox jumps over the lazy dog while the sun sets behind quiet hills and birds sing softly tonight"), // = doc 0
      (101L, "entirely novel unseen holdout content nothing shared here at all"))
      .toDF("id", "text")
    val got = Dedup.crossCorpusOverlap(probe, col("id"), col("text"),
        docs, col("text"), n = 3)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("overlap")).toMap
    assert(got(100L) == 1.0, s"contaminated overlap ${got(100L)}")
    assert(got(101L) == 0.0, s"novel overlap ${got(101L)}")
  }

  test("contaminationPairs: provenance pairs at the shared-gram threshold") {
    val ref = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta"),   // 5 distinct 3-grams
      (1L, "totally different reference content here now"))
      .toDF("id", "text")
    val probe = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta"), // all 5 shared w/ 0
      (101L, "alpha beta gamma delta epsilon"),          // 3 shared w/ 0
      (102L, "nothing in common with anything at all"))
      .toDF("id", "text")
    def run(minShared: Long) = Dedup.contaminationPairs(
        probe, col("id"), col("text"), ref, col("id"), col("text"),
        n = 3, minShared = minShared)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    val strict = run(5L)
    // only the full copy survives the bar; containment of ITS gram set
    assert(strict == Map((100L, 0L) -> ((5L, 1.0))))
    val loose = run(3L)
    assert(loose.keySet == Set((100L, 0L), (101L, 0L)))
    assert(loose((101L, 0L)) == ((3L, 1.0))) // all 3 of probe 101's grams
  }

  test("ngramJaccardPairs maxShingleFreq drops stop-shingle-only pairs") {
    // 10 docs sharing one ubiquitous shingle; two real dups.
    val many = ((0 until 10).map(i => (i.toLong, s"common shingle here unique$i word$i tail$i"))
      :+ (100L, "real duplicate text body one two three")
      :+ (101L, "real duplicate text body one two three"))
      .toDF("id", "text")
    val uncapped = Dedup.ngramJaccardPairs(many, col("id"), col("text"), 3, 0.01)
    val capped = Dedup.ngramJaccardPairs(many, col("id"), col("text"), 3, 0.01,
      maxShingleFreq = Some(5))
    assert(uncapped.count() > capped.count())
    val cp = capped.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(cp.contains((100L, 101L)), "real dups survive the frequency cap")
  }

  test("pair operators release every internal persist (no session cache leak)") {
    // The library contract (round-6/7/8 advice): a long-lived session
    // composing dedup operators must not accumulate dead SQL-cache
    // entries. Each persist-using operator materializes its pair output
    // and releases its internals, so after any sequence of calls the
    // cache manager is empty — without any harness-side clearCache.
    spark.sharedState.cacheManager.clearCache()
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "a completely different document about spark caching"),
      (4L, "a completely different document about spark caching discipline"))
      .toDF("id", "text")
    Dedup.ngramJaccardPairs(docs, col("id"), col("text"), 3, 0.5).count()
    Dedup.minhashLshPairs(docs, col("id"), col("text")).count()
    Dedup.minhashLshVerifiedPairs(docs, col("id"), col("text")).count()
    Dedup.containmentPairs(docs, col("id"), col("text"), 3, 0.5).count()
    Dedup.containmentPairsLsh(docs, col("id"), col("text"), 3, 0.5).count()
    Dedup.resolveClusters(
      Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")).count()
    Dedup.dedupCorpus(docs, col("id"), col("text"), 3, 0.5).count()
    Dedup.editDistancePairs(docs, col("id"), col("text"), maxDist = 4).count()
    Dedup.editDistanceAgainstReference(docs.filter(col("id") > 2), col("id"), col("text"),
      docs.filter(col("id") <= 2), col("id"), col("text"), maxDist = 4).count()
    val index = Dedup.corpusIndex(docs.filter(col("id") <= 2), col("id"), col("text"))
    Dedup.nearDupAgainstIndex(
      docs.filter(col("id") > 2), col("id"), col("text"), index, 0.5).count()
    index.unpersist() // the one documented caller-owned handle
    assert(spark.sharedState.cacheManager.isEmpty,
      "operators leaked SQL cache entries into the session")
  }

  test("crossCorpusOverlapBloom: no false negatives vs the exact path") {
    val corpus = Seq(
      (10L, "the benchmark question about spark shuffles and joins"),
      (11L, "another held out evaluation prompt concerning windows"))
      .toDF("cid", "ctext")
    val probes = Seq(
      (100L, "the benchmark question about spark shuffles and joins"), // contaminated
      (101L, "totally novel training document with fresh content here"), // novel
      (102L, "another held out evaluation prompt concerning windows plus extra tail"))
      .toDF("id", "text")
    def byId(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_hit"), r.getAs[Double]("overlap"))).toMap
    val exact = byId(Dedup.crossCorpusOverlap(
      probes, col("id"), col("text"), corpus, col("ctext"), n = 3))
    val bloom = byId(Dedup.crossCorpusOverlapBloom(
      probes, col("id"), col("text"), corpus, col("ctext"), n = 3, fpp = 0.001))
    // One-sided error: the screen may inflate, never deflate.
    for ((id, (hits, ov)) <- exact) {
      assert(bloom(id)._1 >= hits, s"doc $id lost hits: bloom=${bloom(id)._1} exact=$hits")
      assert(bloom(id)._2 >= ov, s"doc $id deflated overlap")
    }
    // Fully contaminated doc is flagged at exactly 1.0 either way.
    assert(exact(100L)._2 == 1.0 && bloom(100L)._2 == 1.0)
    // At fpp=0.001 on a ~50-shingle novel doc, expected false hits ≈ 0.05:
    // the screen stays discriminative, not saturated.
    assert(bloom(101L)._2 <= 0.2, s"novel doc saturated: ${bloom(101L)}")
  }

  test("Materialize.over returns build's rows, releases its frame, also when build throws") {
    import graft.operators.Materialize
    spark.sharedState.cacheManager.clearCache()
    val frame = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    var seen = org.apache.spark.storage.StorageLevel.NONE
    val out = Materialize.over(frame) { f =>
      seen = f.storageLevel
      f.filter(col("id") >= 2)
    }
    assert(seen == org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK,
      "build must read the frame persisted at MEMORY_AND_DISK")
    assert(out.collect().map(_.toSeq).toSet == Set(Seq(2L, "b"), Seq(3L, "c")))
    assert(spark.sharedState.cacheManager.isEmpty, "over left its frame cached")
    // A build that fails in its own eager job still releases the frame.
    val boom = intercept[IllegalStateException](Materialize.over(frame) { f =>
      f.count()
      throw new IllegalStateException("build failed")
    })
    assert(boom.getMessage == "build failed")
    assert(spark.sharedState.cacheManager.isEmpty, "a failed build left its frame cached")
  }

  test("ranking operators release every internal persist (no session cache leak)") {
    spark.sharedState.cacheManager.clearCache()
    val docs = Seq(
      (1L, "spark window hash spark"),
      (2L, "hash join shuffle spark"),
      (3L, "the quick brown fox"))
      .toDF("id", "text")
    graft.operators.Ranking.tfIdfTopTerms(docs, col("id"), col("text"), 2).count()
    graft.operators.Ranking.bm25(docs, col("id"), col("text"), Seq("spark"), 3).count()
    graft.operators.Ranking.unigramLogProb(docs, col("id"), col("text")).count()
    graft.operators.Ranking.oovRate(docs, col("id"), col("text"), 2).count()
    graft.operators.Ranking.klDivergence(docs, col("id") % 2, col("text")).count()
    graft.operators.Ranking.invertedIndex(docs, col("id"), col("text"), 2).count()
    graft.operators.Ranking.vocabEncode(docs, col("id"), col("text"), 3).count()
    graft.operators.Ranking.bigramLogProb(docs, col("id"), col("text")).count()
    graft.operators.Ranking.perplexityBuckets(
      docs, col("id"), col("text"), lit("en")).count()
    graft.operators.Ranking.dsirWeights(
      docs, col("id"), col("text"), col("id") === 1, 2).count()
    graft.operators.Ranking.hashedLinearScore(docs, col("id"), col("text"),
      nBuckets = 8, seed = "s", bias = 0.0, threshold = 0.5).count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "ranking operators leaked SQL cache entries into the session")
  }

  test("cluster and corpus-stats operators release every internal persist") {
    import graft.operators.{Cluster, CorpusStats}
    spark.sharedState.cacheManager.clearCache()
    val emb = Seq((1L, Seq(0.0f, 1.0f)), (2L, Seq(0.0f, 0.9f)),
        (3L, Seq(1.0f, 0.0f)), (4L, Seq(0.9f, 0.1f)))
      .toDF("id", "v")
    Cluster.lloydKMeans(emb, col("id"), col("v"), k = 2, iters = 2).count()
    Cluster.semanticDedup(emb, col("id"), col("v"), k = 2, iters = 2,
      threshold = 0.9).count()
    val docs = Seq((1L, "en", "web", "spark hash join"),
        (2L, "de", "books", "spark hash join"), (3L, "en", "web", "a b c d"))
      .toDF("id", "lang", "source", "text")
    CorpusStats.dataCard(docs, col("id"), col("lang"), col("source"),
      length(col("text")), col("text")).count()
    CorpusStats.approxPercentileContract(docs, col("lang"), col("id"),
      Seq(0.5), accuracy = 100).count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "cluster / corpus-stats operators leaked SQL cache entries into the session")
  }

  test("repeatedSpans: cross-doc shared run becomes one maximal span; intra-doc repeats don't flag") {
    // Docs A and B share tokens 3..10 (an 8-token run → exactly one
    // k=4 window chain); C repeats a phrase INTERNALLY only; D is clean.
    val shared = "lorem ipsum dolor sit amet consectetur adipiscing elit"
    val corpus = Seq(
      (10L, s"aa bb cc $shared dd ee"),
      (20L, s"xx yy zz $shared qq"),
      (30L, "one two three four one two three four one two three four"),
      (40L, "entirely unrelated text with no overlap at all whatsoever"))
      .toDF("id", "text")
    val got = Dedup.repeatedSpans(corpus, col("id"), col("text"), k = 4)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"), r.getAs[Long]("n_windows")))
      .sortBy(t => (t._1, t._2))
    // The 8 shared tokens start at position 3 in both docs: five k=4
    // windows (positions 3..7) collapse into ONE maximal span covering
    // token indices 3..10. Doc 30's intra-doc repetition and doc 40
    // must not appear (distinct-doc count gate).
    assert(got.toSeq == Seq((10L, 3L, 10L, 5L), (20L, 3L, 10L, 5L)), got.toSeq)
  }

  test("removeRepeatedSpans cuts exactly the spanned tokens, leaves clean docs intact") {
    val shared = "lorem ipsum dolor sit amet consectetur adipiscing elit"
    val corpus = Seq(
      (10L, s"aa bb cc $shared dd ee"),
      (20L, s"xx yy zz $shared qq"),
      (40L, "entirely unrelated text with no overlap at all whatsoever"))
      .toDF("id", "text")
    val got = Dedup.removeRepeatedSpans(corpus, col("id"), col("text"), k = 4)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_before"), r.getAs[Long]("n_after"),
          r.getAs[String]("text_clean"))))
      .toMap
    // spans cover token indices 3..10 (the 8 shared tokens) in both docs
    assert(got(10L) == ((13L, 5L, "aa bb cc dd ee")), got(10L))
    assert(got(20L) == ((12L, 4L, "xx yy zz qq")), got(20L))
    // the clean doc passes through byte-identical
    assert(got(40L) == ((9L, 9L,
      "entirely unrelated text with no overlap at all whatsoever")), got(40L))
  }

  test("removeRepeatedSpans degenerate inputs: null and blank text (q80 oracle contract)") {
    val corpus = Seq((1L, null: String), (2L, ""), (3L, "   "))
      .toDF("id", "text")
    val got = Dedup.removeRepeatedSpans(corpus, col("id"), col("text"), k = 4)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((Option(r.getAs[java.lang.Long]("n_before")).map(_.toLong),
          r.getAs[Long]("n_after"), r.getAs[String]("text_clean"))))
      .toMap
    // Null text: DuckDB len(NULL) is NULL / coalesce 0 / md5('') — so
    // (NULL, 0, "") here. Blank text tokenizes to [""]: one token kept.
    assert(got(1L) == ((None, 0L, "")), got(1L))
    assert(got(2L) == ((Some(1L), 1L, "")), got(2L))
    assert(got(3L) == ((Some(1L), 1L, "")), got(3L))
  }

  test("repeatedSpans + removeRepeatedSpans equal a driver-side reference on seeded random corpora") {
    // Independent reimplementation of the span semantics in plain Scala
    // (window-string maps, no hashing): the operators must match it on
    // random corpora with a SMALL vocab so cross-doc window repeats
    // arise naturally (plus planted shared runs and short docs).
    val rnd = new scala.util.Random(20260813L)
    val k = 4
    for (trial <- 0 until 3) {
      val vocab = (0 until 12).map(i => s"v$i") // tiny vocab → organic repeats
      val base = (0 until 30).map { i =>
        (i.toLong,
          (0 until (k + rnd.nextInt(12))).map(_ => vocab(rnd.nextInt(vocab.size)))
            .mkString(" "))
      }
      val sharedRun = (0 until k + 3).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val planted = Seq((100L, s"v0 $sharedRun v1"), (101L, s"$sharedRun v2 v3"))
      val shorties = Seq((200L, "v1 v2"), (201L, "v1 v2")) // < k tokens: no windows
      val corpus = base ++ planted ++ shorties
      // reference: window -> set of docs, then per-doc covered positions
      val toks = corpus.map { case (id, t) =>
        id -> t.trim.toLowerCase.split("\\s+").toSeq }.toMap
      val winDocs = scala.collection.mutable.Map.empty[String, Set[Long]]
      for ((id, ts) <- toks if ts.size >= k; i <- 0 to ts.size - k)
        winDocs.updateWith(ts.slice(i, i + k).mkString(" "))(
          o => Some(o.getOrElse(Set.empty) + id))
      val expectSpans = (for ((id, ts) <- toks.toSeq if ts.size >= k) yield {
        val flagged = (0 to ts.size - k).filter(i =>
          winDocs(ts.slice(i, i + k).mkString(" ")).size >= 2)
        // collapse adjacent flagged positions into maximal islands
        val islands = flagged.foldLeft(List.empty[(Int, Int)]) {
          case ((s, e) :: rest, p) if p == e + 1 => (s, p) :: rest
          case (acc, p) => (p, p) :: acc
        }.reverse
        islands.map { case (s, e) => (id, s.toLong, (e + k - 1).toLong, (e - s + 1).toLong) }
      }).flatten.toSet
      val gotSpans = Dedup.repeatedSpans(
          corpus.toDF("id", "text"), col("id"), col("text"), k = k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(gotSpans == expectSpans, s"trial $trial spans")
      assert(expectSpans.nonEmpty, s"trial $trial produced no spans")
      // removal: cut covered token indices per doc
      val covered = expectSpans.groupBy(_._1).view.mapValues(
        _.flatMap { case (_, s, e, _) => s.toInt to e.toInt }.toSet).toMap
      val expectClean = toks.map { case (id, ts) =>
        val keep = ts.indices.filterNot(covered.getOrElse(id, Set.empty))
        (id, ts.size.toLong, keep.size.toLong, keep.map(ts).mkString(" "))
      }.toSet
      val gotClean = Dedup.removeRepeatedSpans(
          corpus.toDF("id", "text"), col("id"), col("text"), k = k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSet
      assert(gotClean == expectClean, s"trial $trial clean")
    }
  }

  test("repeatedSpans: minDocs=3 requires the window in three distinct docs") {
    val phrase = "alpha beta gamma delta"
    val corpus = Seq(
      (1L, s"$phrase one"), (2L, s"$phrase two"), (3L, s"three $phrase"))
      .toDF("id", "text")
    val pairsOnly = Dedup.repeatedSpans(corpus, col("id"), col("text"),
      k = 4, minDocs = 3)
    // the 4-token phrase occurs in all three docs → flagged in each
    assert(pairsOnly.count() == 3)
    val strict = Dedup.repeatedSpans(
      corpus.filter(col("id") =!= 3), col("id"), col("text"),
      k = 4, minDocs = 3)
    assert(strict.count() == 0) // only two docs share it now
  }

  test("editDistancePairs: planted edits, equal lengths, tiny strings, misses") {
    val base = "the quick brown fox jumps over the lazy dog tonight"
    val corpus = Seq(
      (0L, base),
      (1L, base),                                    // dist 0
      (2L, base.replace("quick", "quack")),          // 1 substitution
      (3L, base + " ok"),                            // 3 insertions
      (4L, base.replace("brown fox", "brwn fx") ),   // 2 deletions
      (5L, "a totally unrelated string about spark partitions"),
      (6L, "abc"), (7L, "abd"), (8L, "abcd"),        // tiny path (< d+1 chars)
      (9L, "zzzzzzzz"))                              // tiny-band partner, far
      .toDF("id", "text")
    val got = Dedup.editDistancePairs(corpus, col("id"), col("text"), maxDist = 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got((0L, 1L)) == 0L)
    assert(got((0L, 2L)) == 1L)
    assert(got((0L, 3L)) == 3L)
    assert(got((0L, 4L)) == 2L)
    assert(got((2L, 3L)) == 4L)        // transitive pair within budget
    assert(got((6L, 7L)) == 1L && got((6L, 8L)) == 1L && got((7L, 8L)) == 1L)
    assert(!got.keySet.exists(p => p._1 == 5L || p._2 == 5L), "unrelated")
    assert(!got.keySet.exists(p => p._1 == 9L || p._2 == 9L), "tiny but far")
  }

  test("editDistancePairs equals the exhaustive levenshtein scan on real data") {
    // Completeness gate for the PassJoin blocking: the segment-pigeonhole
    // candidates + banded verify must reproduce the length-banded
    // brute-force scan exactly (ids AND distances) on the sf0.001 corpus.
    val real = spark.read.parquet(s"$sf/documents.parquet")
    val d = 4
    val t = real.select(col("doc_id").cast("long").as("id"), col("text"))
    val brute = t.as("a").join(t.as("b"),
        col("a.id") < col("b.id") &&
          abs(length(col("a.text")) - length(col("b.text"))) <= d)
      .withColumn("dist", levenshtein(col("a.text"), col("b.text"), d))
      .filter(col("dist") >= 0)
      .select(col("a.id"), col("b.id"), col("dist").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = Dedup.editDistancePairs(real, col("doc_id"), col("text"), d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == brute, s"missing=${brute -- got} extra=${got -- brute}")
    assert(brute.nonEmpty)
  }

  test("editDistanceAgainstReference: cross pairs only, both orientations, ≡ brute") {
    val ref = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "an unrelated reference document about joins"),
      (3L, "short one"))
      .toDF("id", "text")
    val nw = Seq(
      (10L, "the quick brown fox jumps over the lazy dogs"),  // 1 edit, new longer
      (11L, "the quick brown fox jump over the lazy do"),     // 2 edits, new shorter
      (12L, "the quick brown fox jumps over the lazy dog"),   // exact dup of ref 1
      (13L, "completely novel content nothing like reference"))
      .toDF("id", "text")
    val got = Dedup.editDistanceAgainstReference(
        nw, col("id"), col("text"), ref, col("id"), col("text"), maxDist = 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got == Map((10L, 1L) -> 1L, (11L, 1L) -> 2L, (12L, 1L) -> 0L))
    // real-data gate: src0-vs-rest must equal the banded brute force
    val real = spark.read.parquet(s"$sf/documents.parquet")
    val a = real.filter(col("source") === "src0")
    val b = real.filter(col("source") =!= "src0")
    val brute = a.as("a").join(b.as("b"),
        abs(length(col("a.text")) - length(col("b.text"))) <= 4)
      .withColumn("dist", levenshtein(col("a.text"), col("b.text"), 4))
      .filter(col("dist") >= 0)
      .select(col("a.doc_id"), col("b.doc_id"), col("dist").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val cross = Dedup.editDistanceAgainstReference(
        a, col("doc_id"), col("text"), b, col("doc_id"), col("text"), 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(cross == brute, s"missing=${brute -- cross} extra=${cross -- brute}")
    assert(brute.nonEmpty)
  }

  test("editDistancePairs equals brute force on seeded random mutation corpora") {
    val rnd = new scala.util.Random(7)
    val alphabet = "abcdefg "
    for (trial <- 1 to 3) {
      val originals = (0 until 30).map { i =>
        (i.toLong, (0 until (10 + rnd.nextInt(40)))
          .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
      }
      val mutated = originals.take(12).map { case (i, s) =>
        var cur = s
        (0 until rnd.nextInt(6)).foreach { _ =>  // 0-5 random edits
          val p = rnd.nextInt(math.max(1, cur.length))
          cur = rnd.nextInt(3) match {
            case 0 if cur.nonEmpty => cur.patch(p, "", 1)               // delete
            case 1 => cur.patch(p, alphabet(rnd.nextInt(8)).toString, 0) // insert
            case _ if cur.nonEmpty =>
              cur.patch(p, alphabet(rnd.nextInt(8)).toString, 1)         // sub
            case _ => cur
          }
        }
        (100L + i, cur)
      }
      val corpus = (originals ++ mutated).toDF("id", "text")
      val d = 3
      val brute = corpus.as("a").join(corpus.as("b"), col("a.id") < col("b.id"))
        .withColumn("dist", levenshtein(col("a.text"), col("b.text"), d))
        .filter(col("dist") >= 0)
        .select(col("a.id"), col("b.id"), col("dist").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val got = Dedup.editDistancePairs(corpus, col("id"), col("text"), d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == brute,
        s"trial $trial missing=${brute -- got} extra=${got -- brute}")
    }
  }

  test("nearDupAgainstIndex: a driver-resident shard's point probe ≡ the join on the same rows, duplicate, null-id and empty shards included") {
    val index = Dedup.corpusIndex(docs.filter(col("id") =!= 2L), col("id"), col("text"))
    try {
      val text2 = docs.filter(col("id") === 2L).select("text").as[String].collect().head
      def id(i: Long): java.lang.Long = java.lang.Long.valueOf(i)
      val shards: Seq[(String, Seq[(java.lang.Long, String)])] = Seq(
        "one document" -> Seq((id(2L), text2)),
        "a duplicated row" -> Seq((id(2L), text2), (id(2L), text2), (id(7L), "nothing like it")),
        "a null id" -> Seq((id(2L), text2), (null, text2)),
        "no rows" -> Seq.empty)
      for ((name, rows) <- shards) {
        val local = rows.toDF("id", "text")
        val point = Dedup.nearDupAgainstIndex(local, col("id"), col("text"), index, 0.8)
        assert(point.queryExecution.optimizedPlan
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
          s"$name: a local shard must take the point path")
        // A persisted shard is not driver-resident: the join path.
        val cached = local.persist()
        val joined = Dedup.nearDupAgainstIndex(cached, col("id"), col("text"), index, 0.8)
        def rows3(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
        assert(rows3(point) === rows3(joined), s"$name: point probe ≠ join")
        if (name == "one document") assert(rows3(point).map(_._2) === Seq(0L, 1L))
        cached.unpersist()
      }
    } finally index.unpersist()
  }

  test("a one-document point probe of a loaded corpus index runs no job, tombstones included, and its result reads without a job") {
    val prefix = s"graft_dedup_pt_$runId"
    val all = graft.sources.Tables.documents(spark, sf)
    val built = Dedup.corpusIndex(all.filter(col("source") =!= "src0"), col("doc_id"), col("text"))
    Dedup.writeCorpusIndex(built, prefix, buckets = 4)
    built.unpersist()
    val shard = all.filter(col("source") === "src0").select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    def probe(idx: Dedup.CorpusIndex, d: (Long, String)) =
      Dedup.nearDupAgainstIndex(Seq(d).toDF("doc_id", "text"), col("doc_id"), col("text"),
        idx, threshold = 0.8)
    // A document with a near duplicate runs every step of the probe.
    val idx0 = Dedup.loadCorpusIndex(spark.newSession(), prefix)
    val hit = shard.find(d => probe(idx0, d).count() > 0).get
    val victim = probe(idx0, hit).collect().head.getLong(1)
    Dedup.deleteFromCorpusIndex(Seq(victim).toDF("id"), col("id"), prefix)
    val idx = Dedup.loadCorpusIndex(spark.newSession(), prefix)
    probe(idx, hit).collect() // warm
    val (result, jobs) = JobCount(spark)(probe(idx, hit))
    // Measured: no job — the bucket-pruned `_banded` read and the `_rel`
    // read of the candidates run on the driver (PointRead), and banding
    // the local row runs none. (As Spark reads they were 2 jobs; the join
    // ran 6 jobs and 40 tasks on the corpus benchmark's index.)
    assert(jobs === 0, s"one-document point probe ran $jobs jobs")
    val (rows, readJobs) = JobCount(spark)(result.collect())
    assert(readJobs === 0, "the point probe's result must be local")
    assert(!rows.exists(_.getLong(1) == victim), "the tombstoned near-duplicate must be gone")
  }
}
