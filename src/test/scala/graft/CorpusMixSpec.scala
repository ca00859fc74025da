package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Ranking, Split}

/** Pins the corpus-curation operators: TF-IDF / BM25 ranking, temperature
  * resampling, deterministic global shuffle order, and per-stratum caps.
  * Hand-computed micro-fixtures pin the arithmetic; equivalence tests pin
  * the scalable formulations against their single-window references.
  */
class CorpusMixSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "cat sat mat", "en"),
    (2L, "cat cat dog", "en"),
    (3L, "dog runs far", "en"),
    (4L, "mat mat mat cat", "es"),
  ).toDF("id", "text", "lang")

  // ---- TF-IDF ----

  test("tfIdfTopTerms: hand-computed scores and ranks on a micro corpus") {
    val got = Ranking.tfIdfTopTerms(docs, col("id"), col("text"), k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    // N=4. df: cat=3, mat=2, dog=2, sat=1, runs=1, far=1.
    def idf(df: Int) = math.log(5.0 / (df + 1.0)) + 1.0
    def s(tf: Int, df: Int) =
      BigDecimal(tf * idf(df)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc1: sat=idf(1)≈1.916, mat=idf(2)≈1.511, cat=idf(3)≈1.223.
    assert(got.filter(_._1 == 1L).map(t => (t._2, t._3, t._4)).toSeq ==
      Seq((1, "sat", s(1, 1)), (2, "mat", s(1, 2))))
    // doc2: cat tf=2 (2.446) beats dog (1.511).
    assert(got.filter(_._1 == 2L).map(t => (t._3, t._4)).toSeq ==
      Seq(("cat", s(2, 3)), ("dog", s(1, 2))))
    // doc4: mat tf=3 wins over cat.
    assert(got.filter(_._1 == 4L).head._3 == "mat")
  }

  test("tfIdfTopTerms: rank ties break by term ascending") {
    val tied = Seq((1L, "b a"), (2L, "a c"), (3L, "b c")).toDF("id", "text")
    // All terms have df=2 and tf=1 → equal scores; rank must follow term.
    val got = Ranking.tfIdfTopTerms(tied, col("id"), col("text"), k = 2)
      .filter(col("__id") === 1L).orderBy("rank")
      .collect().map(_.getString(2)).toSeq
    assert(got == Seq("a", "b"))
  }

  // ---- BM25 ----

  test("bm25: exact single-term score on a micro corpus") {
    val got = Ranking.bm25(docs, col("id"), col("text"), Seq("cat"), topN = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    // dl: doc1=3 doc2=3 doc3=3 doc4=4, avgdl=13/4=3.25, N=4, df(cat)=3.
    val idf = math.log(1.0 + (4 - 3 + 0.5) / 3.5)
    def score(tf: Int, dl: Int) = {
      val raw = idf * (tf * (1.2 + 1.0)) /
        (tf + 1.2 * ((1.0 - 0.75) + 0.75 * (dl / 3.25)))
      BigDecimal(raw).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(got(1L) == score(1, 3))
    assert(got(2L) == score(2, 3))
    assert(got(4L) == score(1, 4))
    assert(!got.contains(3L)) // no "cat" → no row
  }

  test("bm25: multi-term scores sum per doc and rank descending") {
    val got = Ranking.bm25(docs, col("id"), col("text"),
        Seq("cat", "dog"), topN = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // doc2 has both terms (cat tf=2, dog tf=1) → strictly top.
    assert(got.head._1 == 2L)
    // Scores are non-increasing in output order.
    assert(got.map(_._2).toSeq == got.map(_._2).sortBy(-_).toSeq)
  }

  // ---- temperature sampling ----

  private lazy val skewed = {
    // 400 rows of lang "en", 100 of "fr" — 4:1 skew.
    val rows = (0L until 400L).map(i => (i, "en")) ++
      (400L until 500L).map(i => (i, "fr"))
    rows.toDF("id", "lang")
  }

  test("temperatureSample(α=0.5) up-weights the rare stratum") {
    val kept = Split.temperatureSample(
        skewed, col("lang"), col("id"), alpha = 0.5, targetFrac = 0.5)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // Expected rates: wsum = 20+10 = 30; en: 250*20/30/400 ≈ 0.4167,
    // fr: 250*10/30/100 ≈ 0.8333 — the md5 fraction is uniform, so kept
    // counts concentrate near 167/83. Wide tolerance: binomial ±4σ.
    assert(math.abs(kept("en") - 166.7) < 4 * 10.0, s"en kept ${kept("en")}")
    assert(math.abs(kept("fr") - 83.3) < 4 * 5.3, s"fr kept ${kept("fr")}")
    // The rare stratum's keep RATE must exceed the common one's.
    assert(kept("fr") / 100.0 > kept("en") / 400.0)
  }

  test("temperatureSample(α=1) reproduces plain rate sampling") {
    val kept = Split.temperatureSample(
        skewed, col("lang"), col("id"), alpha = 1.0, targetFrac = 0.5)
    val plain = skewed.filter(Split.hashFraction(col("id")) < 0.5)
    assert(kept.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      plain.select("id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("temperatureSample is deterministic across partitionings") {
    val a = Split.temperatureSample(
        skewed.repartition(7), col("lang"), col("id"), 0.5, 0.5)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val b = Split.temperatureSample(
        skewed.coalesce(1), col("lang"), col("id"), 0.5, 0.5)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(a == b)
  }

  // ---- percentile calibration ----

  test("percentileCalibrate: hand-computed percent ranks with ties") {
    val scored = Seq(
      (1L, "a", 10), (2L, "a", 20), (3L, "a", 20), (4L, "a", 30), (5L, "a", 40),
      (6L, "b", 99),
    ).toDF("id", "src", "s")
    val got = Split.percentileCalibrate(
        scored, col("src"), col("id"), col("s"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getDouble(3))).toSeq
    // src a, n=5: ranks 1,2,2,4,5 -> pct 0, .25, .25, .75, 1.
    // src b, single row -> 0.
    assert(got == Seq((1L, 0.0), (2L, 0.25), (3L, 0.25), (4L, 0.75),
      (5L, 1.0), (6L, 0.0)))
  }

  test("percentileCalibrate matches the plain-window reference on real data") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val got = Split.percentileCalibrate(
        docs, col("source"), col("doc_id"), col("n_chars"))
      .select("doc_id", "pct")
    val ref = docs.select(col("doc_id"),
      percent_rank().over(
        Window.partitionBy(col("source")).orderBy(col("n_chars"))).as("pct"))
    assert(got.except(ref).isEmpty && ref.except(got).isEmpty)
  }

  // ---- explicit target-mix resampling ----

  test("matchTargetMix: target = observed mix reproduces plain rate sampling") {
    // en 400/500 = 0.8, fr 100/500 = 0.2 — every rate collapses to
    // budgetFrac, so the kept set is exactly the hash filter.
    val kept = Split.matchTargetMix(
        skewed, col("lang"), col("id"),
        Seq("en" -> 0.8, "fr" -> 0.2), budgetFrac = 0.5)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val plain = skewed.filter(Split.hashFraction(col("id")) < 0.5)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == plain)
  }

  test("matchTargetMix: unlisted strata are dropped; rare target saturates") {
    // fr targeted at 0.9 of a 0.5·100-row budget (en unlisted -> N=100):
    // rate = 0.5·100·0.9/100 ... saturation needs rate >= 1, so target
    // the whole budget at fr with budgetFrac 1.0: rate = 1·100·1.0/100 = 1.
    val kept = Split.matchTargetMix(
        skewed, col("lang"), col("id"), Seq("fr" -> 1.0), budgetFrac = 1.0)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept.forall(_._2 == "fr"))
    assert(kept.length == 100) // saturated: keeps every fr row
  }

  test("matchTargetMix realizes the target mix within sampling noise") {
    val kept = Split.matchTargetMix(
        skewed, col("lang"), col("id"),
        Seq("en" -> 0.5, "fr" -> 0.5), budgetFrac = 0.4)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // rates: en 0.4·500·0.5/400 = 0.25 -> ~100; fr 0.4·500·0.5/100 = 1 -> 100.
    assert(kept("fr") == 100L)
    assert(math.abs(kept("en") - 100.0) < 4 * 8.7, s"en kept ${kept("en")}")
  }

  test("matchTargetMix is deterministic across partitionings") {
    val a = Split.matchTargetMix(
        skewed.repartition(7), col("lang"), col("id"),
        Seq("en" -> 0.6, "fr" -> 0.4), 0.5)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val b = Split.matchTargetMix(
        skewed.coalesce(1), col("lang"), col("id"),
        Seq("en" -> 0.6, "fr" -> 0.4), 0.5)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(a == b)
  }

  // ---- vocab encode / shards / interleave ----

  test("vocabEncode: hand-computed ids, tie-break order, OOV as -1") {
    // counts: cat=4, mat=4, dog=2, sat=1, runs=1, far=1.
    // V=3 vocab by (count desc, term asc): cat=0, mat=1, dog=2.
    val got = Ranking.vocabEncode(docs, col("id"), col("text"), vocabSize = 3)
      .orderBy("__id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == Seq(
      (1L, 3L, "0>-1>1"),      // cat sat mat
      (2L, 3L, "0>0>2"),       // cat cat dog
      (3L, 3L, "2>-1>-1"),     // dog runs far
      (4L, 4L, "1>1>1>0")))    // mat mat mat cat
  }

  test("assignShards is balanced-ish, deterministic, and in range") {
    val df = (0L until 4000L).toDF("id")
    val got = Split.assignShards(df, col("id"), nShards = 8)
      .groupBy("shard").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got.keySet == (0 until 8).toSet)
    // uniform expectation 500/shard; 4σ ≈ 84
    got.values.foreach(n => assert(math.abs(n - 500.0) < 90, s"$got"))
    val a = Split.assignShards(df.repartition(7), col("id"), 8)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val b = Split.assignShards(df.coalesce(1), col("id"), 8)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(a == b)
  }

  test("weightedSampleExact: exactly k, weight-skewed, partition-invariant") {
    // 500 heavy (w=100) + 500 light (w=1) docs: u^(1/100) crowds near
    // 1 while u^(1/1) stays uniform, so the top-100 should be almost
    // entirely heavy — deterministic, so the exact counts are stable.
    val df = ((0L until 500L).map(i => (i, 100L)) ++
      (500L until 1000L).map(i => (i, 1L)) ++
      Seq((2000L, 0L))) // zero weight: excluded, never sampled
      .toDF("id", "w")
    val got = Split.weightedSampleExact(df, col("id"), col("w"), k = 100L,
        partitions = 4)
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    assert(got.length == 100, s"expected exactly k rows, got ${got.length}")
    assert(got.map(_._2).sorted.toSeq == (1L to 100L).toSeq)
    val heavy = got.count(_._1 < 500L)
    assert(heavy > 85, s"weighting not biasing the draw: heavy=$heavy")
    assert(!got.exists(_._1 == 2000L))
    // Same sample regardless of physical layout.
    val again = Split.weightedSampleExact(df.repartition(7), col("id"),
        col("w"), k = 100L, partitions = 2)
      .collect().map(r => (r.getLong(0), r.getLong(3))).sortBy(_._2)
    assert(again.toSeq == got.sortBy(_._2).toSeq)
  }

  test("balancedShards: serpentine deal, hand-computed totals") {
    // weights desc: 10,9,8,7,2,1; snake over 2 shards folds ranks as
    // shard 0,1,1,0,0,1 -> totals {19, 18} (plain round-robin would
    // give {20, 17} — the every-pass bias the fold removes).
    val df = Seq((1L, 10L), (2L, 9L), (3L, 8L), (4L, 7L), (5L, 2L),
      (6L, 1L)).toDF("id", "w")
    val got = Split.balancedShards(df, col("id"), col("w"), nShards = 2,
        partitions = 3)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 0, 5L -> 0,
      6L -> 1))
  }

  test("balancedShards: token totals differ by at most the largest weight") {
    val df = (0L until 500L).map(i => (i, (i * 37 % 211) + 1))
      .toDF("id", "w")
    val totals = Split.balancedShards(df, col("id"), col("w"),
        nShards = 8, partitions = 5)
      .groupBy("shard").agg(sum("weight").as("t"))
      .collect().map(_.getLong(1))
    assert(totals.length == 8)
    assert(totals.max - totals.min <= 211,
      s"imbalance ${totals.max - totals.min}")
  }

  test("interleaveOrder: positions unique and strictly cycling strata") {
    val rows = (0L until 30L).map(i => (i, s"src${i % 3}")) ++
      (30L until 40L).map(i => (i, "src0")) // src0 longer than the rest
    val df = rows.toDF("id", "src")
    val got = Split.interleaveOrder(df, col("src"), col("id"))
      .orderBy("pos").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // positions unique
    assert(got.map(_._3).distinct.length == got.length)
    // while all three strata last, consecutive positions cycle src0,1,2
    val prefix = got.take(30).map(_._2)
    assert(prefix == (0 until 10).flatMap(_ => Seq("src0", "src1", "src2")))
    // the tail is src0's surplus, still in increasing pos
    assert(got.drop(30).forall(_._2 == "src0"))
    // per-stratum order is the md5 rank (spot-check src1 monotone by hash)
    val src1 = got.filter(_._2 == "src1").map(_._1)
    val expected = rows.filter(_._2 == "src1").map(_._1)
      .sortBy(i => (java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes).map("%02x".format(_)).mkString, i))
    assert(src1 == expected)
  }

  test("collocations: hand-computed PMI with the support floor") {
    // corpus bigrams: "a b" x3, "b a" x2, "c d" x1 (from "a b a b a b",
    // wait - construct explicitly below)
    val tiny = Seq(
      (1L, "a b a b"),   // bigrams: a>b, b>a, a>b
      (2L, "a b c d"),   // a>b, b>c, c>d
    ).toDF("id", "text")
    val got = Ranking.collocations(tiny, col("id"), col("text"),
        minCount = 2L, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    // events: a>b:3, b>a:1, b>c:1, c>d:1 -> T=6; only a>b passes n>=2.
    // cl(a)=3, cu(b)=3 -> pmi = ln(3*6/(3*3)) = ln 2.
    val exp = BigDecimal(math.log(2.0)).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Seq(("a", "b", 3L, exp)))
  }

  test("invertedIndex: impact order, cap, and df beyond the cap") {
    val corpus = Seq(
      (1L, "x x x y"), (2L, "x x y"), (3L, "x y"), (4L, "x"),
    ).toDF("id", "text")
    val got = Ranking.invertedIndex(corpus, col("id"), col("text"),
        maxPostings = 2)
      .orderBy("term").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSeq
    // x: df=4, capped to top-2 by (tf desc, doc asc) -> 1:3 > 2:2
    // y: df=3, tf all 1 -> doc asc tie-break -> 1:1 > 2:1
    assert(got == Seq(
      ("x", 4L, 2L, "1:3>2:2"),
      ("y", 3L, 2L, "1:1>2:1")))
  }

  // ---- epoch-capped mixture plan ----

  test("epochPlan: hand-computed budget arithmetic, cap, deficit, untargeted") {
    val corpus = Seq(
      ("en", "t1 t2 t3 t4"), ("en", "t1 t2 t3 t4 t5 t6"), // en: 10 tokens
      ("fr", "a b"),                                      // fr: 2 tokens
      ("es", "x y z"),                                    // es: untargeted
    ).toDF("lang", "text")
    val got = Split.epochPlan(corpus, col("lang"), col("text"),
        Seq("en" -> 0.5, "fr" -> 0.5), budgetTokens = 40L, maxEpochs = 3.0)
      .orderBy("stratum").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        if (r.isNullAt(4)) -1.0 else r.getDouble(4), r.getLong(5),
        r.getLong(6)))
      .toSeq
    assert(got == Seq(
      // en: wants 20 of its 10 -> 2 epochs, under the 3-epoch cap.
      ("en", 10L, 0.5, 20L, 2.0, 20L, 0L),
      // es: untargeted -> zero plan, but the tokens stay visible.
      ("es", 3L, 0.0, 0L, 0.0, 0L, 0L),
      // fr: wants 20 of its 2 -> 10 epochs, capped at 3 -> 6, deficit 14.
      ("fr", 2L, 0.5, 20L, 10.0, 6L, 14L)))
  }

  test("epochPlan: a targeted stratum the corpus lacks reports a full deficit") {
    // The join is full-outer: a language the mix WANTS but the corpus
    // entirely lacks must appear with n_tokens=0 and deficit=wanted —
    // the planner's "go get more data" signal — not vanish.
    val corpus = Seq(("en", "t1 t2 t3 t4")).toDF("lang", "text")
    val got = Split.epochPlan(corpus, col("lang"), col("text"),
        Seq("en" -> 0.5, "ja" -> 0.5), budgetTokens = 40L, maxEpochs = 3.0)
      .orderBy("stratum").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        if (r.isNullAt(4)) -1.0 else r.getDouble(4), r.getLong(5),
        r.getLong(6)))
      .toSeq
    assert(got == Seq(
      ("en", 4L, 0.5, 20L, 5.0, 12L, 8L),
      // ja: zero tokens on hand -> epochs undefined (null), nothing
      // realizable, the whole want is deficit.
      ("ja", 0L, 0.5, 20L, -1.0, 0L, 20L)))
  }

  // ---- global shuffle order ----

  test("shuffleOrder is the md5-rank permutation, no single-partition window") {
    val df = (0L until 300L).toDF("id").repartition(5)
    val got = Split.shuffleOrder(df, col("id"), "pos", partitions = 4)
      .select("id", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // A permutation of 1..300 …
    assert(got.map(_._2).sorted.toSeq == (1L to 300L).toSeq)
    // … equal to the reference single-window row_number by md5.
    val ref = df.withColumn("h", md5(col("id").cast("string")))
      .withColumn("pos", row_number().over(Window.orderBy("h")).cast("long"))
      .select("id", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    got.foreach { case (id, pos) => assert(ref(id) == pos, s"id=$id") }
  }

  // ---- per-stratum cap ----

  test("capPerStratum equals the row_number window formulation") {
    val df = skewed // 400 en / 100 fr
    val got = Split.capPerStratum(df, col("lang"), col("id"), k = 10)
      .select("lang", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val w = Window.partitionBy("lang")
      .orderBy(md5(col("id").cast("string")), col("id"))
    val ref = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .select("lang", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(got == ref)
    assert(got.count(_._1 == "en") == 10 && got.count(_._1 == "fr") == 10)
  }

  test("capPerStratum keeps whole groups smaller than k") {
    val tiny = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "g")
    val got = Split.capPerStratum(tiny, col("g"), col("id"), k = 5)
    assert(got.count() == 3)
  }

  // ---- unigram LM quality score ----

  private def r4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("unigramLogProb: hand-computed corpus-LM scores") {
    val got = Ranking.unigramLogProb(docs, col("id"), col("text"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // T=13; ctf: cat=4 sat=1 mat=4 dog=2 runs=1 far=1.
    def lp(ctf: Int) = math.log(ctf / 13.0)
    assert(got(1L) == ((3L, r4((lp(4) + lp(1) + lp(4)) / 3))))
    assert(got(2L) == ((3L, r4((2 * lp(4) + lp(2)) / 3))))
    assert(got(3L) == ((3L, r4((lp(2) + lp(1) + lp(1)) / 3))))
    assert(got(4L) == ((4L, r4((3 * lp(4) + lp(4)) / 4))))
    // The all-common-words doc must outscore the rare-words doc.
    assert(got(4L)._2 > got(3L)._2)
  }

  test("oovRate: top-2 vocab is {cat, mat}; rates are exact fractions") {
    val got = Ranking.oovRate(docs, col("id"), col("text"), vocabSize = 2)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(1L) == ((3L, r4(1.0 / 3)))) // sat is OOV
    assert(got(2L) == ((3L, r4(1.0 / 3)))) // dog is OOV
    assert(got(3L) == ((3L, 1.0)))         // dog runs far — all OOV
    assert(got(4L) == ((4L, 0.0)))         // mat×3 cat — fully in-vocab
  }

  test("klDivergence: two-group hand computation; uniform split gives 0") {
    // en: docs 1-3 (9 tokens), es: doc 4 (4 tokens), T=13.
    val got = Ranking.klDivergence(docs, col("lang"), col("text"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val en = Map("cat" -> 3, "sat" -> 1, "mat" -> 1, "dog" -> 2, "runs" -> 1, "far" -> 1)
    val es = Map("mat" -> 3, "cat" -> 1)
    val ctf = Map("cat" -> 4, "sat" -> 1, "mat" -> 4, "dog" -> 2, "runs" -> 1, "far" -> 1)
    def kl(g: Map[String, Int], tot: Int) = g.map { case (t, c) =>
      val pg = c.toDouble / tot
      pg * math.log(pg / (ctf(t) / 13.0))
    }.sum
    assert(got("en") == ((9L, r4(kl(en, 9)))))
    assert(got("es") == ((4L, r4(kl(es, 4)))))
    // A group identical to the corpus distribution diverges by 0.
    val same = Seq((1L, "a b", "x"), (2L, "a b", "y")).toDF("id", "text", "g")
    val zero = Ranking.klDivergence(same, col("g"), col("text"))
      .collect().map(_.getDouble(2))
    assert(zero.forall(_ == 0.0))
  }

  // ---- embedding centroid scores ----

  test("centroidCosineScores: hand-computed centroids and cosines") {
    import graft.operators.Similarity
    val vecs = Seq(
      (1L, "a", Array(1.0f, 0.0f)),
      (2L, "a", Array(0.0f, 1.0f)),
      (3L, "b", Array(3.0f, 4.0f)),
    ).toDF("id", "g", "v")
    val got = Similarity.centroidCosineScores(vecs, col("id"), col("g"), col("v"))
      .collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // Group a centroid = (0.5, 0.5): cos = 0.5/(1·√0.5) = √0.5 → 0.7071.
    assert(got(1L) == 0.7071 && got(2L) == 0.7071)
    // Singleton group: cosine with itself = 1.
    assert(got(3L) == 1.0)
  }

  test("groupCentroids is partition-invariant (rounded components)") {
    import graft.operators.Similarity
    val vecs = (0L until 100L)
      .map(i => (i, (i % 3).toString, Array(i / 7.0f, 1.0f - i / 13.0f)))
      .toDF("id", "g", "v")
    def cents(df: org.apache.spark.sql.DataFrame) =
      Similarity.groupCentroids(df, col("g"), col("v"))
        .collect()
        .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(cents(vecs.repartition(13)) == cents(vecs.coalesce(1)))
  }

  // ---- randomized equivalence vs plain-Scala references ----

  /** Deterministic pseudo-random corpus: ~120 docs over a 12-word
    * vocabulary with skewed frequencies, 3 languages, empty-doc free
    * (the operators assume tokenizable text; blank handling is pinned
    * separately by the TextFunctions suite). */
  private lazy val randomDocs: Seq[(Long, String, String)] = {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val rnd = new scala.util.Random(20260813L)
    (0L until 120L).map { i =>
      val len = 3 + rnd.nextInt(12)
      // Skew: square the uniform draw so low-index words dominate.
      val words = Seq.fill(len) {
        val u = rnd.nextDouble()
        vocab(((u * u) * vocab.size).toInt.min(vocab.size - 1))
      }
      (i, words.mkString(" "), s"L${i % 3}")
    }
  }

  private def tokenize(s: String): Seq[String] =
    s.trim.toLowerCase.split("\\s+").toSeq

  test("unigramLogProb equals the plain-Scala corpus LM on a random corpus") {
    val df = randomDocs.toDF("id", "text", "lang")
    val got = Ranking.unigramLogProb(df, col("id"), col("text"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val toks = randomDocs.map { case (i, t, _) => i -> tokenize(t) }.toMap
    val ctf = toks.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val total = ctf.values.sum.toDouble
    for ((i, ts) <- toks) {
      // Mirror the operator's per-distinct-term tf·ln(p) form (integer
      // multiply, not repeated addition — not bit-identical in general).
      val exp = ts.groupBy(identity).map { case (t, occ) =>
        occ.size * math.log(ctf(t) / total)
      }.sum / ts.size
      assert(got(i) == ((ts.size.toLong, r4(exp))), s"doc $i")
    }
  }

  test("oovRate equals the plain-Scala top-V computation on a random corpus") {
    val df = randomDocs.toDF("id", "text", "lang")
    val got = Ranking.oovRate(df, col("id"), col("text"), vocabSize = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val toks = randomDocs.map { case (i, t, _) => i -> tokenize(t) }.toMap
    val ctf = toks.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val top5 = ctf.toSeq.sortBy { case (t, c) => (-c, t) }.take(5).map(_._1).toSet
    for ((i, ts) <- toks) {
      val exp = ts.count(t => !top5(t)).toDouble / ts.size
      assert(got(i) == r4(exp), s"doc $i")
    }
  }

  test("tfIdfTopTerms top-1 equals the plain-Scala argmax on a random corpus") {
    val df = randomDocs.toDF("id", "text", "lang")
    val got = Ranking.tfIdfTopTerms(df, col("id"), col("text"), k = 1)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val toks = randomDocs.map { case (i, t, _) => i -> tokenize(t) }.toMap
    val n = toks.size
    val docFreq = toks.values.map(_.distinct).flatten
      .groupBy(identity).view.mapValues(_.size).toMap
    for ((i, ts) <- toks) {
      val scores = ts.groupBy(identity).view.mapValues(_.size).toMap.map {
        case (t, tf) =>
          t -> r4(tf * (math.log((n + 1.0) / (docFreq(t) + 1.0)) + 1.0))
      }
      // Same tie-break as the operator: score desc, then term asc.
      val exp = scores.toSeq.sortBy { case (t, s) => (-s, t) }.head._1
      assert(got(i) == exp, s"doc $i: got ${got(i)}, expected $exp ($scores)")
    }
  }

  test("klDivergence equals the plain-Scala computation on a random corpus") {
    val df = randomDocs.toDF("id", "text", "lang")
    val got = Ranking.klDivergence(df, col("lang"), col("text"))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val byLang = randomDocs.groupBy(_._3).view
      .mapValues(_.flatMap { case (_, t, _) => tokenize(t) }).toMap
    val all = byLang.values.flatten.toSeq
    val ctf = all.groupBy(identity).view.mapValues(_.size).toMap
    val total = all.size.toDouble
    for ((lang, ts) <- byLang) {
      val gtf = ts.groupBy(identity).view.mapValues(_.size).toMap
      val gtot = ts.size.toDouble
      val exp = gtf.map { case (t, c) =>
        val pg = c / gtot
        pg * math.log(pg / (ctf(t) / total))
      }.sum
      assert(got(lang) == r4(exp), s"lang $lang")
    }
  }

  test("trainHashedLogReg over all-null text throws and leaves no cache entry") {
    // No document has a token event: training refuses, and the per-doc
    // feature frame it persisted is released on the way out.
    spark.sharedState.cacheManager.clearCache()
    val df = Seq((1L, null: String, true), (2L, null: String, false))
      .toDF("id", "text", "label")
    val e = intercept[IllegalArgumentException](Ranking.trainHashedLogReg(
      df, col("id"), col("text"), col("label"), nBuckets = 4, iters = 2, lr = 0.5))
    assert(e.getMessage.contains("no documents with token events"), e.getMessage)
    assert(spark.sharedState.cacheManager.isEmpty,
      "a failed training run left its feature frame cached")
  }

  // ---- bigram LM ----

  test("bigramLogProb: hand-computed interpolated scores on a micro corpus") {
    // corpus bigram events: (a b) ×2 [docs 1, 2], (b a) ×1 [doc 2]
    // cb(a,b)=2 cl(a)=2 cu(b)=2; cb(b,a)=1 cl(b)=1 cu(a)=1; T=3
    val docs = Seq((1L, "a b"), (2L, "a b a"), (3L, "x"))
      .toDF("id", "text")
    val got = graft.operators.Ranking.bigramLogProb(
        docs, col("id"), col("text"))
      .collect().map(r => r.getAs[Long]("__id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Double]("logprob")))).toMap
    val pAB = 0.75 * (2.0 / 2.0) + 0.25 * (2.0 / 3.0)
    val pBA = 0.75 * (1.0 / 1.0) + 0.25 * (1.0 / 3.0)
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) == ((1L, r4(math.log(pAB)))), got(1L))
    assert(got(2L) == ((2L, r4((math.log(pAB) + math.log(pBA)) / 2.0))), got(2L))
    assert(!got.contains(3L), "single-token doc has no bigram events")
  }

  test("bigramLogProb ranks word-salad below natural order, unigram LM cannot") {
    // Same unigram bag, scrambled transitions: 12 docs share the fluent
    // word order, one doc reverses it. Every unigram count is identical
    // across docs, so the unigram LM gives all docs the same score; the
    // bigram LM must rank the scrambled doc strictly lower.
    val fluent = "the cat sat on the mat"
    val salad = "mat the on sat cat the"
    val docs = ((1L to 12L).map(i => (i, fluent)) :+ (99L, salad))
      .toDF("id", "text")
    val bg = graft.operators.Ranking.bigramLogProb(docs, col("id"), col("text"))
      .collect().map(r => r.getAs[Long]("__id") -> r.getAs[Double]("logprob")).toMap
    assert(bg(99L) < bg(1L), s"salad ${bg(99L)} should score below fluent ${bg(1L)}")
    val uni = graft.operators.Ranking.unigramLogProb(docs, col("id"), col("text"))
      .collect().map(r => r.getAs[Long]("__id") -> r.getAs[Double]("logprob")).toMap
    assert(uni(99L) == uni(1L), "unigram LM is blind to word order by construction")
  }

  // ---- token-budget selection ----

  test("tokenBudgetSelect keeps the quality-ordered prefix within budget") {
    // Quality ordering on this corpus: good (quality ≥ 1 via length
    // band) before bad (0-token / punct-only docs score lower); id
    // breaks ties. Budget 0.5 of total tokens.
    val docs = Seq(
      (1L, "the quick brown fox and a dog"),          // 7 tokens, decent quality
      (2L, "of to in is it and or the a an"),         // 10 tokens, all stopwords
      (3L, "!!! ??? ... ;;; :::"),                    // punct-only, low quality
      (4L, "the sun sets and it is quiet here now"))  // 9 tokens, decent
      .toDF("id", "text")
    val got = Split.tokenBudgetSelect(docs, col("id"), col("text"),
      budgetFrac = 0.5, partitions = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    // reference: same selection computed driver-side from the operator's
    // own scoring columns (the scoring itself is q37-oracle-gated)
    val scored = docs.select(col("id"),
        graft.functions.TextFunctions.qualityScore(col("text")).as("q"),
        graft.functions.TextFunctions.tokenCount(col("text")).cast("long").as("n"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val budget = scored.map(_._3).sum / 2
    val expect = scored.sortBy(t => (-t._2, t._1))
      .scanLeft((0L, 0, 0L, 0L)) { case ((_, _, _, cum), (id, q, n)) => (id, q, n, cum + n) }
      .drop(1).takeWhile(_._4 <= budget)
      .map(t => (t._1, t._2, t._3, t._4)).toSet
    assert(got.toSet == expect, s"got ${got.toSeq} expect $expect")
    assert(got.nonEmpty && got.map(_._3).sum <= budget)
  }

  test("tokenBudgetSelect orders correctly for out-of-band ids (huge, negative)") {
    // Regression: a synthetic composite key (quality band * 1e12 + id)
    // would mis-order ids >= 1e12 or negative; native multi-column range
    // ordering must not. High-quality docs must fill the budget first
    // regardless of id magnitude or sign.
    val good = "the quick brown fox jumps over a lazy dog in the sun"
    val bad = "!!! ??? ..."
    val docs = Seq(
      (5000000000000L, good),   // above any band width
      (-7L, bad),               // negative id, low quality
      (1L, good))
      .toDF("id", "text")
    val got = Split.tokenBudgetSelect(docs, col("id"), col("text"),
      budgetFrac = 0.5, partitions = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(got.nonEmpty)
    // every selected doc must have quality >= every unselected doc's
    val selected = got.map(_._1).toSet
    val qualities = Map(5000000000000L -> 4, 1L -> 4) // good docs score high
    assert(selected.subsetOf(qualities.keySet),
      s"low-quality/negative-id doc selected before high-quality: $selected")
  }

  // ---- leakage-safe split ----

  test("leakageSafeTag keeps every dup cluster in one split") {
    val docs = (0L until 50L).map(i => (i, s"doc $i")).toDF("id", "text")
    // clusters: {1,2,3}, {10,11}; rest singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Split.leakageSafeTag(docs, col("id"), pairs, frac = 0.3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.length == 50)
    val byId = got.map(t => t._1 -> t).toMap
    // cluster members share the min-id key AND the split
    for (m <- Seq(2L, 3L)) {
      assert(byId(m)._2 == 1L, s"member $m key")
      assert(byId(m)._3 == byId(1L)._3, s"member $m split")
    }
    assert(byId(11L)._2 == 10L && byId(11L)._3 == byId(10L)._3)
    // singletons key by their own id and match the plain tag
    assert(byId(7L)._2 == 7L)
    val plain = docs.select(col("id"),
        Split.tag(col("id"), 0.3).as("s")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    got.filter(t => t._1 == t._2).foreach { case (id, _, s) =>
      assert(plain(id) == s, s"singleton $id")
    }
    // both splits non-empty at this frac
    assert(got.map(_._3).toSet == Set("train", "test"))
  }

  test("hashedLinearScore: driver-recomputed margin, null doc at the " +
    "boundary, threshold in logit space") {
    import java.security.MessageDigest
    def md5hex(s: String): String = MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def frac(s: String): Double =
      java.lang.Long.parseLong(md5hex(s).take(8), 16) / 4294967296.0
    def weight(seed: String, b: Long): Double =
      BigDecimal((frac(s"${seed}_$b") - 0.5) * 2)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def bucket(term: String, n: Long): Long =
      java.lang.Long.parseLong(md5hex(term).take(8), 16) % n

    val docs = Seq((1L, "cat cat dog"), (2L, null.asInstanceOf[String]))
      .toDF("id", "text")
    val got = Ranking.hashedLinearScore(docs, col("id"), col("text"),
        nBuckets = 8, seed = "s", bias = 0.0, threshold = 0.5)
      .orderBy("id").collect()
    val expZ = BigDecimal(
        2.0 * weight("s", bucket("cat", 8)) + weight("s", bucket("dog", 8)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert((got(0).getLong(1), got(0).getDouble(2), got(0).getBoolean(3)) ==
      ((3L, expZ, expZ >= 0.0)))
    // A null-text doc is scored, not dropped: z = 0, exactly at the
    // σ = 0.5 boundary, kept under threshold 0.5.
    assert((got(1).getLong(1), got(1).getDouble(2), got(1).getBoolean(3)) ==
      ((0L, 0.0, true)))
    // threshold 0.9 maps to z >= logit(0.9)·n_tok: flips doc 1 unless
    // its mean margin is huge (it is not — |w| <= 1).
    val strict = Ranking.hashedLinearScore(docs, col("id"), col("text"),
        nBuckets = 8, seed = "s", bias = 0.0, threshold = 0.9)
      .orderBy("id").collect()
    assert(!strict(0).getBoolean(3))
    // The zero-token doc must ALSO be dropped under a strict cut: the
    // generic gate would degenerate to 0 >= 0 = true for any threshold;
    // boundary docs (σ = 0.5) are kept only when threshold <= 0.5.
    assert(!strict(1).getBoolean(3),
      "empty doc must not pass a threshold above the 0.5 boundary")
  }
}
