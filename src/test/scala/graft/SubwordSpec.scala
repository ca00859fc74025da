package graft

import org.apache.spark.sql.functions._

import graft.operators.Subword

/** Pins the subword tokenizer: hand-computed vocabulary counts and
  * greedy longest-match walks, the UNK/advance-one fallback, and the
  * empty-document contract. */
class SubwordSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "aa ab"),
    (2L, "aa b")).toDF("doc_id", "text")

  test("vocab: frequency-weighted substring counts, count-desc/piece-asc ids") {
    val v = Subword.vocab(docs, col("text"), vocabSize = 3, maxPieceLen = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    // occurrences: "aa"x2 -> a,a,aa each; "ab" -> a,ab,b; "b" -> b.
    // counts: a=5, aa=2, b=2, ab=1; top-3 with piece-asc tiebreak.
    assert(v == Seq(("a", 5L, 0), ("aa", 2L, 1), ("b", 2L, 2)))
  }

  test("encode: greedy longest match, hand-computed walks") {
    val got = Subword.trainEncode(docs, col("doc_id"), col("text"),
        vocabSize = 3, maxPieceLen = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getString(4))).toSeq
    // "aa" -> [aa]=1 (longest beats a+a); "ab" -> a(0), b(2); "b" -> 2.
    assert(got == Seq(
      (1L, 2L, 3L, 1.5, "1>0>2"),
      (2L, 2L, 2L, 1.0, "1>2")))
  }

  test("encode: no-match positions emit UNK -1 and advance one char") {
    val df = Seq((1L, "xyx zz")).toDF("doc_id", "text")
    val got = Subword.encodeWithVocab(df, col("doc_id"), col("text"),
        vocab = Seq("x" -> 0), maxPieceLen = 2)
      .collect().head
    // "xyx" -> x(0), y(UNK), x(0); "zz" -> UNK, UNK.
    assert((got.getLong(1), got.getLong(2), got.getString(4)) ==
      ((2L, 5L, "0>-1>0>-1>-1")))
  }

  test("encode: empty and blank docs produce zero pieces, null fertility") {
    val df = Seq((1L, ""), (2L, "   "), (3L, "a")).toDF("doc_id", "text")
    val got = Subword.encodeWithVocab(df, col("doc_id"), col("text"),
        vocab = Seq("a" -> 0), maxPieceLen = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.isNullAt(3), r.getString(4))).toSeq
    assert(got == Seq(
      (1L, 0L, 0L, true, ""),
      (2L, 0L, 0L, true, ""),
      (3L, 1L, 1L, false, "0")))
  }

  test("encode: a piece longer than the remaining word cannot match") {
    // "ba": at pos 2 the remaining text is "a"; substr would silently
    // truncate "ab"/"aa" probes to "a" — the length guard must keep a
    // 2-char piece from claiming a 1-char match and over-advancing.
    val df = Seq((1L, "ba")).toDF("doc_id", "text")
    val got = Subword.encodeWithVocab(df, col("doc_id"), col("text"),
        vocab = Seq("a" -> 0, "ba" -> 1, "ab" -> 2), maxPieceLen = 2)
      .collect().head
    assert(got.getString(4) == "1")
    val df2 = Seq((1L, "ca")).toDF("doc_id", "text")
    val got2 = Subword.encodeWithVocab(df2, col("doc_id"), col("text"),
        vocab = Seq("a" -> 0, "ab" -> 1), maxPieceLen = 2)
      .collect().head
    // c -> UNK, then "a" must match as the 1-char piece (not "ab").
    assert(got2.getString(4) == "-1>0")
  }

  test("bpeMerges: hand-computed merge schedule with deterministic ties") {
    val df = Seq((1L, "low low lower"), (2L, "new newer low"))
      .toDF("doc_id", "text")
    val got = Subword.bpeMerges(df, col("text"), nMerges = 6)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    // words: low x3, lower, new, newer. Step 1 ties (l,o)=(o,w)=4 ->
    // left-asc picks (l,o); step 3 ties at 2 across (e,r),(e,w),(n,e),
    // (w,e) -> (e,r); step 6 ties at 1 -> (low,er) by left asc.
    assert(got == Seq(
      (1, "l", "o", "lo", 4L),
      (2, "lo", "w", "low", 4L),
      (3, "e", "r", "er", 2L),
      (4, "e", "w", "ew", 2L),
      (5, "n", "ew", "new", 2L),
      (6, "low", "er", "lower", 1L)))
  }

  test("bpeMerges: pair counts include overlapping adjacencies; " +
    "merge application is left-to-right non-overlapping") {
    val df = Seq((1L, "aaaa")).toDF("doc_id", "text")
    val got = Subword.bpeMerges(df, col("text"), nMerges = 2)
      .collect()
      .map(r => (r.getInt(0), r.getString(3), r.getLong(4))).toSeq
    // "aaaa": 3 adjacent (a,a) pairs counted (overlap included, the
    // classic get_stats convention); the rewrite is non-overlapping
    // ([aa, aa]), so step 2 merges (aa, aa) with count 1.
    assert(got == Seq((1, "aa", 3L), (2, "aaaa", 1L)))
  }

  test("bpeMerges: stops early when no adjacent pair remains") {
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    assert(Subword.bpeMerges(df, col("text"), nMerges = 3).count() == 0L)
  }

  test("applyMerges: ordered inference reproduces the learned segments") {
    val merges = Seq("l" -> "o", "lo" -> "w", "e" -> "r",
      "e" -> "w", "n" -> "ew", "low" -> "er")
    val got = Seq(Tuple1("lowering")).toDF("w")
      .select(Subword.applyMerges(col("w"), merges).as("syms"))
      .collect().head.getSeq[String](0)
    assert(got == Seq("lower", "i", "n", "g"))
  }

  test("durable vocabulary: write → fresh-session reload → encode ≡ encode-with-built") {
    // The versioned-tokenizer lifecycle: train+write in the build
    // session, encode from a reloaded handle in a fresh one (the
    // months-of-consumers shape). The reloaded encode must be bit-equal
    // AND the pinned maxPieceLen must travel with the artifact.
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val v = Subword.vocab(docs, col("text"), vocabSize = 200,
      maxPieceLen = 4)
    val built = Subword.encodeWithVocabJoin(
        docs, col("doc_id"), col("text"),
        v.select(col("piece"), col("vid")), maxPieceLen = 4)
      .orderBy("doc_id").collect().toSeq
    val path = java.nio.file.Files.createTempDirectory("graft_vocab_lc")
      .toString
    try {
      Subword.writeVocab(v, maxPieceLen = 4, path)

      val fresh = spark.newSession()
      val (v2, cap) = Subword.loadVocab(fresh, path)
      assert(cap === 4, "maxPieceLen must round-trip with the artifact")
      val reloaded = Subword.encodeWithVocabJoin(
          graft.sources.Tables.documents(fresh, sf)
            .select(col("doc_id"), col("text")),
          col("doc_id"), col("text"),
          v2.select(col("piece"), col("vid")), cap)
        .orderBy("doc_id").collect().toSeq
      assert(built.nonEmpty)
      assert(reloaded === built,
        "reloaded-vocabulary encode must be bit-equal to the build encode")
      val bad = intercept[IllegalArgumentException] {
        Subword.loadVocab(fresh, s"$path/definitely_missing")
      }
      assert(bad.getMessage.contains("definitely_missing"))
    } finally graft.SpecScratch.deleteTree(new java.io.File(path))
  }
}
