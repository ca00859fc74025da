package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Corpus-level health statistics for a training-data pipeline: the
  * numbers a curation run reports before anyone trains on the data.
  */
object CorpusStats {

  /** Vocabulary-growth curve: for every document (in `id` order), the
    * number of NOVEL tokens it introduces (tokens whose global first
    * occurrence is this document) and the cumulative distinct-vocabulary
    * size up to and including it — the Heaps-law curve that tells a
    * pipeline whether more data is still buying new vocabulary.
    *
    * Scale shape: the naive formulation — `count(DISTINCT token) OVER
    * (ORDER BY doc)` — is a global window over every token occurrence
    * and cannot distribute. This one never windows raw tokens:
    *   1. first-occurrence doc per token = `min(doc_id)` hash aggregate
    *      (partial-agg friendly; shuffle carries ≤ |vocab| rows);
    *   2. novel-count per doc = second tiny aggregate (≤ |docs| rows);
    *   3. cumulative sum via [[ScalableWindow.runningTotal]]'s two-phase
    *      range-partitioned cumsum — no single-partition sort.
    * Output: (doc_id, novel_terms, vocab_size), one row per document.
    */
  def vocabGrowth(
      docs: DataFrame, id: Column, text: Column,
      partitions: Int = 32): DataFrame = {
    val d = docs.select(id.cast("long").as("doc_id"), text.as("text"))
    val firstDoc = d
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(min(col("doc_id")).as("doc_id"))
    val novel = firstDoc.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("novel_terms"))
    val base = d.select(col("doc_id"))
      .join(novel, Seq("doc_id"), "left")
      .withColumn("novel_terms", coalesce(col("novel_terms"), lit(0L)))
    ScalableWindow.runningTotal(base, col("doc_id").asc_nulls_first,
        col("novel_terms"), as = "vocab_size", partitions = partitions)
      .select(col("doc_id"), col("novel_terms"), col("vocab_size"))
  }

  /** N-gram novelty per document: how much of each doc's distinct
    * n-gram set is globally NEW (its first occurrence by `id` order is
    * this doc) — [[vocabGrowth]]'s phrase-level sibling and the
    * dedup-pressure diagnostic: a corpus whose per-doc novelty decays
    * toward zero is re-crawling itself, and the decay curve says when
    * additional raw data stops buying new n-grams.
    *
    * Scale shape identical to [[vocabGrowth]]: shingles are hashed
    * 64-bit longs ([[graft.expressions.HashedShingles]], one codegen'd
    * pass), first-occurrence is a `min(doc_id)` hash aggregate whose
    * shuffle carries ≤ |distinct shingles| longs with map-side partial
    * aggregation, novelty-count is a second ≤|docs| aggregate. No
    * windows, no per-occurrence shuffle. The ratio is one IEEE double
    * division of two small ints — bit-identical cross-engine, no
    * rounding needed. Output: (doc_id, n_shingles, n_novel, novelty).
    */
  def ngramNovelty(
      docs: DataFrame, id: Column, text: Column, n: Int): DataFrame = {
    val sh = docs.select(id.cast("long").as("doc_id"),
      graft.expressions.HashedShingles.shingles(text, n).as("hs"))
    val sizes = sh.select(col("doc_id"),
      size(col("hs")).cast("long").as("n_shingles"))
    val novel = sh.select(col("doc_id"), explode(col("hs")).as("h"))
      .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_novel"))
    sizes.join(novel, Seq("doc_id"), "left")
      .withColumn("n_novel", coalesce(col("n_novel"), lit(0L)))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_shingles"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        col("novelty"))
  }

  /** Schema-driven table profile — the relational sibling of
    * [[embeddingAudit]] (the Deequ/data-card shape): one row per column
    * with row count, null count, EXACT distinct count, and numeric
    * min/max (null for non-numeric columns — cross-engine string/
    * timestamp formatting is not part of the contract).
    *
    * Scale shape: ONE scan. All per-column aggregates live in a single
    * aggregation node; the multi-column exact `countDistinct` plans as
    * Spark's Expand (one input row fans out once per distinct-counted
    * column) — the canonical exact-profiling plan, column-count-bounded
    * fan-out. At extreme widths or corpus sizes the drop-in swap is
    * `approx_count_distinct` (HLL, one pass, no Expand), which trades
    * the oracle-checkable exactness for a sketch; the exact form is the
    * contract here. The melt to long format touches only the single
    * 1-row aggregate output. Output: (col_name, n, n_null, n_distinct,
    * min_num, max_num), one row per input column. */
  def profileTable(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.NumericType
    val fields = df.schema.fields.toSeq
    def isNum(f: org.apache.spark.sql.types.StructField): Boolean =
      f.dataType.isInstanceOf[NumericType]
    // Input columns are addressed backtick-QUOTED, not as parsed paths:
    // a legal column name containing a dot would otherwise be read as a
    // nested-field reference and misbind or throw. Derived aggregate
    // aliases are index-keyed for the same reason.
    def quoted(n: String): Column = col(s"`${n.replace("`", "``")}`")
    val spread = df
    val aggs = Seq(count(lit(1)).as("__n")) ++
      fields.zipWithIndex.flatMap { case (f, i) =>
        val c = quoted(f.name)
        Seq(count(c).as(s"__nn_$i"),
          countDistinct(c).as(s"__nd_$i")) ++
          (if (isNum(f))
            Seq(min(c).cast("double").as(s"__mn_$i"),
              max(c).cast("double").as(s"__mx_$i"))
          else Seq.empty)
      }
    val row = spread.agg(aggs.head, aggs.tail: _*)
    row.select(explode(array(fields.zipWithIndex.map { case (f, i) =>
        struct(lit(f.name).as("col_name"),
          col("__n").as("n"),
          (col("__n") - col(s"__nn_$i")).as("n_null"),
          col(s"__nd_$i").as("n_distinct"),
          (if (isNum(f)) col(s"__mn_$i")
           else lit(null).cast("double")).as("min_num"),
          (if (isNum(f)) col(s"__mx_$i")
           else lit(null).cast("double")).as("max_num"))
      }: _*)).as("p"))
      .select(col("p.*"))
  }

  /** Corpus snapshot diff — the incremental-pipeline primitive: classify
    * every document across two corpus versions as `added` (id only in
    * the new snapshot), `removed` (id only in the old), or `changed`
    * (same id, different content hash). Unchanged docs emit NO row, so
    * the output is bounded by the CHURN, not the corpus — the property
    * that makes "re-run only what moved" incremental curation possible.
    *
    * Scale shape: each side is projected to (id, md5) BEFORE the join —
    * the shuffle carries 32-char hashes, never document text — and the
    * single full-outer hash join on the id is the only exchange. Null
    * text hashes as the empty string (a present-but-empty doc is a real
    * state, distinct from an absent id). Ids are assumed unique per
    * snapshot (the corpus-id contract everywhere else in this library).
    * Output: (doc_id, status, old_md5, new_md5). */
  def snapshotDiff(
      oldDocs: DataFrame, newDocs: DataFrame,
      id: Column, text: Column): DataFrame = {
    def side(df: DataFrame, as: String): DataFrame =
      df.select(id.cast("long").as("doc_id"),
        md5(coalesce(text, lit(""))).as(as))
    side(oldDocs, "old_md5")
      .join(side(newDocs, "new_md5"), Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("old_md5").isNull, lit("added"))
          .when(col("new_md5").isNull, lit("removed"))
          .when(col("old_md5") =!= col("new_md5"), lit("changed")))
      .filter(col("status").isNotNull)
      .select(col("doc_id"), col("status"), col("old_md5"), col("new_md5"))
  }

  /** Tokenizer fertility per group (language, source): tokens per doc
    * and characters per token — the numbers that turn a per-language
    * document budget into a TOKEN budget, and the standard diagnostic
    * for scripts the whitespace tokenizer serves badly (chars/token far
    * from the corpus norm). Uses the library's one tokenizer definition
    * ([[TextFunctions.tokenCount]]) so the counts agree with every other
    * token-denominated operator (q81's budget, q39's packing).
    *
    * One partial-agg pass; the ratios are single IEEE divisions of
    * exact integer sums, rounded to 4 dp (null when a group has zero
    * tokens — no 0/0). Output: (group, n_docs, n_tokens, n_chars,
    * chars_per_token, tokens_per_doc). */
  def tokenizerFertility(
      docs: DataFrame, group: Column, text: Column): DataFrame = {
    val t = coalesce(text, lit(""))
    Dedup.spread(docs)
      .select(group.as("group"),
        TextFunctions.tokenCount(t).cast("long").as("__nt"),
        length(t).cast("long").as("__nc"))
      .groupBy(col("group"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__nt")).as("n_tokens"),
        sum(col("__nc")).as("n_chars"))
      .select(col("group"), col("n_docs"), col("n_tokens"), col("n_chars"),
        when(col("n_tokens") > 0,
          round(col("n_chars").cast("double") / col("n_tokens").cast("double"), 4))
          .as("chars_per_token"),
        round(col("n_tokens").cast("double") / col("n_docs").cast("double"), 4)
          .as("tokens_per_doc"))
  }

  /** Sequence-packing efficiency report per group: what a context window
    * of `seqLen` tokens costs under pad-per-document batching versus
    * concat-and-chunk packing (q39's layout) — the report that justifies
    * (or kills) a packing stage before anyone pays for it. Per group:
    * document/token counts, padded chunk count `Σ ⌈tokens_d / L⌉` with
    * its waste fraction, and packed chunk count `⌈Σ tokens_d / L⌉` with
    * its (near-zero) waste fraction.
    *
    * One partial-agg pass; chunk arithmetic is exact integer ceiling
    * division on both engines (`floor((t + L − 1) / L)` over doubles is
    * exact for any corpus below 2^53 tokens), waste fractions are single
    * IEEE divisions rounded to 4 dp, null for an empty group (no 0/0).
    * Empty docs contribute zero chunks. Output: (group, n_docs,
    * n_tokens, pad_chunks, pad_waste, packed_chunks, packed_waste). */
  def packingEfficiency(
      docs: DataFrame, group: Column, text: Column, seqLen: Int): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    val l = lit(seqLen.toLong)
    def chunksOf(tokens: Column): Column =
      floor((tokens + l - lit(1L)).cast("double") / l.cast("double"))
        .cast("long")
    val perDoc = docs.select(group.as("group"),
      TextFunctions.tokenCount(coalesce(text, lit(""))).cast("long").as("__nt"))
    def waste(tokens: Column, chunks: Column): Column =
      when(chunks > 0, round(
        lit(1.0) - tokens.cast("double") /
          (chunks.cast("double") * l.cast("double")), 4))
    perDoc.groupBy(col("group"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__nt")).as("n_tokens"),
        sum(chunksOf(col("__nt"))).as("pad_chunks"))
      .select(col("group"), col("n_docs"), col("n_tokens"), col("pad_chunks"),
        waste(col("n_tokens"), col("pad_chunks")).as("pad_waste"),
        chunksOf(col("n_tokens")).as("packed_chunks"),
        waste(col("n_tokens"), chunksOf(col("n_tokens"))).as("packed_waste"))
  }

  /** N-gram frequency spectrum (count-of-counts): how many distinct
    * n-grams occur exactly once (hapax), twice, … up to `maxFreq`, with
    * one overflow class `maxFreq + 1` for everything more common — the
    * Zipf/Good-Turing diagnostic that reads a corpus's health at a
    * glance (a hapax share far above the reference curve means OCR
    * noise or boilerplate IDs; far below means the corpus is
    * re-crawling itself). N-gram events keep MULTIPLICITY (an n-gram
    * repeated inside one doc counts each occurrence — this is an
    * occurrence spectrum, not a document-frequency one); docs shorter
    * than `n` tokens contribute no events.
    *
    * Scale shape: n-gram counts are one hash aggregate whose shuffle
    * carries ≤ |distinct n-grams| rows with map-side partial
    * aggregation; the spectrum is a second aggregate over that frame
    * onto ≤ maxFreq + 1 rows. No windows, no driver state. N-gram
    * identity is the joined STRING (the oracle-checkable contract); at
    * extreme vocabularies the drop-in is hashing to 64-bit longs first
    * ([[graft.expressions.HashedShingles]]' trick), trading
    * exact-identity for a lighter shuffle. Output: (freq, n_terms). */
  def termSpectrum(
      docs: DataFrame, text: Column, n: Int = 1, maxFreq: Int = 10): DataFrame = {
    require(n >= 1, "n must be >= 1")
    require(maxFreq >= 1, "maxFreq must be >= 1")
    val toks = TextFunctions.tokens(text)
    // Zip-slice n-gram build ([[TextFunctions.ngramStrings]]): the
    // element_at-per-position shape this replaces was the K=64 sweep's
    // one hot spot (q99 28.8× at 64× data vs q83's 5.9× on the same
    // event volume).
    val grams = explode(TextFunctions.ngramStrings(toks, n))
    Dedup.spread(docs)
      .filter(size(toks) >= n)
      .select(grams.as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("ctf"))
      .groupBy(least(col("ctf"), lit(maxFreq.toLong + 1L)).as("freq"))
      .agg(count(lit(1)).as("n_terms"))
  }

  /** Benford leading-digit audit: the observed first-significant-digit
    * distribution of a positive numeric column against Benford's law
    * (`log10(1 + 1/d)`) — the classic fabricated-or-truncated-data
    * screen for naturally spanning magnitudes (amounts, populations,
    * file sizes). Per digit 1–9: count, observed frequency, Benford
    * expectation, and the χ² contribution `N·(obs − exp)²/exp`; the
    * caller sums the contributions against a χ²₈ critical value.
    * Non-positive and null values are excluded (no leading digit).
    * ALL nine digits appear in the output, observed or not — a digit
    * with zero observations still contributes `N·exp` to the χ² (obs=0
    * in the formula), and dropping it would understate the statistic
    * exactly when the data is most non-Benford (e.g. every value
    * sharing one leading digit). The observed counts are therefore
    * joined onto a literal 1..9 frame, n coalesced to 0.
    *
    * One partial-agg pass; the leading digit is computed arithmetically
    * (`x / 10^⌊log10 x⌋` — no string round-trip) in codegen'd
    * expressions; frequencies are exact-count divisions and the only
    * libm calls (log10, the expectation) are shared with the oracle and
    * rounded at 4 dp. Output: (digit, n, obs_freq, benford_freq,
    * chi2_part) — exactly nine rows. */
  def benfordAudit(df: DataFrame, value: Column): DataFrame = {
    val spark = df.sparkSession
    val x = value.cast("double")
    // Clamp into [1, 9]: at exact powers of ten a 1-ulp-low log10 makes
    // floor(log10 x) one too small and the raw quotient lands on 10;
    // unclamped, such rows would silently vanish in the 1..9 grid join,
    // shrinking both the digit counts and the chi-square total N. The
    // oracle SQL applies the identical clamp.
    val digit = least(greatest(
      floor(x / pow(lit(10.0), floor(log10(x)))).cast("int"),
      lit(1)), lit(9))
    val observed = df
      .filter(x.isNotNull && x > 0)
      .groupBy(digit.as("digit"))
      .agg(count(lit(1)).as("n"))
    val digits = spark.range(1, 10).select(col("id").cast("int").as("digit"))
    val counts = digits.join(observed, Seq("digit"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
    val total = counts.agg(sum(col("n")).as("__t"))
    counts.crossJoin(broadcast(total))
      .withColumn("obs", when(col("__t") > 0,
        col("n").cast("double") / col("__t").cast("double")))
      .withColumn("exp",
        log10(lit(1.0) + lit(1.0) / col("digit").cast("double")))
      .select(col("digit"), col("n"),
        round(col("obs"), 4).as("obs_freq"),
        round(col("exp"), 4).as("benford_freq"),
        round(col("__t").cast("double") *
          (col("obs") - col("exp")) * (col("obs") - col("exp")) / col("exp"),
          4).as("chi2_part"))
  }

  /** Embedding-table audit: the per-group data-quality gate an embedding
    * corpus passes before indexing/training — row counts, malformed
    * vectors (null / wrong dimension / non-finite components / zero
    * norm), and L2-norm range stats.
    *
    * One partial-aggregation pass; every check is a row-local HOF
    * (`exists`, in-order double fold for the norm — the
    * [[graft.functions.VectorFunctions]] association, mirrored in oracle
    * SQL). Norm stats cover only the VALID population (non-null, all
    * components finite) — a NaN norm would otherwise poison min/max/mean
    * for the whole group. Norm aggregates are rounded to 6 dp (cross-row
    * sum-order discipline, as [[Similarity.groupCentroids]]).
    * Output: (group, n, n_null, n_bad_dim, n_nonfinite, n_zero_norm,
    * min_norm, max_norm, mean_norm). */
  def embeddingAudit(
      emb: DataFrame, group: Column, vec: Column,
      expectedDim: Int): DataFrame = {
    val v = col("__v")
    val nonFinite = exists(v, x =>
      isnan(x) || abs(x.cast("double")) === lit(Double.PositiveInfinity))
    val normSq = aggregate(
      transform(v, x => x.cast("double") * x.cast("double")),
      lit(0.0d), (acc, x) => acc + x)
    val norm = when(v.isNotNull && !nonFinite, sqrt(normSq))
    emb.select(group.as("group"), vec.as("__v"))
      .groupBy(col("group"))
      .agg(
        count(lit(1)).as("n"),
        count(when(v.isNull, 1)).as("n_null"),
        count(when(v.isNotNull && size(v) =!= expectedDim, 1)).as("n_bad_dim"),
        count(when(nonFinite, 1)).as("n_nonfinite"),
        count(when(norm === 0.0d, 1)).as("n_zero_norm"),
        round(min(norm), 6).as("min_norm"),
        round(max(norm), 6).as("max_norm"),
        round(sum(norm) / count(norm), 6).as("mean_norm"))
  }

  /** The HLL swap [[profileTable]]'s scaladoc promises, promoted to a
    * real operator: per-column APPROXIMATE distinct counts via
    * `approx_count_distinct` — one pass, NO Expand (the exact form fans
    * every input row out once per profiled column; at a 50-column
    * 100 TB table that is a 50× scan amplification this sketch path
    * avoids entirely). `rsd` is the HLL++ relative-standard-deviation
    * knob (smaller = more sketch registers). Deterministic for a fixed
    * dataset — HLL has no RNG — so the error against the exact count is
    * a measurable property of (data, rsd), which is what q134's
    * contract gate pins. Output: (col_name, n_approx), one row per
    * requested column. */
  def approxDistinct(
      df: DataFrame, colNames: Seq[String], rsd: Double): DataFrame = {
    require(colNames.nonEmpty, "need at least one column")
    def quoted(n: String): Column = col(s"`${n.replace("`", "``")}`")
    val aggs = colNames.zipWithIndex.map { case (n, i) =>
      approx_count_distinct(quoted(n), rsd).as(s"__a_$i")
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(colNames.zipWithIndex.map { case (n, i) =>
        struct(lit(n).as("col_name"), col(s"__a_$i").as("n_approx"))
      }: _*)).as("p"))
      .select(col("p.*"))
  }

  /** Dataset data card — the one-pass "datasheet for a dataset" report
    * a curation run publishes next to its shards: corpus totals,
    * per-language and per-source composition, language token shares,
    * and the exact-duplication summary, as homogeneous (section, key,
    * value) rows (all values double; counts are 2^53-exact).
    *
    * Scale shape: ONE corpus scan builds the doc-level base frame
    * (id, lang, source, chars, token count, text-md5 — narrow; token
    * volume never leaves the projection), pinned once and consumed by
    * five aggregates whose outputs are ≤ |langs|+|sources|+constant
    * rows; the token-share denominator is the usual 1-row broadcast
    * cross. Expects (id, lang, source, nChars, text) columns. */
  def dataCard(
      df: DataFrame, id: Column, lang: Column, source: Column,
      nChars: Column, text: Column): DataFrame =
    Materialize.over(df.select(id.as("__id"), lang.as("__lang"),
        source.as("__source"), nChars.as("__nc"),
        size(graft.functions.TextFunctions.tokens(text)).as("__ntok"),
        md5(text).as("__h"))) { base =>
      val totals = base.agg(count(lit(1)).as("nd"),
        sum(col("__ntok")).as("nt"), sum(col("__nc")).as("nc"))
      val corpusRows = totals.selectExpr(
        """stack(4,
          | 'n_docs', cast(nd as double),
          | 'n_tokens', cast(nt as double),
          | 'n_chars', cast(nc as double),
          | 'mean_tokens', round(cast(nt as double) / cast(nd as double), 4)
          |) as (key, value)""".stripMargin)
        .select(lit("corpus").as("section"), col("key"), col("value"))
      def composition(section: String, c: Column) = base.groupBy(c.as("key"))
        .agg(count(lit(1)).cast("double").as("value"))
        .select(lit(section).as("section"), col("key"), col("value"))
      val shareRows = base.groupBy(col("__lang").as("key"))
        .agg(sum(col("__ntok")).as("lt"))
        .crossJoin(broadcast(totals.select(col("nt"))))
        .select(lit("lang_token_share").as("section"), col("key"),
          round(col("lt").cast("double") / col("nt").cast("double"), 6)
            .as("value"))
      val dupGroups = base.groupBy(col("__h"))
        .agg(count(lit(1)).as("cnt")).filter(col("cnt") > 1)
      val dupRows = dupGroups
        .agg(coalesce(count(lit(1)), lit(0L)).as("g"),
          coalesce(sum(col("cnt") - 1), lit(0L)).as("d"))
        .selectExpr(
          """stack(2,
            | 'exact_dup_groups', cast(g as double),
            | 'exact_dup_docs', cast(d as double)
            |) as (key, value)""".stripMargin)
        .select(lit("dup").as("section"), col("key"), col("value"))
      corpusRows
        .unionAll(composition("lang", col("__lang")))
        .unionAll(composition("source", col("__source")))
        .unionAll(shareRows)
        .unionAll(dupRows)
        .orderBy(asc_nulls_first("section"), asc_nulls_first("key"))
    }

  /** k-anonymity audit: every quasi-identifier combination observed in
    * fewer than `k` rows — the re-identification screen a pipeline
    * runs before releasing event- or metadata-level data, since a
    * combination shared by fewer than k individuals singles its rows
    * out (Sweeney 2002). `qids` supplies the named quasi-identifier
    * projections (the caller chooses the generalization level, e.g. a
    * truncated date or a bucketed value — generalize-until-clean is
    * the standard loop around this audit).
    *
    * Output: one row per RISKY combination (n &lt; k): the qid columns
    * plus its row count `n`. An empty result is the pass certificate.
    *
    * Scale shape: one scan projecting only the qid expressions, one
    * hash aggregate keyed on them (map-side partial combine does the
    * heavy lifting — group cardinality, not row count, crosses the
    * exchange), one cheap post-aggregate filter. No windows, no text,
    * no second scan. */
  def kAnonymity(df: DataFrame, qids: Seq[(String, Column)], k: Int)
      : DataFrame = {
    require(k >= 2, "k must be >= 2 (k=1 flags nothing)")
    require(qids.nonEmpty, "need at least one quasi-identifier")
    val keys = qids.map { case (name, c) => c.as(name) }
    val keyCols = qids.map { case (name, _) => col(name) }
    df.select(keys: _*)
      .groupBy(keyCols: _*)
      .agg(count(lit(1)).as("n"))
      .filter(col("n") < k)
  }

  /** Approximate-percentile contract (the q134 pattern, for quantiles):
    * per group, the EXACT interpolated percentiles (the oracle-checkable
    * numbers) plus a Spark-side gate that the Greenwald–Khanna sketch
    * (`percentile_approx`) lands within its guaranteed rank envelope.
    * The operator exists for the scale regime where exact per-group
    * percentiles mean a full sort of every group: the GK sketch is
    * one-pass and mergeable (partial aggregation ships
    * O(accuracy·log n) summaries, never rows), with a DETERMINISTIC
    * worst-case rank error ≤ n/accuracy — so `approx_ok` is a real
    * measurable property of (data, accuracy), not a coin flip.
    *
    * The gate re-derives the approx value's true rank interval
    * [count(v &lt; a), count(v ≤ a)] from the data and checks it
    * intersects [(p−ε)·n − 1, (p+ε)·n + 1] with ε = 1/accuracy (±1 row
    * of discretization slack). A sketch regression — wrong merge, bad
    * compression — makes Spark emit false and flips the oracle hash.
    *
    * Scale shape: the (group, value) projection is pinned once and
    * consumed by (a) ONE aggregate computing exact + approx arrays
    * side by side and (b) the rank pass, which fans each row ×|ps|
    * against the broadcast (|groups|·|ps|)-row candidate frame. The
    * exact aggregate is the scale ceiling (it is the contract
    * baseline, same as q78's exact side); production callers at 100 TB
    * run the sketch alone. Output: (group, p, n, exact_value 4 dp,
    * approx_ok). */
  def approxPercentileContract(
      df: DataFrame, group: Column, value: Column,
      ps: Seq[Double], accuracy: Int): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p < 1.0),
      "percentiles must lie in (0, 1)")
    require(accuracy >= 10, "accuracy must be >= 10")
    val eps = 1.0 / accuracy
    val psLit = typedLit(ps)
    Materialize.over(df
      .select(group.as("g"), value.cast("double").as("v"))
      .filter(col("v").isNotNull)) { base =>
      val agg = base.groupBy(col("g")).agg(
        count(lit(1)).as("n"),
        percentile(col("v"), psLit).as("__ex"),
        percentile_approx(col("v"), psLit, lit(accuracy)).as("__ap"))
      val perP = agg
        .select(col("g"), col("n"),
          posexplode(arrays_zip(col("__ex"), col("__ap"))).as(Seq("i", "z")))
        .select(col("g"), col("n"),
          element_at(psLit, col("i") + 1).as("p"),
          col("z.__ex").as("exact_raw"), col("z.__ap").as("a"))
      val ranks = base
        .join(broadcast(perP.select(col("g"), col("p"), col("a"))), Seq("g"))
        .groupBy(col("g"), col("p"), col("a"))
        .agg(
          sum(when(col("v") < col("a"), 1L).otherwise(0L)).as("rank_lo"),
          sum(when(col("v") <= col("a"), 1L).otherwise(0L)).as("rank_hi"))
      perP.join(ranks, Seq("g", "p", "a"))
        .select(col("g").as("group"), col("p"), col("n"),
          round(col("exact_raw"), 4).as("exact_value"),
          (col("rank_hi").cast("double") >=
              (col("p") - eps) * col("n").cast("double") - 1.0 &&
            col("rank_lo").cast("double") <=
              (col("p") + eps) * col("n").cast("double") + 1.0)
            .as("approx_ok"))
    }
  }

  /** Per-stratum PII density report: how much detectable PII each
    * slice of the corpus carries — the triage view that decides where
    * [[graft.functions.TextFunctions.redactPii]] (q84's batch pass)
    * must run first and which sources need an ingestion-side fix.
    * Counts use the SAME pattern literals as the redactor (one
    * definition, two consumers), so "density 0" here certifies the
    * redaction pass would be a no-op.
    *
    * Output, one row per stratum: (stratum, n_docs, docs_with_pii,
    * n_email, n_phone, n_ip, pii_per_doc) — counts exact longs,
    * pii_per_doc the one correctly-rounded rational (6 dp). Null text
    * counts toward n_docs but matches nothing.
    *
    * Scale shape: one scan, three codegen'd regexp_count projections,
    * one hash aggregate on the stratum — the regex work is map-side
    * and embarrassingly parallel; only |strata| rows cross the
    * exchange. */
  def piiDensity(df: DataFrame, stratum: Column, text: Column): DataFrame = {
    val e = coalesce(TextFunctions.emailCount(text).cast("long"), lit(0L))
    val p = coalesce(TextFunctions.phoneCount(text).cast("long"), lit(0L))
    val i = coalesce(TextFunctions.ipv4Count(text).cast("long"), lit(0L))
    df.select(stratum.as("stratum"), e.as("__e"), p.as("__p"), i.as("__i"))
      .groupBy(col("stratum"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("__e") + col("__p") + col("__i") > 0, 1L)
          .otherwise(0L)).as("docs_with_pii"),
        sum(col("__e")).as("n_email"),
        sum(col("__p")).as("n_phone"),
        sum(col("__i")).as("n_ip"))
      .withColumn("pii_per_doc",
        round((col("n_email") + col("n_phone") + col("n_ip")).cast("double")
          / col("n_docs").cast("double"), 6))
  }

  /** Sequence-budget planner: for a context length of `seqLen` tokens,
    * how many training sequences each stratum yields when every
    * document is chunked independently (⌈tokens/seqLen⌉ — the
    * no-cross-doc-packing worst case the packer of q39/q95 improves
    * on), and how much of the resulting token budget is padding. The
    * numbers a mixture planner needs BEFORE any packing runs: total
    * sequences to schedule, padding waste to expect, and the packing
    * headroom (1 − efficiency) that justifies running the packer at
    * all.
    *
    * Output per stratum: (stratum, n_docs, total_tokens, total_seqs,
    * padding_tokens, efficiency) — all integer-exact except the one
    * 6-dp rational; zero-token strata report efficiency null rather
    * than 0/0. Scale shape: one scan (token counts in the projection —
    * the token stream itself never materializes), one hash aggregate
    * on the stratum. */
  def sequenceBudget(
      df: DataFrame, stratum: Column, text: Column, seqLen: Int)
      : DataFrame = {
    require(seqLen >= 1, "seqLen must be positive")
    // Null text counts as zero tokens (the q123 call-site convention,
    // applied here so every caller gets it).
    val tok = TextFunctions.tokenCount(coalesce(text, lit(""))).cast("long")
    df.select(stratum.as("stratum"), tok.as("__tok"))
      .groupBy(col("stratum"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__tok")).as("total_tokens"),
        sum(expr(s"(__tok + ${seqLen - 1}) DIV $seqLen")).as("total_seqs"))
      .withColumn("padding_tokens",
        col("total_seqs") * seqLen - col("total_tokens"))
      .withColumn("efficiency",
        when(col("total_seqs") > 0,
          round(col("total_tokens").cast("double") /
            (col("total_seqs") * seqLen).cast("double"), 6)))
  }

  /** Referential-integrity audit — the warehouse DQ constraint check
    * run before anything joins: for each declared foreign key
    * (name, child, childKey, parent, parentKey), one row of evidence —
    * total child rows, rows with a null key, distinct non-null keys,
    * orphan keys (child keys absent from the parent), rows those
    * orphans carry, and the orphan row share (4 dp; null when the
    * child is empty). Null child keys are reported separately, never
    * counted as orphans — SQL join semantics already exclude them from
    * every equi-join, so the actionable numbers are disjoint.
    *
    * Scale shape: each constraint reduces the child to its key-level
    * profile FIRST (groupBy childKey count — map-side partial
    * aggregation; the shuffle carries ≤ |distinct keys| rows, not the
    * child table), distincts the parent key the same way, and
    * left-joins the two key-level frames — the membership probe runs
    * at key cardinality on both sides, and AQE picks a broadcast when
    * the parent side is dimension-sized. The per-constraint result is
    * a 1-row aggregate; the report is a |constraints|-row union. */
  def referentialAudit(
      constraints: Seq[(String, DataFrame, Column, DataFrame, Column)])
      : DataFrame = {
    require(constraints.nonEmpty, "at least one constraint")
    val rows = constraints.map { case (name, child, childKey, parent, parentKey) =>
      val g = child.select(childKey.as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("cnt"))
      val p = parent.select(parentKey.as("k")).distinct()
        .withColumn("__hit", lit(1))
      val orphan = col("k").isNotNull && col("__hit").isNull
      g.join(p, Seq("k"), "left")
        .agg(
          coalesce(sum(col("cnt")), lit(0L)).as("n_rows"),
          coalesce(sum(when(col("k").isNull, col("cnt"))), lit(0L))
            .as("n_null_rows"),
          count(when(col("k").isNotNull, lit(1))).as("n_distinct_keys"),
          count(when(orphan, lit(1))).as("n_orphan_keys"),
          coalesce(sum(when(orphan, col("cnt"))), lit(0L))
            .as("n_orphan_rows"))
        .select(lit(name).as("fk_name"), col("n_rows"), col("n_null_rows"),
          col("n_distinct_keys"), col("n_orphan_keys"), col("n_orphan_rows"),
          when(col("n_rows") > 0,
            round(col("n_orphan_rows") * lit(1.0d) / col("n_rows"), 4))
            .as("orphan_row_share"))
    }
    rows.reduce(_.unionByName(_))
  }

  /** Source-concentration report — the Gini coefficient of mass across
    * units within each group (e.g. per language, how unevenly the
    * corpus mass spreads over sources): 0 = perfectly even, → 1 = one
    * unit carries everything. Uses the rank form
    *
    *   G = 2·Σ i·w_(i) / (n·Σw) − (n+1)/n
    *
    * over units ranked ascending by mass (ties broken by unit name, so
    * the rank — and therefore the statistic — is deterministic).
    * A concentration audit is the "is this mix actually diverse"
    * number next to q96's target-mix resampling: a mix plan can hit
    * its language targets while one source still dominates every
    * language. All sums are exact integers; the two divisions run as
    * one double formula on both engines, 4 dp. Groups report null gini
    * when total mass is not positive.
    *
    * Scale shape: one hash aggregate to unit masses (map-side
    * partial), one rank window and one aggregate on the
    * |groups|·|units| frame — raw documents are scanned once. */
  def sourceConcentration(
      docs: DataFrame, group: Column, unit: Column,
      mass: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = docs.groupBy(group.as("grp"), unit.as("unit"))
      .agg(sum(mass).as("w"))
    val rank = Window.partitionBy(col("grp"))
      .orderBy(col("w").asc, col("unit").asc)
    val s = m
      .withColumn("i", row_number().over(rank).cast("long"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_units"),
        sum(col("w")).as("total_mass"),
        sum(col("i") * col("w")).as("siw"))
    def d(c: String): Column = col(c).cast("double")
    s.select(col("grp"), col("n_units"), col("total_mass"),
      when(col("total_mass") > 0,
        round(lit(2.0d) * d("siw") / (d("n_units") * d("total_mass"))
          - (d("n_units") + lit(1.0d)) / d("n_units"), 4)).as("gini"))
  }

  /** Population-stability-index drift screen: for each unit (e.g.
    * source), the PSI of its `value` distribution against the REST of
    * the corpus over `nBuckets` fixed-width buckets —
    *
    *   PSI = Σ_b (p_b − q_b) · ln(p_b / q_b)
    *
    * with add-half smoothing (p_b = (c_b + 0.5)/(n + nBuckets/2)) so
    * empty buckets contribute finitely instead of ±∞. The bucket grid
    * is COMPLETE by construction (units × 0..nBuckets−1, zeros filled)
    * — a bucket one side never hits is exactly where drift lives, the
    * same fail-open lesson as the Benford zero-digit fix. The rule-of-
    * thumb flag: PSI > 0.2 (computed on the 4 dp rounded value, so the
    * flag is as engine-exact as the statistic). PSI > 0.1 is "watch",
    * > 0.2 "act" in the credit-scoring literature the metric comes
    * from.
    *
    * Scale shape: one 1-row min/max broadcast, one hash aggregate to
    * (unit, bucket) counts, a bucket-cardinality totals broadcast, and
    * the complete grid built by exploding a literal range against the
    * distinct units — every frame after the first aggregate is
    * ≤ |units|·nBuckets rows. Raw rows are scanned twice (min/max,
    * then bucketing) — the classic two-pass histogram; callers with a
    * known domain can pass it precomputed one day, but the audit
    * semantics (data-driven range) want the honest two-pass. */
  def psiDrift(
      docs: DataFrame, unit: Column, value: Column,
      nBuckets: Int = 10, flagAt: Double = 0.2): DataFrame = {
    require(nBuckets >= 2, "nBuckets must be at least 2")
    val v = docs.select(unit.as("unit"), value.cast("double").as("v"))
      .filter(col("v").isNotNull)
    val mm = v.agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    val bucketed = v.crossJoin(broadcast(mm))
      .select(col("unit"),
        when(col("mx") === col("mn"), 0)
          .otherwise(least(lit(nBuckets - 1),
            floor((col("v") - col("mn")) * nBuckets / (col("mx") - col("mn")))))
          .cast("int").as("bucket"))
    val cnt = bucketed.groupBy(col("unit"), col("bucket"))
      .agg(count(lit(1)).as("c"))
    val tot = bucketed.groupBy(col("bucket")).agg(count(lit(1)).as("t"))
    val grid = cnt.select(col("unit")).distinct()
      .select(col("unit"),
        explode(sequence(lit(0), lit(nBuckets - 1))).as("bucket"))
    val full = grid
      .join(cnt, Seq("unit", "bucket"), "left")
      .join(broadcast(tot), Seq("bucket"), "left")
      .select(col("unit"), col("bucket"),
        coalesce(col("c"), lit(0L)).as("c"),
        coalesce(col("t"), lit(0L)).as("t"))
    val half = lit(0.5d)
    val pad = lit(nBuckets * 0.5d)
    val withN = full
      .join(full.groupBy(col("unit")).agg(sum(col("c")).as("n_unit")),
        Seq("unit"))
      .crossJoin(broadcast(
        tot.agg(sum(col("t")).as("n_all"))))
    val p = (col("c").cast("double") + half) /
      (col("n_unit").cast("double") + pad)
    val q = ((col("t") - col("c")).cast("double") + half) /
      ((col("n_all") - col("n_unit")).cast("double") + pad)
    withN
      .groupBy(col("unit"))
      .agg(max(col("n_unit")).as("n_docs"),
        round(sum((p - q) * log(p / q)), 4).as("psi"))
      .select(col("unit"), col("n_docs"), col("psi"),
        (col("psi") > flagAt).as("drifted"))
  }


  /** Join fan-out profile — the degree distribution of a child table
    * over its foreign key: per declared constraint, how many children
    * each referenced parent key actually has (count, mean, exact
    * interpolated p50/p90/p99, max). This is the number that predicts
    * join blow-up BEFORE the join runs: [[referentialAudit]] says the
    * keys resolve, this says what joining them costs — a p99 degree of
    * 10⁴ on a "dimension" key is the skew q136/q149 exist for.
    *
    * Scale shape: one hash aggregate child→(key, degree) with map-side
    * partials, then a 1-row summary per constraint over the key-level
    * frame; percentiles run on degrees (key cardinality), never raw
    * rows. Null keys are excluded — they join nothing, and q158
    * already reports them. */
  def fanoutProfile(
      constraints: Seq[(String, DataFrame, Column)]): DataFrame = {
    require(constraints.nonEmpty, "at least one constraint")
    constraints.map { case (name, child, key) =>
      val deg = child.select(key.as("k")).filter(col("k").isNotNull)
        .groupBy(col("k")).agg(count(lit(1)).as("d"))
      deg.agg(
        count(lit(1)).as("n_parents"),
        coalesce(sum(col("d")), lit(0L)).as("n_children"),
        round(sum(col("d")).cast("double") / count(lit(1)), 4)
          .as("mean_degree"),
        round(percentile(col("d"), lit(0.5)), 4).as("p50"),
        round(percentile(col("d"), lit(0.9)), 4).as("p90"),
        round(percentile(col("d"), lit(0.99)), 4).as("p99"),
        max(col("d")).as("max_degree"))
        .select(lit(name).as("fk_name"), col("n_parents"),
          col("n_children"), col("mean_degree"), col("p50"), col("p90"),
          col("p99"), col("max_degree"))
    }.reduce(_.unionByName(_))
  }
  /** Chi-square test of independence between two categorical columns:
    * the classic contingency screen — "is the language mix independent
    * of the source" — reported as one row of evidence: level counts,
    * degrees of freedom, N, and the χ² statistic over the COMPLETE
    * R×C grid (a cell the data never hits still contributes its
    * expected count to the statistic — the fail-open-grid lesson from
    * the Benford audit; dropping empty cells understates χ² exactly
    * when association is strongest). Null category values are levels
    * like any other. Compare χ² to the caller's critical value for
    * (R−1)(C−1) dof — the operator reports evidence, not a p-value
    * table.
    *
    * Scale shape: one hash aggregate over raw rows to (a, b) counts
    * (map-side partials), then every frame — marginals, the exploded
    * complete grid, the final 1-row reduce — is level-cardinality
    * sized, joined by broadcast. */
  def chiSquareIndependence(
      df: DataFrame, a: Column, b: Column): DataFrame = {
    val cnt = df.groupBy(a.as("ra"), b.as("cb"))
      .agg(count(lit(1)).as("n"))
    val rows = cnt.groupBy(col("ra")).agg(sum(col("n")).as("r"))
    val cols = cnt.groupBy(col("cb")).agg(sum(col("n")).as("c"))
    val tot = cnt.agg(sum(col("n")).as("n_total"))
    val grid = rows.select(col("ra"))
      .crossJoin(broadcast(cols.select(col("cb"))))
    val full = grid
      .join(cnt, Seq("ra", "cb"), "left")
      .join(broadcast(rows), Seq("ra"))
      .join(broadcast(cols), Seq("cb"))
      .crossJoin(broadcast(tot))
      .select(coalesce(col("n"), lit(0L)).cast("double").as("o"),
        (col("r").cast("double") * col("c").cast("double")
          / col("n_total").cast("double")).as("e"))
    val chi = full.agg(
      round(sum((col("o") - col("e")) * (col("o") - col("e")) / col("e")), 4)
        .as("chi2"))
    val nr = rows.agg(count(lit(1)).as("n_levels_a"))
    val nc = cols.agg(count(lit(1)).as("n_levels_b"))
    chi.crossJoin(broadcast(nr)).crossJoin(broadcast(nc))
      .crossJoin(broadcast(tot))
      .select(col("n_levels_a"), col("n_levels_b"),
        ((col("n_levels_a") - 1) * (col("n_levels_b") - 1)).as("dof"),
        col("n_total"), col("chi2"))
  }

  /** Neyman-optimal sample allocation: given a row budget B and strata
    * with sizes N_h and within-stratum spread σ_h, the variance-
    * minimizing allocation n_h ∝ N_h·σ_h — the sampling-DESIGN step
    * in front of q96's target-mix resampler (q96 executes a mix;
    * this computes the mix a measurement goal implies). σ is rounded
    * to 2 dp BEFORE the allocation arithmetic (the q155 convention)
    * so the report is engine-exact; single-row strata carry σ = 0 —
    * reported with a zero allocation, never silently dropped (the
    * epoch-plan deficit lesson). Allocations are capped at the
    * stratum size (you cannot sample rows that don't exist); the cap
    * means Σ alloc_n may fall short of B — visible in the report, the
    * caller's cue to re-spread.
    *
    * Scale shape: one hash aggregate to per-stratum (N, σ), a 1-row
    * total broadcast, pure arithmetic after — nothing beyond the
    * first pass sees raw rows. */
  def neymanAllocation(
      df: DataFrame, stratum: Column, value: Column,
      budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val s = df.groupBy(stratum.as("stratum"))
      .agg(count(lit(1)).as("n_rows"),
        coalesce(round(stddev_samp(value.cast("double")), 2), lit(0.0d))
          .as("sigma"))
    val weighted = s.withColumn("__w",
      col("n_rows").cast("double") * col("sigma"))
    val tot = weighted.agg(sum(col("__w")).as("__tw"))
    weighted.crossJoin(broadcast(tot))
      .select(col("stratum"), col("n_rows"), col("sigma"),
        when(col("__tw") > 0,
          round(lit(budget.toDouble) * col("__w") / col("__tw"), 4))
          .as("alloc_frac"),
        when(col("__tw") > 0,
          least(round(lit(budget.toDouble) * col("__w") / col("__tw"), 0)
            .cast("long"), col("n_rows")))
          .as("alloc_n"))
  }
  /** Two-sample Kolmogorov–Smirnov screen: per key, the KS statistic
    * D = max_v |F₁(v) − F₂(v)| between two halves of a column's
    * distribution (e.g. a train/test split), with the asymptotic 5%
    * flag D > 1.36·√((n₁+n₂)/(n₁·n₂)) — the distributional check a
    * split audit runs AFTER q82 proves no leakage: disjointness says
    * the halves don't share rows, KS says they look alike. The step
    * functions are evaluated at every distinct value AFTER folding in
    * that value's ties (the textbook right-continuous convention), so
    * the statistic is exact on ties; all cumulative counts are
    * integers and D is one double formula, 4 dp.
    *
    * Scale shape: one hash aggregate to (key, value, side counts)
    * with map-side partials, then one key-partitioned window over the
    * DISTINCT-value frame (bounded by the value domain, not row
    * count) and a per-key max. Keys missing either side report null
    * D — a one-sided "split" is not a comparison. */
  def ksTwoSample(
      df: DataFrame, key: Column, value: Column, side: Column)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(key.as("key"), value.as("v"),
        when(side, 1L).otherwise(0L).as("__s1"))
      .filter(col("v").isNotNull)
    val perV = base.groupBy(col("key"), col("v"))
      .agg(sum(col("__s1")).as("c1"),
        sum(lit(1L) - col("__s1")).as("c2"))
    val w = Window.partitionBy(col("key")).orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = perV
      .withColumn("__a1", sum(col("c1")).over(w))
      .withColumn("__a2", sum(col("c2")).over(w))
    val totals = perV.groupBy(col("key").as("__tkey"))
      .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    def d(c: String): Column = col(c).cast("double")
    val ks = cum.join(broadcast(totals), col("key") === col("__tkey"))
      .filter(col("n1") > 0 && col("n2") > 0)
      .groupBy(col("key"), col("n1"), col("n2"))
      .agg(round(max(abs(col("__a1").cast("double") / col("n1").cast("double")
        - col("__a2").cast("double") / col("n2").cast("double"))), 4)
        .as("ks"))
    ks.select(col("key"), col("n1"), col("n2"), col("ks"),
      (col("ks") > round(lit(1.36d) *
        sqrt((d("n1") + d("n2")) / (d("n1") * d("n2"))), 4))
        .as("drifted"))
  }
  /** Entropy profile — Shannon entropy of mass across units within
    * each group and its exponential, the "effective number of units"
    * (Hill number of order 1): exp(H) ≈ 3 says the group behaves as
    * if it had three equal sources no matter how many it nominally
    * has. The additive companion to [[sourceConcentration]]'s Gini —
    * Gini measures inequality, exp(H) counts the units that matter.
    * Zero-mass units contribute zero (lim x·ln x = 0, taken
    * explicitly, not left to NaN). One double formula per group,
    * 4 dp.
    *
    * Scale shape: one hash aggregate to unit masses, a group-level
    * total broadcast, one group aggregate — raw rows scanned once. */
  def entropyProfile(
      docs: DataFrame, group: Column, unit: Column,
      mass: Column): DataFrame = {
    val m = docs.groupBy(group.as("grp"), unit.as("unit"))
      .agg(sum(mass).as("w"))
    val tot = m.groupBy(col("grp").as("__tgrp"))
      .agg(sum(col("w")).as("__tw"))
    val share = col("w").cast("double") / col("__tw").cast("double")
    val term = when(col("w") > 0, -share * log(share)).otherwise(lit(0.0d))
    m.join(broadcast(tot), col("grp") === col("__tgrp"))
      .filter(col("__tw") > 0)
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_units"),
        sum(col("w")).as("total_mass"),
        round(sum(term), 4).as("entropy"),
        round(exp(sum(term)), 4).as("effective_units"))
  }

  /** Per-unit → pooled quantile mapping table: for each unit and each
    * requested quantile, the unit's value, the pooled corpus value at
    * the same quantile, and the shift — the planning read for
    * quantile normalization ("source X's median is 40 chars above the
    * corpus"), and the numeric companion to [[psiDrift]]'s bucketed
    * screen. Quantiles are exact interpolated, rounded to 4 dp BEFORE
    * the shift so the table sits on one grid.
    *
    * Scale shape: two aggregates over the same scan shape (per-unit
    * and pooled percentiles), melted to \|units\|·\|ps\| rows with a
    * 1-row pooled broadcast per quantile. */
  def quantileMap(
      docs: DataFrame, unit: Column, value: Column,
      ps: Seq[Double] = Seq(0.25, 0.5, 0.75)): DataFrame = {
    require(ps.nonEmpty, "need at least one quantile")
    val base = docs.select(unit.as("unit"), value.cast("double").as("v"))
      .filter(col("v").isNotNull)
    def aggs(prefix: String) = ps.zipWithIndex.map { case (p, i) =>
      round(percentile(col("v"), lit(p)), 4).as(s"$prefix$i")
    }
    val perUnit = base.groupBy(col("unit"))
      .agg(aggs("__q").head, aggs("__q").tail: _*)
    val pooled = base.agg(aggs("__p").head, aggs("__p").tail: _*)
    ps.zipWithIndex.map { case (p, i) =>
      perUnit.select(col("unit"),
          lit(math.round(p * 100).toInt).as("pct"),
          col(s"__q$i").as("unit_value"))
        .crossJoin(broadcast(pooled.select(col(s"__p$i").as("pooled_value"))))
    }.reduce(_.unionByName(_))
      .select(col("unit"), col("pct"), col("unit_value"), col("pooled_value"),
        round(col("unit_value") - col("pooled_value"), 4).as("shift"))
  }

  /** (lang, w) token stream for vocabulary-coverage accounting — the
    * shared tokenization under q188 and
    * [[graft.streaming.StreamingVocabCoverage]] (empty tokens dropped,
    * mirroring the oracle's split-of-blank behavior). */
  def langTokens(df: DataFrame, lang: Column, text: Column): DataFrame =
    df.select(lang.as("lang"),
        explode(TextFunctions.tokens(text)).as("w"))
      .filter(length(col("w")) > 0)

  /** Per-language coverage COUNTS of a token stream against a FIXED
    * vocabulary (one column `w`): (lang, n_tokens, n_covered). One
    * broadcast left join + one aggregation — the identical plan on a
    * static frame and on a stream (stream-static join feeding a
    * complete-mode aggregate whose state is the ≤|langs|-row counts
    * frame), which is what makes the batch audit (q188) and the
    * streaming drift screen share ONE arithmetic. */
  def vocabCoverageCounts(tok: DataFrame, vocab: DataFrame): DataFrame =
    tok.join(broadcast(vocab.select(col("w"), lit(true).as("__inv"))),
        Seq("w"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__inv"), 1L).otherwise(0L)).as("n_covered"))

  /** The OOV-rate projection over coverage counts (4 dp grid),
    * deterministically ordered — applied to the batch counts in q188
    * and to the live streaming snapshot in
    * [[graft.streaming.StreamingVocabCoverage.screen]]. */
  def oovRates(counts: DataFrame): DataFrame =
    counts.select(col("lang"), col("n_tokens"), col("n_covered"),
        round(lit(1.0d) - col("n_covered").cast("double") /
          col("n_tokens").cast("double"), 4).as("oov_rate"))
      .orderBy(asc_nulls_first("lang"))
}
