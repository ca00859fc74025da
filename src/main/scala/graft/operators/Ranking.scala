package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.tokens

/** Corpus-level term weighting, retrieval scoring, and statistical LM
  * quality scoring — the ranking half of a training-data pipeline
  * (quality weighting, retrieval-based curation, decontamination triage,
  * perplexity-proxy filtering, domain-shift diagnostics).
  *
  * All operators follow the same scale shape: tokenize once, aggregate
  * term counts per (doc, term) — partial+final hash aggregation, the
  * shuffle key is the pair — then join the vocabulary-sized per-term
  * frequency frame back (AQE broadcasts it when it fits, the typical
  * case; else a term-hash join moves the frequency frame, and re-keys
  * the count frame, never the raw token stream). Corpus-wide scalars
  * (N, avgdl, T) are 1-row broadcast crossJoins. Nothing here collects
  * to the driver.
  *
  * Tokenize-once discipline (round 9): each operator consumes its
  * (doc, term) count frame 2–4 times (doc frequencies, corpus counts,
  * the score join), and Catalyst's exchange reuse only dedupes the
  * consumers that share an identical exchange — measured 3–7 separate
  * corpus scans per query before this round, i.e. the corpus was
  * re-tokenized per consumer, the dominant avoidable cost at scale. Each
  * operator therefore persists its count frame, eagerly materializes its
  * (per-doc / per-group, orders of magnitude smaller than the corpus)
  * output, and releases the persist before returning —
  * [[Materialize.over]], so no cache entry outlives the call. The one
  * exception is [[hashedLinearScore]]'s `materialize = false`, the lazy
  * form a per-micro-batch caller
  * ([[graft.streaming.StreamingScore]]) consumes once.
  *
  * Float discipline (see CoreQueries scaladoc): every division and
  * multiplication is IEEE-exact given equal inputs; `ln` is the one
  * libm-dependent op, so scores are rounded (4 dp) before ranking and
  * emission, with ties broken on the term / doc id.
  */
object Ranking {

  /** Per-(doc, term) term frequencies over whitespace tokens. */
  private def termFreqs(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("__id"), explode(tokens(text)).as("term"))
      .groupBy(col("__id"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** Top-`k` TF-IDF terms per document (smoothed sklearn-style idf:
    * `ln((N+1)/(df+1)) + 1`). Output: (id, rank, term, score), score
    * rounded to 4 dp, rank by (score desc, term asc).
    *
    * The per-document window ranks at most |vocabulary ∩ doc| rows per
    * key — a partitioned window over the aggregated frame, never over
    * raw tokens. The `n_docs` scalar scans the raw input a second time,
    * but column-pruned to nothing (a parquet metadata count) — no
    * second tokenize. */
  def tfIdfTopTerms(
      df: DataFrame, id: Column, text: Column, k: Int): DataFrame =
    Materialize.over(termFreqs(df, id, text)) { tf =>
      // df(term) counts (doc, term) pairs — tf is already distinct on the pair.
      val docFreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = df.agg(count(lit(1)).as("n_docs"))
      val scored = tf
        .join(docFreq, "term")
        .crossJoin(broadcast(n))
        .withColumn("score",
          round(col("tf").cast("double") *
            (log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0)), 4))
      val w = Window.partitionBy(col("__id"))
        .orderBy(col("score").desc, col("term").asc)
      scored
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("__id"), col("rank"), col("term"), col("score"))
    }

  /** BM25 relevance of every document against a bag of query `terms`:
    * `Σ_t idf_t · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))` with
    * `idf = ln(1 + (N − df + 0.5)/(df + 0.5))`. Returns the `topN` docs
    * as (id, score) — score rounded to 4 dp, ties broken by id — via
    * `orderBy.limit` (TakeOrderedAndProject, no global sort
    * materialization).
    *
    * Single-pass shape: ONE tokenize projection yields a compact per-doc
    * frame (dl = full token count — every doc keeps a row, so avgdl and
    * N cover zero-match docs exactly as the oracle does — plus the
    * query-term tokens only, a ≤|terms|-ish array per doc), which is the
    * frame the discipline persists; everything else (corpus scalars,
    * per-term tf, doc frequencies) derives from it without touching the
    * raw text again. The materialized stage is the per-doc score frame;
    * the final top-N stays lazy so it plans TakeOrderedAndProject at the
    * call site (asserted in PlanDisciplineSpec). */
  def bm25(
      df: DataFrame, id: Column, text: Column, terms: Seq[String],
      topN: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val perDoc = df.select(id.as("__id"), tokens(text).as("toks"))
      .select(col("__id"), size(col("toks")).as("dl"),
        filter(col("toks"), t => t.isin(terms: _*)).as("qtoks"))
    val scored = Materialize.over(perDoc) { pd =>
      val lens = pd.select(col("__id"), col("dl"))
      // avgdl as sum/count of exact integers; N alongside — one tiny broadcast.
      val corpus = lens.agg(
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"),
        count(lit(1)).as("n_docs"))
      val tf = pd.select(col("__id"), explode(col("qtoks")).as("term"))
        .groupBy(col("__id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val docFreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      tf
        .join(broadcast(docFreq), "term")
        .join(lens, "__id")
        .crossJoin(broadcast(corpus))
        .withColumn("idf",
          log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
        .withColumn("part",
          col("idf") * (col("tf").cast("double") * lit(k1 + 1.0)) /
            (col("tf").cast("double") +
              lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / col("avgdl")))))
        .groupBy(col("__id"))
        .agg(round(sum(col("part")), 4).as("score"))
    }
    scored.orderBy(col("score").desc, col("__id").asc).limit(topN)
  }

  /** Corpus term counts (ctf) from a per-(doc, term) tf frame. */
  private def corpusFreqs(tf: DataFrame): DataFrame =
    tf.groupBy(col("term")).agg(sum(col("tf")).as("ctf"))

  /** Mean unigram log-probability per document — the cheapest useful
    * perplexity proxy for corpus quality filtering: documents made of
    * globally rare words score low, documents of common words score
    * high. `score(d) = Σ_t tf_{d,t} · ln(ctf_t / T) / dl_d`, with ctf
    * the corpus term count and T the total token count — the unigram
    * MLE, which is nonzero for every term that occurs. Output:
    * (id, n_tokens, logprob), logprob rounded to 4 dp.
    *
    * Scale shape: the (doc, term) aggregation shuffles the corpus once;
    * the vocabulary-sized corpus-count frame joins back on the term
    * (broadcast under AQE when it fits, else re-keying the count frame
    * by term), and T rides along as a 1-row broadcast. The per-doc sum
    * is a second hash aggregation on the doc id. Summation order across
    * a doc's terms is engine-dependent (same last-ulp class as the BM25
    * sum — rounded away at 4 dp). */
  def unigramLogProb(
      df: DataFrame, id: Column, text: Column): DataFrame =
    Materialize.over(termFreqs(df, id, text)) { tf =>
      val corpus = corpusFreqs(tf)
      val total = corpus.agg(sum(col("ctf")).as("total_tokens"))
      tf.join(corpus, "term")
        .crossJoin(broadcast(total))
        .withColumn("part",
          col("tf").cast("double") *
            log(col("ctf").cast("double") / col("total_tokens").cast("double")))
        .groupBy(col("__id"))
        .agg(
          sum(col("tf")).cast("long").as("n_tokens"),
          round(sum(col("part")) / sum(col("tf")).cast("double"), 4).as("logprob"))
    }

  /** Mean BIGRAM log-probability per document under a Jelinek-Mercer
    * interpolated corpus bigram LM — the step up from [[unigramLogProb]]
    * that catches word-salad documents whose unigrams are all common but
    * whose transitions are not (the shuffled-token failure mode a
    * unigram proxy cannot see):
    *
    *   P(w2|w1) = λ·c(w1,w2)/c(w1,·) + (1−λ)·c(·,w2)/T
    *
    * with all counts derived from the corpus's bigram events in ONE
    * aggregation chain (c(·,w2) is w2's bigram-right count, T the total
    * bigram count), so the corpus is tokenized and shuffled once. The
    * interpolation term makes P strictly positive for every observed
    * bigram event. Docs shorter than 2 tokens have no bigram events and
    * emit no row. Output: (id, n_bigrams, logprob), logprob rounded to
    * 4 dp (mean per bigram; log is the one libm op — same discipline as
    * [[unigramLogProb]]).
    *
    * Scale shape: the (doc, bigram) aggregation shuffles the corpus
    * once, and the smoothed probability is computed entirely at the
    * BIGRAM-TYPE level before touching the per-doc frame: the
    * left/right marginals are whole-partition window sums OVER the
    * pair-count frame (bigram-vocabulary-sized), never the per-doc
    * event frame — each window is one exchange of the pair-type frame,
    * exactly what a sort-merge marginal join would ship, minus the two
    * sub-aggregations and join-backs (see the in-line measurement).
    * The only wide join left is the single (w1,w2)-keyed probe of the
    * doc frame against the finished per-bigram probability table — and
    * both sides hash by (w1,w2) already, so the doc frame's
    * aggregation exchange is reused rather than re-shuffled. T rides
    * as a 1-row broadcast. */
  def bigramLogProb(
      df: DataFrame, id: Column, text: Column,
      lambdaJm: Double = 0.75): DataFrame = {
    val toks = tokens(text)
    // ONE explicit (w1, w2) exchange serves the whole chain (q62's
    // trick): HashPartitioning(w1, w2) satisfies the (id, w1, w2)
    // aggregation's clustering (subset of the group keys), pairCnt's
    // (w1, w2) grouping, AND the final probe join's distribution on
    // both sides — so the doc-bigram frame, the biggest thing in the
    // query, is shuffled exactly once. (The groupBy-planned exchange
    // would hash on all three keys and force the probe to re-shuffle
    // it by (w1, w2).) Explicit partition count: a bare repartition
    // is AQE-coalescible and the pre-aggregation frame would collapse.
    // Bigram pairing by zip-of-shifted-slices, not per-element
    // transform(sequence)+element_at: the slice pair is two bulk array
    // copies and the zip a positional merge, measured 40% cheaper than
    // building each struct through two catalyst element_at calls
    // (0.23 s vs 0.39 s for the sf0.1 explode stage — Q83Explode).
    val docBg = df.select(id.as("__id"), toks.as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("__id"), explode(arrays_zip(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1))).as("bg"))
      .select(col("__id"), col("bg.0").as("w1"), col("bg.1").as("w2"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col("w1"), col("w2"))
      .groupBy(col("__id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("tf"))
    Materialize.over(docBg) { tf =>
      val pairCnt = tf.groupBy(col("w1"), col("w2")).agg(sum(col("tf")).as("cb"))
      // Marginals as whole-partition WINDOWS over the bigram-TYPE
      // frame, not sub-aggregate + join-back: the join shape costs two
      // extra vocabulary-sized aggregations plus two joins (four stage
      // barriers); each window is one exchange+sort of the SAME
      // pair-type frame the join would have shuffled anyway (sort-merge
      // at scale), and a hot w1's window partition is its out-degree —
      // identical to what the w1 join key would co-locate. Measured
      // 1.31 s → 1.08 s on the full sf0.1 chain with bit-identical
      // output (Q83Full). The windowed frame is the pair-TYPE frame
      // (vocabulary-scaled), never token events.
      val total = pairCnt.agg(sum(col("cb")).as("t"))
      val pairP = pairCnt
        .withColumn("cl", sum(col("cb")).over(Window.partitionBy(col("w1"))))
        .withColumn("cu", sum(col("cb")).over(Window.partitionBy(col("w2"))))
        .crossJoin(broadcast(total))
        .select(col("w1"), col("w2"),
          (lit(lambdaJm) * (col("cb").cast("double") / col("cl").cast("double"))
            + lit(1.0 - lambdaJm) *
              (col("cu").cast("double") / col("t").cast("double"))).as("p"))
      tf.join(pairP, Seq("w1", "w2"))
        .withColumn("part", col("tf").cast("double") * log(col("p")))
        .groupBy(col("__id"))
        .agg(
          sum(col("tf")).cast("long").as("n_bigrams"),
          round(sum(col("part")) / sum(col("tf")).cast("double"), 4)
            .as("logprob"))
    }
  }

  /** Inverted-index build: term → capped posting list — the IR-layout
    * counterpart of [[vocabEncode]] (docs as id sequences; this is
    * terms as doc lists). Per term: document frequency and the top
    * `maxPostings` postings by (tf desc, doc asc) — the impact-ordered
    * truncation real systems ship, because a stop-word's full posting
    * list is the corpus and no consumer wants it. Output: (term, df,
    * n_postings, postings) with postings the ">"-joined `doc:tf` string
    * in (tf desc, doc asc) order (cross-engine-comparable scalar).
    *
    * Scale shape: one (doc, term) aggregation (the corpus's only
    * shuffle of token volume), then the per-term cap runs through the
    * custom bounded-heap [[graft.plans.GroupTopK]] physical operator —
    * ≤ maxPostings rows per (term × input partition) reach the final
    * shuffle, so a hot term costs maxPostings·partitions, never its
    * corpus-wide df; df itself is a separate tiny count aggregate
    * joined back on the term. Posting-list assembly is a row-local
    * sort_array over ≤ maxPostings structs. */
  def invertedIndex(
      df: DataFrame, id: Column, text: Column, maxPostings: Int): DataFrame = {
    require(maxPostings >= 1, "maxPostings must be >= 1")
    Materialize.over(termFreqs(df, id, text)) { tf =>
      val dfCnt = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val capped = graft.plans.GroupTopK.topK(
        tf, Seq(col("term")), Seq(col("tf").desc, col("__id").asc),
        maxPostings)
      capped
        .groupBy(col("term"))
        .agg(count(lit(1)).cast("long").as("n_postings"),
          array_join(
            transform(
              array_sort(collect_list(struct((-col("tf")).as("negtf"),
                col("__id").as("doc")))),
              s => concat_ws(":", s.getField("doc").cast("string"),
                (-s.getField("negtf")).cast("string"))), ">").as("postings"))
        .join(dfCnt, Seq("term"))
        .select(col("term"), col("df"), col("n_postings"), col("postings"))
    }
  }

  /** Top collocations by pointwise mutual information: adjacent token
    * pairs whose co-occurrence beats chance —
    * `pmi(a,b) = ln( (c(a,b)/T) / ((c(a,·)/T)·(c(·,b)/T)) )` over the
    * corpus's bigram events, reported for pairs with
    * `c(a,b) ≥ minCount` (the standard support floor: PMI without it
    * crowns hapax pairs). The collocation/phrase-mining pass of a
    * corpus pipeline — multiword-expression candidates for tokenizer
    * or stopword decisions. Output: (w1, w2, n, pmi) — top `k` by
    * (pmi desc, w1 asc, w2 asc), pmi rounded to 4 dp.
    *
    * Scale shape: [[bigramLogProb]]'s exact aggregation chain (ONE
    * tokenize+shuffle of the corpus; marginals as window sums over the
    * bigram-vocabulary frame, never the event frame), then a
    * TakeOrderedAndProject top-k — never a global sort. */
  def collocations(
      df: DataFrame, id: Column, text: Column,
      minCount: Long, k: Int): DataFrame = {
    require(minCount >= 1, "minCount must be >= 1")
    require(k >= 1, "k must be >= 1")
    val toks = tokens(text)
    // Same zip-of-shifted-slices pairing and window marginals as
    // [[bigramLogProb]] (measured there; see its in-line notes). The
    // minCount support floor applies AFTER the windows — marginals
    // count every bigram event, only the report is floored.
    val pairCnt = df.select(id.as("__id"), toks.as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(arrays_zip(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1))).as("bg"))
      .groupBy(col("bg.0").as("w1"), col("bg.1").as("w2"))
      .agg(count(lit(1)).as("cb"))
    val total = pairCnt.agg(sum(col("cb")).as("t"))
    pairCnt
      .withColumn("cl", sum(col("cb")).over(Window.partitionBy(col("w1"))))
      .withColumn("cu", sum(col("cb")).over(Window.partitionBy(col("w2"))))
      .filter(col("cb") >= minCount)
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("cb").as("n"),
        round(log(
          (col("cb").cast("double") * col("t").cast("double")) /
            (col("cl").cast("double") * col("cu").cast("double"))), 4)
          .as("pmi"))
      .orderBy(desc("pmi"), asc("w1"), asc("w2"))
      .limit(k)
  }

  /** Vocabulary encoding — the last-mile "text → id sequence" step
    * before tensors: build the corpus's top-`vocabSize` vocabulary
    * (count desc, term asc — [[oovRate]]'s exact selection, so the two
    * operators agree on what is in-vocab), assign dense ids 0..V−1 in
    * that order, and encode every document as its id sequence with
    * out-of-vocabulary tokens as −1 (kept, not dropped — the visible
    * form; a caller filters if it wants). Output: (id, n_tokens,
    * ids) with `ids` the ">"-joined id string (cross-engine-comparable
    * scalar; split on ">" to consume).
    *
    * Scale shape: the corpus is tokenized ONCE — the (id, tokens)
    * frame is the pinned intermediate, and BOTH passes (the vocabulary
    * count and the encode) derive from it (the earlier shape pinned
    * the per-(doc, term) count frame, which fed only the vocabulary:
    * the encode pass re-ran the tokenizer — the round-11 q107
    * constant). Vocabulary via TakeOrderedAndProject over the
    * vocabulary-sized count frame (never a global sort), broadcast
    * back onto one posexplode of the pinned tokens; per-doc reassembly
    * is a single aggregate collecting (pos, id) structs sorted
    * row-locally — no window, order restored by `array_sort` inside
    * the row. */
  def vocabEncode(
      df: DataFrame, id: Column, text: Column, vocabSize: Int): DataFrame = {
    import graft.functions.TextFunctions
    val tokenized = df.select(id.as("__id"),
      TextFunctions.tokens(text).as("toks"))
    Materialize.over(tokenized) { tk =>
      val withPos = tk.select(col("__id"),
        posexplode(col("toks")).as(Seq("pos", "term")))
      // Corpus term frequency directly (summing per-doc tfs and
      // counting raw term events are the same number); selection
      // order (ctf desc, term asc) stays [[oovRate]]'s exact one.
      val vocab = withPos.groupBy(col("term")).agg(count(lit(1)).as("ctf"))
        .orderBy(col("ctf").desc, col("term").asc)
        .limit(vocabSize)
        .select(col("term"),
          (row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("ctf").desc, col("term").asc)) - 1).as("__vid"))
      withPos.join(broadcast(vocab), Seq("term"), "left")
        .withColumn("__vid", coalesce(col("__vid"), lit(-1)))
        .groupBy(col("__id"))
        .agg(count(lit(1)).cast("long").as("n_tokens"),
          array_join(
            transform(
              array_sort(collect_list(struct(col("pos"), col("__vid")))),
              s => s.getField("__vid").cast("string")), ">").as("ids"))
    }
  }

  /** Out-of-vocabulary token rate per document against the corpus's own
    * top-`vocabSize` terms (count desc, term asc tie-break) — the
    * tokenizer-coverage / vocabulary-pruning diagnostic. Output:
    * (id, n_tokens, oov_rate), rate rounded to 4 dp.
    *
    * The vocabulary is selected with `orderBy.limit` —
    * TakeOrderedAndProject over the vocabulary-sized count frame, no
    * global sort — and broadcast back; in-vocab token mass is an exact
    * integer sum, so the rate is a single IEEE division. */
  def oovRate(
      df: DataFrame, id: Column, text: Column, vocabSize: Int): DataFrame =
    Materialize.over(termFreqs(df, id, text)) { tf =>
      val vocab = corpusFreqs(tf)
        .orderBy(col("ctf").desc, col("term").asc)
        .limit(vocabSize)
        .select(col("term"), lit(1).as("__in_vocab"))
      tf.join(broadcast(vocab), Seq("term"), "left")
        .groupBy(col("__id"))
        .agg(
          sum(col("tf")).cast("long").as("n_tokens"),
          round(
            (sum(col("tf")) -
              sum(when(col("__in_vocab").isNotNull, col("tf")).otherwise(lit(0L))))
              .cast("double") / sum(col("tf")).cast("double"), 4).as("oov_rate"))
    }

  /** KL divergence of each group's unigram distribution from the whole
    * corpus's — the domain-shift / mixture-diagnostic score (how far a
    * source or language strays from the blend it is mixed into):
    * `KL(p_g ‖ p) = Σ_t p_g(t) · ln(p_g(t) / p(t))`, both MLE
    * distributions, so every term of the sum is finite (p ≥ p_g·T_g/T >
    * 0 wherever p_g > 0). Output: (group, n_tokens, kl), kl rounded to
    * 4 dp.
    *
    * Scale shape: one (group, term) hash aggregation over tokens, a
    * vocabulary-sized join for the corpus counts, and two broadcast
    * scalars — no shuffle wider than the (group, term) count frame. */
  def klDivergence(
      df: DataFrame, group: Column, text: Column): DataFrame =
    Materialize.over(
      df.select(group.as("group"), explode(tokens(text)).as("term"))
        .groupBy(col("group"), col("term"))
        .agg(count(lit(1)).as("gtf"))) { gf =>
      val corpus = gf.groupBy(col("term")).agg(sum(col("gtf")).as("ctf"))
      val total = corpus.agg(sum(col("ctf")).as("total_tokens"))
      val groupTotals = gf.groupBy(col("group")).agg(sum(col("gtf")).as("gtot"))
      gf.join(corpus, "term")
        .join(broadcast(groupTotals), "group")
        .crossJoin(broadcast(total))
        .withColumn("pg", col("gtf").cast("double") / col("gtot").cast("double"))
        .withColumn("p",
          col("ctf").cast("double") / col("total_tokens").cast("double"))
        .withColumn("part", col("pg") * log(col("pg") / col("p")))
        .groupBy(col("group"))
        .agg(
          max(col("gtot")).cast("long").as("n_tokens"),
          round(sum(col("part")), 4).as("kl"))
    }

  /** Model-based quality scoring with a HASHED-FEATURE linear
    * classifier — the fastText/logistic-regression filter shape real
    * curation pipelines run (GPT-3's LR quality filter, CCNet's
    * fastText language/quality heads): score = σ(Σ_b w_b·tf_b / n_tok
    * + bias) over `nBuckets` hashed unigram buckets, keep = score ≥
    * `threshold`.
    *
    * The WEIGHTS here are a deterministic seeded stand-in (md5-derived,
    * uniform in [−1, 1], 6 dp — [[Split.hashFraction]]'s discipline),
    * NOT a trained model: the operator's contract is the serving
    * plumbing — hashing-trick featurization, model-as-broadcast-table
    * scoring, thresholding — with the weight table as the swap point
    * (a production caller passes its trained (bucket, w) frame through
    * the same join). Seeding makes the whole path oracle-checkable:
    * DuckDB rebuilds the identical model from the seed.
    *
    * The gated output is the UN-NORMALIZED margin z = Σ tf_b·w_b +
    * bias·n_tok, not σ(z/n_tok): σ is monotone, so keep ⟺
    * z ≥ logit(threshold)·n_tok is the identical decision, and the
    * sum form dodges BOTH cross-engine traps — libm exp (last-ulp
    * differences flip a 6-dp round at σ-boundary values) and, more
    * subtly, the boundary problem of the MEAN form: integer-weighted
    * sums of 6-dp weights land exactly ON the 1e-6 round grid (stable
    * under ~1e-15 association noise), but dividing by n_tok parks the
    * true value exactly ON a round BOUNDARY whenever Σ·10⁶ ≡ n/2
    * (mod n) — measured 4 boundary flips in 500 fixture docs before
    * the change. Callers wanting the probability apply σ(z/n_tok) at
    * display time.
    *
    * Scale shape: one tokenize + (doc, term) aggregation, bucket ids
    * by md5 (no vocabulary state — the point of the hashing trick),
    * the parameter-sized weight table broadcast onto the feature
    * frame, one per-doc aggregation. Docs with no token events (null
    * text) get z = 0 = bias·0 via the left join — scored at exactly
    * the decision boundary sigma = 0.5, and gated EXPLICITLY there
    * (keep iff threshold <= 0.5) rather than through the generic
    * z >= zThreshold·n_tokens comparison, which degenerates to
    * 0 >= 0 = true for any threshold when n_tokens = 0.
    * `materialize = false` returns the lazy plan, with no persist and no
    * pin, for a caller that reads each input once
    * ([[graft.streaming.StreamingScore]]'s micro-batches).
    * Output: (id, n_tokens, z, keep). */
  def hashedLinearScore(
      df: DataFrame, id: Column, text: Column,
      nBuckets: Int, seed: String, bias: Double, threshold: Double,
      materialize: Boolean = true): DataFrame = {
    require(threshold > 0.0 && threshold < 1.0,
      "threshold must be a probability in (0, 1)")
    val zThreshold = math.log(threshold / (1.0 - threshold))
    require(nBuckets >= 1, "nBuckets must be positive")
    val spark = df.sparkSession
    val weights = spark.range(nBuckets.toLong).select(
      col("id").cast("long").as("__b"),
      round((Split.hashFraction(concat(lit(seed + "_"), col("id")))
        - lit(0.5)) * lit(2.0), 6).as("__w"))
    val base = df.select(id.as("__id"))
    def score(tf: DataFrame): DataFrame = {
      val z = tf
        .withColumn("__b",
          pmod(conv(substring(md5(col("term")), 1, 8), 16, 10).cast("long"),
            lit(nBuckets.toLong)))
        .join(broadcast(weights), "__b")
        .groupBy(col("__id"))
        .agg(sum(col("tf")).cast("long").as("n_tokens"),
          round(sum(col("tf").cast("double") * col("__w"))
            + lit(bias) * sum(col("tf")).cast("double"), 6).as("__z"))
      base.join(z, Seq("__id"), "left")
        .select(col("__id").as("id"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          coalesce(col("__z"), lit(0.0d)).as("z"))
        // Zero-token docs carry no evidence either way: the generic gate
        // would degenerate to 0 >= 0 = true for ANY threshold (the
        // 0·zThreshold cancellation), silently keeping empty docs even
        // under a strict cut. Decide them explicitly by where the
        // boundary sits: they score sigma = 0.5, so keep iff the
        // requested threshold admits the boundary (zThreshold <= 0).
        .withColumn("keep",
          when(col("n_tokens") === 0, lit(zThreshold <= 0.0))
            .otherwise(col("z") >= round(lit(zThreshold) *
              col("n_tokens").cast("double"), 6)))
    }
    val tf = termFreqs(df, id, text)
    if (materialize) Materialize.over(tf)(score) else score(tf)
  }

  /** In-engine training of the hashed-feature logistic-regression
    * quality classifier — the closed loop behind [[hashedLinearScore]]:
    * instead of scoring with seeded stand-in weights, learn the weight
    * table from a labeled corpus by `iters` full-batch gradient steps
    * (w ← w − lr·∇; ∇_b = Σ_d tf_{d,b}(σ(z_d) − y_d)/N over the N docs
    * with token events, w₀ = 0). Returns (weights, losses): the
    * (bucket, w) table — the trained model, engine-portable because
    * every intermediate lives on a shared decimal grid (z, σ, w at
    * 6 dp; ∇ at 5 dp so lr·∇ stays ON the weight grid — see the
    * in-loop comments) and the z/∇ sums accumulate in exact DECIMAL
    * (the [[Subword]]/q126 iterate-and-collect discipline; an oracle
    * unrolls the same fixed iterations as CTEs)
    * — and the per-iteration mean cross-entropy (diagnostic only,
    * clamped away from log 0; not part of the gated output).
    *
    * Scale shape: the (doc, bucket) feature frame is built once (the
    * corpus's only token-volume shuffle), folded to one sorted
    * (bucket, tf)-pairs row per doc, labeled, and persisted — the
    * loop's whole cached input. Each iteration then touches NO
    * doc-keyed exchange: z is a codegen'd `aggregate` HOF over the
    * per-doc pairs against the parameter-sized weight LITERAL (no
    * weight shuffle — weights live in the plan,
    * [[Similarity.randomProjection]]'s matrix discipline), ∇ is one
    * explode into a `nBuckets`-key aggregate with map-side partials,
    * and the update is a `nBuckets`-row collect. Iteration count
    * bounds the chain, never the data. At production feature widths
    * (2²⁰ buckets) swap the weight literal for a broadcast join and
    * the driver update for `spark.ml.classification
    * .LogisticRegression` — this form keeps the weights on an
    * oracle-checkable grid. */
  def trainHashedLogReg(
      df: DataFrame, id: Column, text: Column, label: Column,
      nBuckets: Int, iters: Int, lr: Double,
      withLoss: Boolean = true): (DataFrame, Seq[Double]) = {
    val spark = df.sparkSession
    val (w, losses) = trainHashedLogRegImpl(
      df, id, text, label, nBuckets, iters, lr, withLoss)((w, losses, _) => (w, losses))
    val weights = spark.range(nBuckets.toLong)
      .select(col("id").cast("int").as("bucket"),
        element_at(typedLit(w.toSeq), (col("id") + 1).cast("int")).as("w"))
      .orderBy(asc("bucket"))
    (weights, losses)
  }

  /** The per-doc z sum over a docFeats `__fs` pairs column against a
    * weight-vector literal — exact DECIMAL accumulation (see the
    * in-loop comments below), shared by the training loop and the
    * eval cutoff. */
  private def zAggExpr(wLit: Column): Column =
    aggregate(col("__fs"),
      lit(0).cast("decimal(38,6)"),
      (acc, f) => acc + f.getField("tf").cast("decimal(20,0)") *
        element_at(wLit, (f.getField("__b") + 1).cast("int"))
          .cast("decimal(12,6)"))

  /** [[trainHashedLogReg]]'s engine: hands `use` the weights array, the
    * losses and the STILL-PERSISTED per-doc feature frame, so callers
    * that need the train-slice features again ([[evalHashedLogReg]]'s
    * calibration cutoff) reuse the cached frame instead of paying a
    * second full tokenize. The frame is released when `use` returns,
    * and also when training or `use` throws. `withLoss`
    * = false skips the diagnostic mean-cross-entropy pass — the loop
    * is then exactly ONE Spark job per iteration (the gradient
    * aggregate; round-21 VERDICT item 4), with no intermediate
    * persist. Loss is NOT part of any gated output; the weight
    * trajectory is bit-identical either way (same expressions, same
    * decimal grid). */
  private def trainHashedLogRegImpl[T](
      df: DataFrame, id: Column, text: Column, label: Column,
      nBuckets: Int, iters: Int, lr: Double, withLoss: Boolean)(
      use: (Array[Double], Seq[Double], DataFrame) => T): T = {
    require(nBuckets >= 1, "nBuckets must be positive")
    require(iters >= 1 && iters <= 16, "iters must be in [1, 16]")
    val feats = termFreqs(df, id, text)
      .withColumn("__b",
        pmod(conv(substring(md5(col("term")), 1, 8), 16, 10).cast("long"),
          lit(nBuckets.toLong)))
      .groupBy(col("__id"), col("__b"))
      .agg(sum(col("tf")).cast("long").as("tf"))
    val labels = df.select(id.as("__id"),
      when(coalesce(label, lit(false)), lit(1.0d)).otherwise(lit(0.0d))
        .as("__y"))
    // Per-doc compact layout, built ONCE: the (doc, bucket, tf) frame
    // folded to one row per doc carrying its sorted (bucket, tf) pairs
    // plus the label. This is the loop's entire cached input — each
    // iteration's z is then a codegen'd `aggregate` HOF over the
    // array (NO doc-keyed shuffle, no label join), and the gradient
    // re-expands the pairs with one explode into a nBuckets-key
    // aggregate with map-side partials. The previous shape re-shuffled
    // the (doc, bucket) frame TWICE per iteration (z groupBy + the
    // gradient's join back on __id); at sf0.1 that was ~0.8 s of pure
    // exchange per iteration on frames this loop never changes.
    // sort_array is for plan determinism only — z and ∇ accumulate in
    // exact DECIMAL, so no summation order can change a value.
    Materialize.persisting(feats
      .groupBy(col("__id"))
      .agg(sort_array(collect_list(struct(col("__b"), col("tf"))))
        .as("__fs"))
      .join(labels, Seq("__id"))) { docFeats =>
      // N = docs with token events (zero-token docs carry no gradient and
      // no loss); the count also materializes the cached frame.
      val n = docFeats.count()
      require(n > 0, "no documents with token events to train on")
      val w = Array.fill(nBuckets)(0.0d)
      var losses = Vector.empty[Double]
      def round6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (1 to iters).foreach { _ =>
        val wLit = typedLit(w.toSeq)
        // z and ∇ accumulate in DECIMAL, not double: every term is an
        // integer tf times a 6-dp-grid value, exactly representable, so
        // the decimal sum is ORDER-INDEPENDENT — a double sum's
        // association noise crossed the 6-dp round boundary on real data
        // (one bucket in 64 at sf0.01) and flipped the last digit
        // between engines. One cast back to double after the exact sum.
        // The HOF's decimal(38,6) accumulator is the same type a groupBy
        // sum of the decimal(33,6) products promotes to.
        val pFrame = docFeats
          .select(col("__fs"), col("__y"),
            round(zAggExpr(wLit).cast("double"), 6).as("__z"))
          .select(col("__fs"), col("__y"),
            round(lit(1.0d) / (lit(1.0d) + exp(-col("__z"))), 6).as("__p"))
        // ∇ rounds to 5 dp, one digit COARSER than the 6-dp weight grid:
        // lr·∇ is then an exact multiple of 1e-6 (lr = 0.5 halves a 1e-5
        // grid onto 5e-6), so the weight update never lands ON the 5e-7
        // half-grid — where Spark's exact-BigDecimal round and DuckDB's
        // multiply-then-round disagree about the same double (observed:
        // one bucket in 64 flipped its last digit).
        def gradOf(p: DataFrame) = p
          .select(col("__p"), col("__y"), explode(col("__fs")).as("__f"))
          .groupBy(col("__f.__b").as("__b"))
          .agg(round(sum(col("__f.tf").cast("decimal(20,0)") *
            (col("__p").cast("decimal(12,6)") -
              col("__y").cast("decimal(12,6)"))).cast("double") /
            lit(n.toDouble), 5).as("__g"))
          .collect()
        val gradRows =
          if (!withLoss) gradOf(pFrame) // ONE job: p inline above the agg
          else {
            // Loss requested: p feeds two actions — persist across them.
            Materialize.persisting(pFrame) { p =>
              val rows = gradOf(p)
              // Clamp only the DIAGNOSTIC loss away from ln 0 (a 6-dp-
              // rounded p can land exactly on 0 or 1); the gradient uses
              // raw p.
              val pc = least(greatest(col("__p"), lit(1e-9d)),
                lit(1.0d - 1e-9d))
              losses :+= p.agg(
                (-avg(col("__y") * log(pc) +
                  (lit(1.0d) - col("__y")) * log(lit(1.0d) - pc)))
                  .as("loss")).collect()(0).getDouble(0)
              rows
            }
          }
        gradRows.foreach { r =>
          val b = r.getLong(0).toInt
          w(b) = round6(w(b) - lr * r.getDouble(1))
        }
      }
      use(w, losses, docFeats)
    }
  }

  /** Held-out evaluation of the in-engine hashed-LR quality classifier
    * — the closing third of the train/score/gate loop
    * ([[trainHashedLogReg]] trains, [[hashedLinearScore]] gates):
    * split the corpus by the [[Split.hashFraction]] hash (train =
    * fraction < `trainFrac`, the q60 convention — deterministic,
    * engine-portable, no RNG), train on the train slice, score the
    * HELD-OUT slice with the trained weights, and report the confusion
    * matrix with the derived rates as (metric, value) rows.
    *
    * The decision threshold is CALIBRATED ON TRAIN: predicted-positive
    * is `z > z̄_train` (strictly), the mean trained score over the
    * train docs with token events. The intercept-free model can learn
    * direction but not offset, so the raw `z > 0` operating point
    * degenerates to all-negative under class imbalance; centering at
    * the train mean is the standard threshold-tuning step and keeps
    * the whole chain engine-exact — z̄ is an exact DECIMAL sum of
    * 6-dp-grid z values divided once in double, so both engines
    * compare against the IDENTICAL double (an interpolated median
    * would land on the 5e-7 half-grid where engine rounding
    * disagrees). Held-out docs with NO token events (z undefined →
    * coalesced to 0) are decided by the same comparison, documented.
    * Counts are integers; accuracy/precision/recall are
    * `round(count ratio, 4)`; f1 is computed FROM the two rounded
    * rates (both engines derive it from identical doubles). Rates
    * with a zero denominator report NULL, loudly, rather than 0.
    * On THIS repo's synthetic corpus the lang label is unlearnable
    * from text by construction (all langs share one token
    * distribution), so accuracy sits at chance — the contract under
    * test is the split/train/score/report chain, not the model.
    *
    * Scale shape: training is [[trainHashedLogReg]]'s cached-loop
    * shape; the trained weight table is a `nBuckets`-row collect (the
    * parameter-sized kind) re-entering both scoring plans as a
    * LITERAL, so scoring is one token-volume aggregate per slice —
    * no weight shuffle, no iteration; the calibration cutoff is
    * computed from the training loop's CACHED per-doc feature frame
    * (not a second tokenize of the train slice) and enters the scored
    * plan as a literal. The report is a single 1-row aggregate melted
    * to \|metrics\| rows. */
  def evalHashedLogReg(
      df: DataFrame, id: Column, text: Column, label: Column,
      trainFrac: Double, nBuckets: Int, iters: Int,
      lr: Double): DataFrame = {
    require(trainFrac > 0.0 && trainFrac < 1.0,
      "trainFrac must be in (0, 1)")
    val frac = Split.hashFraction(id.cast("string"))
    val train = df.filter(frac < trainFrac)
    val test = df.filter(!(frac < trainFrac))
    // Loss pass skipped (diagnostic only — not part of any gated
    // output) and the train slice's per-doc feature frame reused for
    // the calibration cutoff below, instead of a SECOND full tokenize
    // of 80% of the corpus (round-21 VERDICT item 4).
    // Train-mean operating point from the CACHED feature frame: the
    // per-doc z via the same exact-decimal fold as the training loop
    // ([[zAggExpr]] — per-bucket tf·w products are exact decimals, so
    // the fold equals scoreZ's grouped sum term for term), then the
    // identical decimal(20,6) sum / one double division as before.
    // Collected eagerly (1-row, parameter-sized) so the scored plan
    // compares against a LITERAL — same double, same comparisons.
    val (wLit, cutoffVal) = trainHashedLogRegImpl(
        train, id, text, label, nBuckets, iters, lr, withLoss = false) {
      (w, _, trainFeats) =>
        val wLit = typedLit(w.toSeq)
        (wLit, trainFeats.agg(
          (sum(round(zAggExpr(wLit).cast("double"), 6).cast("decimal(20,6)"))
            .cast("double") / count(lit(1)).cast("double")).as("__c"))
          .collect()(0).getDouble(0))
    }
    def scoreZ(slice: DataFrame): DataFrame =
      termFreqs(slice, id, text)
        .withColumn("__b",
          pmod(conv(substring(md5(col("term")), 1, 8), 16, 10)
            .cast("long"), lit(nBuckets.toLong)))
        .groupBy(col("__id"))
        .agg(round(sum(col("tf").cast("decimal(20,0)") *
          element_at(wLit, (col("__b") + 1).cast("int"))
            .cast("decimal(12,6)")).cast("double"), 6).as("__z"))
    val scored = test
      .select(id.as("__id"),
        when(coalesce(label, lit(false)), lit(1.0d)).otherwise(lit(0.0d))
          .as("__y"))
      .join(scoreZ(test), Seq("__id"), "left")
      .select(col("__y"),
        (coalesce(col("__z"), lit(0.0d)) > lit(cutoffVal)).as("__pred"))
    val conf = scored.agg(
      coalesce(sum(when(col("__pred") && col("__y") === 1.0d, 1L)
        .otherwise(0L)), lit(0L)).as("tp"),
      coalesce(sum(when(col("__pred") && col("__y") === 0.0d, 1L)
        .otherwise(0L)), lit(0L)).as("fp"),
      coalesce(sum(when(!col("__pred") && col("__y") === 0.0d, 1L)
        .otherwise(0L)), lit(0L)).as("tn"),
      coalesce(sum(when(!col("__pred") && col("__y") === 1.0d, 1L)
        .otherwise(0L)), lit(0L)).as("fn"),
      count(lit(1)).as("n_test"))
    val nTrain = train.agg(count(lit(1)).as("n_train"))
    val rates = conf.crossJoin(broadcast(nTrain))
      .withColumn("accuracy",
        when(col("n_test") > 0,
          round((col("tp") + col("tn")).cast("double") /
            col("n_test").cast("double"), 4)))
      .withColumn("precision",
        when(col("tp") + col("fp") > 0,
          round(col("tp").cast("double") /
            (col("tp") + col("fp")).cast("double"), 4)))
      .withColumn("recall",
        when(col("tp") + col("fn") > 0,
          round(col("tp").cast("double") /
            (col("tp") + col("fn")).cast("double"), 4)))
      .withColumn("f1",
        when(col("precision") + col("recall") > 0,
          round(lit(2.0d) * col("precision") * col("recall") /
            (col("precision") + col("recall")), 4)))
    rates.select(explode(array(
        struct(lit("accuracy").as("metric"), col("accuracy").as("value")),
        struct(lit("f1").as("metric"), col("f1").as("value")),
        struct(lit("fn").as("metric"), col("fn").cast("double").as("value")),
        struct(lit("fp").as("metric"), col("fp").cast("double").as("value")),
        struct(lit("n_test").as("metric"),
          col("n_test").cast("double").as("value")),
        struct(lit("n_train").as("metric"),
          col("n_train").cast("double").as("value")),
        struct(lit("precision").as("metric"), col("precision").as("value")),
        struct(lit("recall").as("metric"), col("recall").as("value")),
        struct(lit("tn").as("metric"), col("tn").cast("double").as("value")),
        struct(lit("tp").as("metric"), col("tp").cast("double").as("value"))
      )).as("__m"))
      .select(col("__m.metric").as("metric"), col("__m.value").as("value"))
  }

  /** CCNet-style per-language perplexity buckets: score every document
    * with the corpus bigram LM ([[bigramLogProb]] — Jelinek-Mercer
    * interpolated, mean log-probability per bigram), then split each
    * language into `nBuckets` equal-frequency bands by LM score —
    * bucket 1 ("head") = most-fluent (highest mean logprob = lowest
    * perplexity), bucket `nBuckets` ("tail") = least. This is the
    * CCNet curation primitive (Wenzek et al. 2020): downstream mixes
    * sample head/middle/tail at different rates instead of applying
    * one global perplexity cut — a global cut under-selects
    * low-resource languages whose LM is weaker everywhere.
    *
    * Bucketing is on the ROUNDED logprob itself (monotone in
    * perplexity), never on exp(−logprob): the LM score's ln() is the
    * chain's only libm call, and introducing exp() would add a second
    * engine-dependent rounding surface for zero semantic gain. Ties
    * break on id, so the band assignment is total-order deterministic.
    *
    * Scale shape: the LM chain is [[bigramLogProb]]'s single-shuffle
    * aggregation; the banding adds one window over the per-document
    * score frame — doc-count-sized, orders of magnitude below token
    * volume — partitioned by language (parallel across languages; a
    * single language's docs sort within its partition, the standard
    * ntile cost). Docs with < 2 tokens have no bigram events and no
    * fluency evidence: they surface with NULL score and bucket 0,
    * loudly separated rather than silently pooled into the tail band.
    * Output: (id, lang, n_bigrams, logprob, bucket). */
  def perplexityBuckets(
      df: DataFrame, id: Column, text: Column, lang: Column,
      nBuckets: Int = 3, lambdaJm: Double = 0.75): DataFrame = {
    require(nBuckets >= 1, "nBuckets must be positive")
    val scored = bigramLogProb(df, id, text, lambdaJm)
    val base = df.select(id.as("__id"), lang.as("lang"))
    // ONE left join carries every doc; the scored-ness flag splits the
    // band window's PARTITION key, so the unscored (degenerate) docs
    // land in their own (lang, false) partitions and never shift a
    // scored language's ntile boundaries. This replaces the previous
    // two-branch shape (inner join + a second full-corpus tokenize to
    // re-derive the <2-token set + unionAll): the corpus text is now
    // read exactly once (inside the LM chain) and the banding is one
    // join and one window pass instead of two plan branches.
    // Scored-ness is JOIN PRESENCE (an explicit marker), not a
    // null-test on a payload column — the distinction matters if the
    // LM score ever legitimately aggregates to null.
    val isScored = col("__sc").isNotNull
    val w = Window.partitionBy(col("lang"), isScored)
      .orderBy(col("logprob").desc, col("__id").asc)
    base.join(scored.withColumn("__sc", lit(1)), Seq("__id"), "left")
      .withColumn("bucket",
        when(isScored, ntile(nBuckets).over(w)).otherwise(lit(0)))
      .select(col("__id").as("id"), col("lang"),
        col("n_bigrams"), col("logprob"), col("bucket"))
  }

  /** Exact heavy-hitter terms WITHOUT a vocabulary-wide shuffle: a
    * Misra–Gries screen ([[graft.expressions.MisraGriesTopK]],
    * ≤ `capacity` counters per partition, mergeable partials) nominates
    * candidates — guaranteed a superset of every term with true
    * frequency > N/(capacity+1) — then a second pass computes EXACT
    * counts for candidate terms only and keeps those strictly above the
    * threshold. The screen's one-sided guarantee makes the composition
    * exactly equal to "group the whole vocabulary and filter", at a
    * fraction of the shuffle: the aggregate ships capacity·partitions
    * counters instead of the vocabulary, and the rerank shuffles only
    * rows whose term is one of ≤ capacity candidates (the IN filter is
    * a broadcast-sized literal, pushed to the scan).
    *
    * Driver collect is the candidate list — ≤ capacity strings, the
    * parameter-bounded kind ([[Similarity.pqIndex]]'s codebook
    * discipline). Two passes over the token stream beat one
    * vocabulary-wide shuffle as soon as the vocabulary outgrows
    * aggregate memory — the regime this operator exists for; below
    * that, use plain groupBy (q40).
    *
    * Output: (term, n, share) for terms with n·(capacity+1) > N —
    * integer-exact threshold arithmetic, no float compare — ordered by
    * (n desc, term). share = round(n/N, 6). */
  def frequentTerms(
      df: DataFrame, text: Column, capacity: Int): DataFrame = {
    val toks = df.select(explode(tokens(text)).as("term"))
    // Screen pass: the MG summary and N ride the SAME aggregation —
    // one scan yields both the candidate set and the exact threshold.
    val row = toks.agg(
      graft.expressions.MisraGriesTopK.summary(col("term"), capacity)
        .as("mg"),
      count(lit(1)).as("total")).collect()(0)
    val candidates = row.getMap[String, Long](0).keys.toSeq.sorted
    val total = row.getLong(1)
    val spark = df.sparkSession
    import spark.implicits._
    val candDf = candidates.toDF("term")
    toks
      .join(broadcast(candDf), Seq("term"), "left_semi")
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .filter(col("n") * lit(capacity + 1L) > lit(total))
      .select(col("term"), col("n"),
        round(col("n").cast("double") / lit(total).cast("double"), 6)
          .as("share"))
      .orderBy(col("n").desc, col("term").asc)
  }

  /** Term-level vocabulary drift between two snapshots: for every term
    * in the UNION vocabulary, its count in each snapshot and the
    * add-one-smoothed log-ratio of its frequency shares —
    *
    *   drift(t) = ln((c_new+1)/(T_new+V)) − ln((c_old+1)/(T_old+V))
    *
    * — positive for terms the new crawl says more, negative for terms
    * it is losing. The top-`topN` by |drift| is the term-level "what
    * changed between crawls" report that q93 (doc level) and q144
    * (composition level) cannot see: a topic shift inside surviving
    * documents. Smoothing over the union vocabulary keeps every drift
    * finite (a term brand-new to either side still scores).
    *
    * Same float discipline as [[dsirWeights]]: the ln difference
    * rounds to 4 dp (q72's accepted libm grid) and the ranking
    * compares the ROUNDED value with a term tie-break, so the top-N
    * cut is engine-exact. Scale shape: one tokenize per snapshot with
    * the side flag riding the term group key (conditional sums — no
    * join between the sides), a 1-row totals broadcast,
    * TakeOrderedAndProject for the cut. Output: (term, n_old, n_new,
    * drift), |drift| DESC, term ASC. */
  def termDrift(
      oldDf: DataFrame, newDf: DataFrame, text: Column,
      topN: Int): DataFrame = {
    require(topN >= 1, "topN must be positive")
    def side(df: DataFrame, isNew: Boolean): DataFrame =
      df
        .select(explode(tokens(text)).as("term"),
          lit(isNew).as("__new"))
    val counts = side(oldDf, isNew = false)
      .unionByName(side(newDf, isNew = true))
      .groupBy(col("term"))
      .agg(
        sum(when(!col("__new"), 1L).otherwise(0L)).as("n_old"),
        sum(when(col("__new"), 1L).otherwise(0L)).as("n_new"))
    val totals = counts.agg(
      sum(col("n_old")).as("t_old"), sum(col("n_new")).as("t_new"),
      count(lit(1)).as("nv"))
    counts.crossJoin(broadcast(totals))
      .select(col("term"), col("n_old"), col("n_new"),
        round(
          log((col("n_new") + 1).cast("double") /
            (col("t_new") + col("nv")).cast("double")) -
          log((col("n_old") + 1).cast("double") /
            (col("t_old") + col("nv")).cast("double")), 4).as("drift"))
      .orderBy(abs(col("drift")).desc, col("term").asc)
      .limit(topN)
  }

  /** Data Selection via Importance Resampling (DSIR, Xie et al. 2023),
    * unigram form: score every RAW document by how much more likely its
    * tokens are under the TARGET distribution than under the raw pool —
    * the estimated log importance weight
    *
    *   z(d) = Σ_t tf_{d,t} · [ln p̂_tgt(t) − ln p̂_all(t)]
    *
    * with both LMs add-one smoothed over the SHARED corpus vocabulary
    * (p̂(t) = (c(t)+1)/(T+V)), so every raw-side term has a finite
    * weight even when the target never saw it. The top-`topN` raw
    * documents by z are the ones importance resampling would pull
    * toward the target domain. `isTarget` marks the target slice;
    * scored rows are the NON-target documents only (selecting from the
    * raw pool is the operator's purpose; target docs scoring themselves
    * would trivially dominate).
    *
    * Float discipline (the q130 lesson, adapted for libm): per-TERM
    * weights are ln() ratios — rounded to 4 dp (q72's accepted ln
    * grid), so per-doc sums are integer combinations of 1e-4-grid
    * values and the final 4-dp round of z is grid-stable across
    * engines; ranking compares the rounded z with a doc-id tie-break.
    *
    * Scale shape: one tokenize (the flag rides the per-doc group key,
    * so target/raw counts come out of the SAME (doc, term) aggregate),
    * one vocabulary-sized conditional-sum aggregate, a 1-row smoothing
    * scalar broadcast, the per-term weight frame joined back on the
    * term key (vocabulary-sized — AQE broadcasts when it fits), one
    * per-doc aggregate, TakeOrderedAndProject for the top-N. The raw
    * token stream shuffles exactly once. Output: (id, n_tokens, z),
    * z DESC, id ASC, top `topN`. */
  def dsirWeights(
      df: DataFrame, id: Column, text: Column, isTarget: Column,
      topN: Int): DataFrame = {
    require(topN >= 1, "topN must be positive")
    val tf = df
      .select(id.cast("long").as("__id"),
        isTarget.cast("boolean").as("__t"),
        explode(tokens(text)).as("term"))
      .groupBy(col("__id"), col("__t"), col("term"))
      .agg(count(lit(1)).as("tf"))
    Materialize.over(tf) { tfc =>
      val vocab = tfc.groupBy(col("term")).agg(
        sum(when(col("__t"), col("tf")).otherwise(0L)).as("tt"),
        sum(col("tf")).as("tc"))
      val totals = vocab.agg(
        sum(col("tt")).as("t_tgt"), sum(col("tc")).as("t_all"),
        count(lit(1)).as("nv"))
      val weights = vocab.crossJoin(broadcast(totals))
        .select(col("term"), round(
          log((col("tt") + 1).cast("double") /
            (col("t_tgt") + col("nv")).cast("double")) -
          log((col("tc") + 1).cast("double") /
            (col("t_all") + col("nv")).cast("double")), 4).as("w"))
      tfc.filter(!col("__t"))
        .join(weights, "term")
        .groupBy(col("__id"))
        .agg(sum(col("tf")).cast("long").as("n_tokens"),
          round(sum(col("tf").cast("double") * col("w")), 4).as("z"))
        .orderBy(col("z").desc, col("__id").asc)
        .limit(topN)
    }
  }
}
