package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StructField, StructType}

import graft.expressions.SimHash64.simhash64
import graft.functions.TextFunctions
import graft.functions.VectorFunctions

/** Deduplication operators for the training-data pipeline: exact,
  * n-gram-Jaccard (exact, shingle-blocked), MinHash+LSH (approximate,
  * the 100 TB path), SimHash (Hamming near-dup) and embedding-cosine.
  *
  * Scale design: every variant is "block then verify" — candidates come
  * from a shuffle join on a compact blocking key (shingle, band hash,
  * SimHash chunk, hyperplane bucket), never from a cross join, so the
  * shuffle volume is O(candidates), not O(n²). The only cross join in this
  * file is the brute-force embedding path kept as the small-side baseline.
  */
object Dedup {

  /** Spread a narrow input across the session's parallelism before a
    * heavy per-row compute stage (signature hashing, shingling). A
    * single-file parquet scan arrives as ONE partition locally — without
    * this, the expensive projection runs as one task.
    *
    * Keyed on the deployment mode rather than probing
    * `df.rdd.getNumPartitions`: the probe forced plan conversion and cut
    * AQE out of the frame's lineage. local[(n)] runs spread (single-file
    * scans arrive as one partition); cluster runs are an exact no-op
    * (scans already arrive wide; an unconditional repartition there
    * would shuffle the full corpus and could DOWN-partition it to
    * defaultParallelism).
    *
    * CALL-SITE DISCIPLINE (round 21, measured): the spread exchange
    * costs a flat ~0.2–0.5 s per local query (one extra stage of
    * defaultParallelism tasks), so it stays ONLY where the map-side
    * per-row work is heavy enough to repay it — a full-surface
    * same-JVM A/B (R21SpreadAB, sf0.1; retired, see BASELINE.md
    * "Retired reproducers") kept it at the sites whose
    * queries regress without it (rollingHash +2.8 s, embedding-vector
    * math +2.6 s, PassJoin/levenshtein self-pairs +2.5 s, subword
    * greedy walks +1.7 s, MinHash signatures, repeated-span windows,
    * PII regexes, Cluster Lloyd passes) and dropped it from the
    * shingle-explode / tokenize / profile sites whose heavy work runs
    * AFTER a shuffle anyway (−0.2 to −2.7 s each, no result change).
    * OPTIMIZATION_r21.md carries the per-site table. */
  def spread(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    if (sc.isLocal) df.repartition(sc.defaultParallelism) else df
  }

  /** Exact dedup: one survivor (min id) per duplicate group of `key`.
    * Plans as two hash aggregates (partial+final) — the canonical
    * hash-groupBy dedup, shuffle on the key hash only. */
  def exact(df: DataFrame, key: Column, id: Column): DataFrame =
    df.groupBy(key.as("dedup_key"))
      .agg(min(id).as("survivor_id"), count(lit(1)).as("n_dups"))

  /** Keep-first dedup that preserves full rows: row_number over duplicate
    * groups, keep rank 1. Heavier than [[exact]] (sort within groups) but
    * returns the surviving rows themselves. */
  def keepFirst(df: DataFrame, key: Column, order: Column): DataFrame = {
    val w = Window.partitionBy(key).orderBy(order)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Exact n-gram Jaccard near-dup pairs (similarity ≥ threshold).
    *
    * Blocking is *complete*, not probabilistic: any pair with Jaccard > 0
    * shares ≥1 shingle, so the shingle-join candidate set is a superset of
    * every qualifying pair and the result is exact — this is the oracle-
    * checkable variant. At extreme scale, very frequent shingles
    * (stop-shingles) dominate the join; `maxShingleFreq` optionally drops
    * shingles occurring in more than that many docs (sacrifices
    * completeness for pairs consisting ONLY of ubiquitous shingles).
    *
    * Input: (id, text). Output: (id_a, id_b, jaccard) with id_a < id_b.
    * `jaccard` is an exact small-integer division — bit-identical across
    * engines.
    */
  def ngramJaccardPairs(
      docs: DataFrame, id: Column, text: Column,
      n: Int, threshold: Double,
      maxShingleFreq: Option[Int] = None): DataFrame = {
    // Shingles are hashed to 64-bit longs up front: every downstream
    // shuffle/compare/intersect runs on fixed-width longs instead of
    // strings (collision probability over the corpus is ~|shingles|²/2⁶⁴,
    // far below any other error source). HashedShingles is the native
    // one-pass form of the lower/split/n-gram/distinct/xxhash64/sort
    // chain (codegen'd; parity pinned in ExpressionCodegenSpec).
    //
    // Candidate generation runs the shared probe-window core
    // ([[pairsByProbeWindow]]; round 7 — previously a PPJoin-style
    // prefix-prefix join whose every shares-one-hash pair went to
    // verification). Jaccard's bounds, under the hash total order:
    // for a pair with J(A,B) ≥ τ and |A| ≤ |B|, the overlap is
    // ≥ ⌈τ(|A|+|B|)/(1+τ)⌉, so at most |A|−⌈τ(|A|+|B|)/(1+τ)⌉ ≤
    // |A|−⌈2τ|A|/(1+τ)⌉ =: p−1 of A's shingles miss B — the probe
    // window min(2p−1, |A|) guarantees every qualifying pair passes the
    // per-pair match-count filter m ≥ J′ − slack(|A|,|B|), while noise
    // pairs sharing one or two shingles never reach verification. Note
    // Jaccard's probe is NARROWER than the classic prefix
    // (|A|−⌈τ|A|⌉+1): probing against the larger doc's FULL set
    // tightens the pigeonhole to the (1−τ)/(1+τ) fraction.
    pairsByProbeWindow(
      shingleRelation(docs, id, text, n),
      nsh => {
        val p = (nsh - ceil(nsh * (2 * threshold / (1 + threshold))) + 1).cast("int")
        least(p * 2 - 1, nsh).cast("int")
      },
      slack = (sn, ln) =>
        (sn - ceil((sn + ln) * (threshold / (1 + threshold)))).cast("int"),
      // Size pruning: |A| and |B| must be within a factor τ of each
      // other ("s" is the smaller side by the join's total order).
      sizeCond = (sn, ln) => sn >= ceil(ln * threshold),
      score = jaccardScore,
      scoreName = "jaccard",
      threshold = threshold, maxShingleFreq = maxShingleFreq)
  }

  /** The exact n-gram Jaccard of two shingle sets from their
    * intersection and set sizes: a small-integer division, bit-identical
    * across engines. */
  private def jaccardScore(inter: Column, na: Column, nb: Column): Column =
    inter.cast("double") / (na + nb - inter)

  /** One row per (doc, band) with the band's hash — the SHARED banding
    * formula for both LSH pair paths (estimate-only and verified); any
    * change to the band-hash scheme lands in exactly one place.
    * Input needs columns `id` and `sig`; `carry` names extra columns to
    * keep on each banded row. */
  private def bandedRows(sig: DataFrame, k: Int, bands: Int, carry: Seq[String]): DataFrame = {
    val keep = col("id") +: carry.map(col)
    sig.select(keep :+ explode(bandHashes(k, bands)).as("e"): _*)
      .select(keep :+ col("e.band") :+ col("e.bh"): _*)
  }

  /** A `sig` row's bands as an array of (band, bh) structs — the
    * banding formula itself, which [[bandedRows]] explodes. */
  private def bandHashes(k: Int, bands: Int): Column = {
    val r = k / bands
    transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(b.as("band"), xxhash64(b, array_join(
        transform(slice(col("sig"), b * r + 1, lit(r)), h => h.cast("string")),
        ",")).as("bh")))
  }

  /** MinHash+LSH near-dup candidates (approximate; the 100 TB scale path).
    *
    * shingle → k minhashes → `bands` bands of k/bands rows → hash per band
    * → shuffle-join docs sharing a band hash → verify with the signature
    * estimate (fraction of equal minhashes). Detection probability for a
    * pair with true Jaccard j is 1-(1-j^r)^b; with k=64, b=16, r=4 a
    * j=0.8 pair is found with p≈0.9996.
    *
    * Output: (id_a, id_b, est_jaccard ≥ threshold).
    */
  def minhashLshPairs(
      docs: DataFrame, id: Column, text: Column,
      n: Int = 3, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.7): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    // One-pass native shingle hashing feeds the signature mixes directly
    // (no shingle strings ever materialize). Persisted: it feeds the
    // band explode AND both sides of the estimate join below.
    val sig0 = spread(docs).select(
      id.cast("long").as("id"),
      graft.expressions.MinHashSig.minhashSigFromHashes(
        graft.expressions.HashedShingles.shingles(text, n), k).as("sig"))
    Materialize.over(sig0) { sig =>
      // The band self-join carries ONLY (id, band, bh): a banded row with
      // the k-long signature attached would push ~k·8 bytes per row — on
      // BOTH sides — through the join shuffle and duplicate two signatures
      // onto every pre-dedup collision row (a pair colliding in c bands
      // pays c times). Signatures are joined back per DISTINCT pair
      // instead, mirroring the verified path's shape (measured 41 s → on
      // par with the verified path at the K=32 stress).
      val banded = bandedRows(sig, k, bands, carry = Seq.empty)
      val a = banded.as("a")
      val b = banded.as("b")
      val cand = a.join(b,
          col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .dropDuplicates("id_a", "id_b")
      // Codegen'd signature agreement (graft.expressions.SigAgree): the HOF
      // formulation (size(filter(zip_with(...)))) is CodegenFallback and
      // allocates per pair — measured ~3.5x slower on the candidate set.
      cand
        .join(sig.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
        .join(sig.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
        .withColumn("est_jaccard",
          graft.expressions.SigAgree.agree(col("sig_a"), col("sig_b"))
            .cast("double") / k)
        .filter(col("est_jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), col("est_jaccard"))
    }
  }

  /** MinHash+LSH near-dup pairs WITH exact verification — the full
    * production dedup shape: LSH banding generates candidates (cheap,
    * near-linear), then each candidate pair is verified with the EXACT
    * n-gram Jaccard on the hashed shingle sets, so false positives are
    * eliminated and the output is `(id_a, id_b, jaccard ≥ threshold)`,
    * identical to [[ngramJaccardPairs]] up to LSH recall.
    *
    * Recall: a pair with true Jaccard j becomes a candidate with
    * p = 1-(1-j^r)^b; at the defaults (k=60, b=20, r=3) a j=0.8 pair is
    * missed with p ≈ 6e-7 — deterministically complete in practice, which
    * is what makes this variant oracle-checkable against the exhaustive
    * exact SQL. Versus [[ngramJaccardPairs]] the candidate stage shuffles
    * b fixed-width band hashes per doc instead of a ~(1-τ) fraction of the
    * shingle set — the knob to turn when the prefix join's candidate
    * volume dominates at scale.
    *
    * `bandSalts` > 1 salts the band self-join ([[SkewJoin]]'s scheme
    * adapted to a self pair join): the left side gets a deterministic
    * per-doc salt, the right side is replicated once per salt, and the
    * join key grows to (band, bh, salt) — a HOT band hash (a
    * mass-duplicated boilerplate doc whose every band collides) spreads
    * its pair generation over `bandSalts` tasks instead of landing on
    * one straggler. Output is identical to the unsalted join (pinned in
    * SkewJoinSpec); total candidate work is unchanged (the pair set IS
    * quadratic in the hot group — salting removes the straggler, the
    * threshold/cluster-resolution upstream owns the group size).
    */
  def minhashLshVerifiedPairs(
      docs: DataFrame, id: Column, text: Column,
      n: Int = 3, threshold: Double = 0.8,
      k: Int = 60, bands: Int = 20, bandSalts: Int = 1): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    require(bandSalts >= 1, "bandSalts must be >= 1")
    // One pass computes the hashed shingle set (exact verification), and
    // the MinHash signature derives from those SAME hashes (candidate
    // generation) — each shingle string is hashed exactly once, and no
    // shingle strings survive past the projection; persisted because it
    // feeds the band explode AND both sides of the verify join.
    Materialize.over(shingleRel(spread(docs), id, text, n, k)) { base =>
      val banded = bandedRows(base, k, bands, carry = Seq("n_sh"))
      val (a, b, saltCond) =
        if (bandSalts <= 1) (banded.as("a"), banded.as("b"), lit(true))
        else (
          banded.withColumn("__salt", pmod(hash(col("id")), lit(bandSalts))).as("a"),
          banded.withColumn("__salt",
            explode(sequence(lit(0), lit(bandSalts - 1)))).as("b"),
          col("a.__salt") === col("b.__salt"))
      // Size pruning mirrors ngramJaccardPairs: |A|,|B| within a factor τ.
      val cand = a.join(b,
          saltCond &&
            col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
            col("a.id") < col("b.id") &&
            candidatePair(col("a.id"), col("a.n_sh"), col("b.id"), col("b.n_sh"),
              threshold))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .dropDuplicates("id_a", "id_b")
      verifyPairs(cand, base, jaccardScore, "jaccard", threshold)
    }
  }

  /** Shared (id, hs, n_sh) hashed-shingle relation of the probe-window
    * family, persisted by [[pairsByProbeWindow]] because it feeds the
    * probe explode, the full-side explode, and both sides of the
    * verification join. `hs` is sorted ascending by hash — prefixes
    * under this order are what the pigeonhole/bottom-k arguments below
    * rely on. */
  private def shingleRelation(
      docs: DataFrame, id: Column, text: Column, n: Int): DataFrame =
    docs.select(
      id.cast("long").as("id"),
      graft.expressions.HashedShingles.shingles(text, n).as("hs"))
      .withColumn("n_sh", size(col("hs")))

  /** Shared candidate-then-verify core of the set-similarity family
    * (containment AND Jaccard — the measures differ only in three
    * expressions, injected below). Variants differ in:
    *   - `windowLen`: how many of the smaller doc's bottom hashes probe
    *     the join, as a function of its set size n (containment exact:
    *     min(2p−1, n) for pigeonhole prefix p; jaccard exact: same shape
    *     with its tighter p; banded: min(k, n));
    *   - `slack(sn, ln)`: for a qualifying pair, the maximum number of
    *     the SMALLER doc's shingles absent from the larger — containment:
    *     sn−⌈τ·sn⌉ (independent of ln); jaccard: sn−⌈τ(sn+ln)/(1+τ)⌉
    *     (per-pair, tighter);
    *   - `sizeCond(sn, ln)`: size pruning in the join — jaccard requires
    *     sn ≥ ⌈τ·ln⌉ (sizes within a τ factor), containment admits any;
    *   - `score(inter, na, nb)`: the verified similarity —
    *     inter/min(na,nb) vs inter/(na+nb−inter).
    *
    * Pipeline, shaped to minimize stages:
    *  1. The full-side explode — the dominant relation, |corpus
    *     shingles| rows — is semi-joined against the DISTINCT probe
    *     hashes: only hashes in some smaller-doc probe window can seed a
    *     candidate. The distinct set is a runtime-sized aggregate, so
    *     AQE broadcasts it when small and the pruning applies MAP-SIDE
    *     before any full-side shuffle (and typically shrinks the pruned
    *     side under the broadcast threshold, making the candidate join
    *     itself shuffle-free); too large to broadcast, the semi join
    *     shares its hash partitioning with the candidate join that
    *     follows (no extra full-side shuffle).
    *  2. Hot capping (`maxShingleFreq`): doc frequencies are counted
    *     over the PRUNED full side — a hash can only generate fan-out if
    *     it is probed at all, so capping only probed hashes is exactly
    *     equivalent to capping corpus-wide, at a fraction of the
    *     aggregation cost (measured 0.9 s → ~0.1 s at sf0.1, where the
    *     naive corpus-wide frequency pass cost half the query). The
    *     >cap hashes are folded to a single ARRAY row and broadcast —
    *     the scalar-subquery pattern — so the probe window is pruned
    *     with one codegen'd `array_except` per doc (no probe-side join
    *     or shuffle) and the surviving width J′ falls out as `size(w)`
    *     in the same projection (no per-doc width aggregation either).
    *     The hot set at any sane cap is tiny by definition (heavy
    *     hitters), the same size class as a broadcast anti-join build
    *     side.
    *  3. Candidate join probe ⋈ pruned full on the hash; "smaller" is
    *     made total by (n_sh, id) ordering so equal-size pairs are
    *     generated exactly once. Matches are COUNTED per pair and pairs
    *     below m ≥ max(J′−(p−1), 1) are dropped: at most p−1 of the
    *     smaller doc's shingles can miss the larger one, so a
    *     qualifying pair always passes (one-sided bound, self-adjusting
    *     under hot capping — removing probe entries lowers J′ and the
    *     requirement in step), while the noise pairs sharing one or two
    *     shingles — the overwhelming bulk of a bare shares-one-hash
    *     join's output (measured ~550× the qualifying pairs at sf0.1)
    *     — fall far short of it.
    *  4. Exact verification (`array_intersect` on the complete sets)
    *     runs on the ~true-pair-sized survivor set only. */
  private def pairsByProbeWindow(
      rel: DataFrame, windowLen: Column => Column,
      slack: (Column, Column) => Column,
      sizeCond: (Column, Column) => Column,
      score: (Column, Column, Column) => Column, scoreName: String,
      threshold: Double, maxShingleFreq: Option[Int],
      sampledBound: Boolean = false): DataFrame =
    Materialize.over(rel) { sh =>
      val window = slice(col("hs"), lit(1), windowLen(col("n_sh")))
      val probe0 = sh.select(col("id"), col("n_sh"), window.as("w"))
      val probedHashes = probe0.select(explode(col("w")).as("h")).distinct()
      val fullPruned = sh.select(col("id"), col("n_sh"), explode(col("hs")).as("h"))
        .join(probedHashes, Seq("h"), "left_semi")
      val (probe, full) = maxShingleFreq match {
        case Some(cap) =>
          val hotArr = fullPruned.groupBy("h").agg(count(lit(1)).as("f"))
            .filter(col("f") > cap)
            .agg(collect_list(col("h")).as("hot"))
          val p = probe0.crossJoin(broadcast(hotArr))
            .select(col("id"), col("n_sh"),
              array_except(col("w"), col("hot")).as("w"))
          // Hot rows on the full side can no longer match once the probe
          // dropped them; filtering keeps them out of the join build.
          val f = fullPruned.crossJoin(broadcast(hotArr))
            .filter(!array_contains(col("hot"), col("h")))
            .select(col("id"), col("n_sh"), col("h"))
          (p, f)
        case None => (probe0, fullPruned)
      }
      val probeEx = probe.select(col("id"), col("n_sh"),
        size(col("w")).as("jq"), explode(col("w")).as("h"))
      val sn = col("s_n")
      val ln = col("l_n")
      val cand = probeEx.as("s").join(full.as("l"),
          col("s.h") === col("l.h") &&
            (col("s.n_sh") < col("l.n_sh") ||
              (col("s.n_sh") === col("l.n_sh") && col("s.id") < col("l.id"))) &&
            sizeCond(col("s.n_sh"), col("l.n_sh")))
        .groupBy(col("s.id").as("sid"), col("l.id").as("lid"),
          col("s.n_sh").as("s_n"), col("l.n_sh").as("l_n"),
          col("s.jq").as("jq"))
        .agg(count(lit(1)).as("m"))
        // Deterministic pigeonhole bound: for a qualifying pair, at most
        // `slack(sn, ln)` of the smaller doc's shingles — hence of ANY
        // probe window drawn from them — can miss the larger doc, so its
        // match count m is ≥ J′ − slack. The banded variant additionally
        // applies a concentration bound (`sampledBound`): its probe is a
        // uniform J′-sample of the doc's shingles, so a qualifying pair's
        // match count concentrates at ≥ τ·J′ (hypergeometric); 5σ below
        // that the miss probability is ~3e-7 per pair — the q24-vs-q21
        // recall class. The exact paths must NOT use it: for wide windows
        // the concentration term can exceed the pigeonhole guarantee and
        // would trade away the deterministic completeness the oracle
        // check relies on.
        .filter(col("m") >= greatest(
          col("jq") - slack(sn, ln),
          if (sampledBound)
            floor(lit(threshold) * col("jq") -
              lit(5.0) * sqrt(col("jq") * lit(threshold * (1 - threshold))))
          else lit(1),
          lit(1)))
        .select(least(col("sid"), col("lid")).as("id_a"),
          greatest(col("sid"), col("lid")).as("id_b"))
      verifyPairs(cand, sh, score, scoreName, threshold)
    }

  /** Exact verification shared by every probe-window candidate
    * generator: join candidates back to the complete shingle sets and
    * keep pairs whose `score(|A∩B|, |A|, |B|)` meets the threshold
    * (exact `array_intersect` on sorted long arrays; small-integer
    * division, bit-identical across engines). */
  private def verifyPairs(
      cand: DataFrame, sh: DataFrame,
      score: (Column, Column, Column) => Column, scoreName: String,
      threshold: Double): DataFrame =
    cand
      .join(sh.select(col("id").as("id_a"), col("hs").as("hs_a"),
        col("n_sh").as("n_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("hs").as("hs_b"),
        col("n_sh").as("n_b")), "id_b")
      .withColumn("n_inter", size(array_intersect(col("hs_a"), col("hs_b"))))
      .withColumn(scoreName, score(col("n_inter"), col("n_a"), col("n_b")))
      .filter(col(scoreName) >= threshold)
      .select(col("id_a"), col("id_b"), col(scoreName))

  /** Containment near-dup pairs: |A∩B| / min(|A|,|B|) ≥ threshold over
    * hashed shingle sets — catches the one-document-contains-the-other
    * duplicates that symmetric Jaccard under-scores (a doc pasted inside
    * a larger page scores ~|A|/|B| Jaccard but ~1.0 containment).
    *
    * Exact and complete, block-then-verify like the Jaccard family. The
    * symmetric prefix filter of [[ngramJaccardPairs]] does not transfer
    * (a doc's required overlap depends on the PARTNER's size), but a
    * one-sided version does: with p = n−⌈τ·n⌉+1, at most p−1 of the
    * SMALLER doc's shingles lie outside the larger one, so under the
    * hash sort order the smallest shared hash lies within the smaller
    * doc's first p shingles (pigeonhole). Candidates therefore come from
    * smaller-doc BOTTOM-J shingles (J = min(2p−1, n)) ⋈ larger-doc FULL
    * shingle sets — a τ-complement fraction of the old full×full
    * self-join, with the full side semi-join-pruned to joinable shingles
    * only (see [[pairsByProbeWindow]]).
    *
    * The probe window is 2p−1 wide (not the minimal p) to buy a COUNT
    * filter: among the smaller doc's bottom J′ surviving probe shingles
    * (J′ ≤ J after hot-capping), at most p−1 can miss the larger doc, so
    * a qualifying pair matches ≥ J′−(p−1) of them. Noise pairs sharing
    * one or two boilerplate-ish shingles — the overwhelming bulk of
    * what a bare shares-one-prefix-hash join emits (measured ~550× the
    * qualifying pairs at sf0.1) — fall far short of that bound, so the
    * expensive exact verification (two joins carrying the full shingle
    * arrays + `array_intersect`) runs on ~the true pairs only. Uncapped,
    * the bound never drops a qualifying pair (one-sided, and
    * self-adjusting as window entries fall away), so the result is exact
    * and complete — this is q59's configuration. With `maxShingleFreq`
    * set the window is 2p−1 wide precisely so it absorbs up to p−1 hot
    * removals before the guarantee erodes; past that (mass-duplication
    * regimes where most of a doc's window exceeds the cap) recall
    * degrades — measured in the round-7 K-sweep at K=32/cap 500, where
    * this path missed 0.04% of qualifying pairs and the banded variant's
    * fixed-k sample recovered them (BASELINE.md).
    *
    * The probe width grows with doc size (~2(1−τ)·|A|), so candidate
    * volume tracks the qualifying-pair count times the probe width; at
    * mass-duplication scale prefer [[containmentPairsLsh]], whose
    * fixed-width bottom-k probes cut that constant (same verified
    * output, probabilistic recall ≥ 1−(1−τ)^k).
    *
    * `maxShingleFreq` caps stop-shingle fan-out in CANDIDATE GENERATION
    * only (verification always computes the exact containment): shingles
    * occurring in more than that many docs stop generating candidates,
    * which can lose only pairs all of whose probe-overlap shingles are
    * ubiquitous — the knob that bounds the join at corpus scale, where a
    * boilerplate shingle shared by millions of docs would otherwise fan
    * out quadratically.
    * Output: (id_a, id_b, containment) with id_a < id_b. */
  def containmentPairs(
      docs: DataFrame, id: Column, text: Column,
      n: Int, threshold: Double,
      maxShingleFreq: Option[Int] = None): DataFrame =
    pairsByProbeWindow(
      shingleRelation(docs, id, text, n),
      nsh => {
        val p = (nsh - ceil(nsh * threshold) + 1).cast("int")
        least(p * 2 - 1, nsh).cast("int")
      },
      slack = (sn, _) => (sn - ceil(sn * threshold)).cast("int"),
      sizeCond = (_, _) => lit(true),
      score = (inter, na, nb) => inter.cast("double") / least(na, nb),
      scoreName = "containment",
      threshold = threshold, maxShingleFreq = maxShingleFreq)

  /** Banded approximate containment — the mass-duplication scale path for
    * [[containmentPairs]], mirroring the q24-vs-q21 pattern of the
    * Jaccard family: cheap banded candidates, exact verification, so any
    * emitted pair carries its TRUE containment and false positives are
    * impossible; only recall is probabilistic.
    *
    * Banding scheme: the SMALLER doc's bottom-k minhash sketch. `hs` is
    * sorted by hash, so its first `sampleK` entries are the k smallest
    * hashes = a uniform k-sample of the doc's shingle set (the hash
    * induces a random permutation) = a one-permutation minhash sketch
    * banded at r=1, b=k. A band "fires" when the larger doc contains
    * that sampled shingle, which for a pair with true containment c
    * happens per band with probability ~c — detection probability is
    * ≥ 1−(1−c)^k (without-replacement sampling does slightly better):
    * at τ=0.9, k=16 a qualifying pair is missed with p ≤ 1e-16.
    * Moreover, when the doc is small enough that the sketch covers the
    * exact path's pigeonhole prefix (|A| ≤ (sampleK−1)/(1−τ)), the
    * candidate set is a SUPERSET of the exact path's — deterministically
    * complete, which is what makes this variant oracle-checkable against
    * the same exhaustive SQL on real corpora.
    *
    * Versus the exact path the probe side shrinks from ~2(1−τ)·|A| rows
    * per doc to a FIXED k, so the candidate join's output volume per
    * qualifying pair is bounded by k instead of growing with doc size —
    * the knob that wins once mass duplication makes pair count, not doc
    * count, the dominant term (measured in the ScaleStress K-sweep).
    * When the sketch covers the exact path's widened probe window
    * (n ≤ (sampleK+1)/(2(1−τ)), roughly), the exact count bound applies
    * and noise pairs are pre-filtered like the exact path's; for larger
    * docs any single sampled match makes a candidate (recall over
    * precision — verification owns correctness).
    * Output: (id_a, id_b, containment ≥ threshold), exact values. */
  def containmentPairsLsh(
      docs: DataFrame, id: Column, text: Column,
      n: Int, threshold: Double, sampleK: Int = 8,
      maxShingleFreq: Option[Int] = None): DataFrame = {
    require(sampleK >= 1, "sampleK must be >= 1")
    pairsByProbeWindow(
      shingleRelation(docs, id, text, n),
      nsh => least(lit(sampleK), nsh).cast("int"),
      slack = (sn, _) => (sn - ceil(sn * threshold)).cast("int"),
      sizeCond = (_, _) => lit(true),
      score = (inter, na, nb) => inter.cast("double") / least(na, nb),
      scoreName = "containment",
      threshold = threshold, maxShingleFreq = maxShingleFreq,
      sampledBound = true)
  }

  /** SimHash near-dup pairs within Hamming distance `maxHamming` (≤ 3 with
    * 4 chunks, by pigeonhole: any pair differing in ≤3 of 64 bits agrees
    * on at least one 16-bit chunk — candidate generation is complete).
    * Output: (id_a, id_b, hamming). */
  def simhashPairs(
      docs: DataFrame, id: Column, text: Column,
      maxHamming: Int = 3): DataFrame = {
    val chunks = 4
    val hashed = docs.select(
      id.cast("long").as("id"),
      simhash64(TextFunctions.tokens(text)).as("sh"))
    val chunked = hashed.select(
      col("id"), col("sh"),
      explode(array((0 until chunks).map(i =>
        struct(lit(i).as("chunk"),
          shiftrightunsigned(col("sh"), i * 16).bitwiseAND(lit(0xffffL)).as("ck"))): _*))
        .as("e"))
      .select(col("id"), col("sh"), col("e.chunk"), col("e.ck"))
    val a = chunked.as("a")
    val b = chunked.as("b")
    a.join(b,
        col("a.chunk") === col("b.chunk") && col("a.ck") === col("b.ck") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sh").as("sh_a"), col("b.sh").as("sh_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Embedding near-dup pairs via hyperplane-LSH blocking — the 100 TB
    * path for [[embeddingPairs]]: candidates must share an `nBits` bucket
    * (or differ by ≤ `probeHamming` bits via chunked matching on the
    * bucket), then exact cosine verification. Approximate: recall < 1 for
    * pairs whose vectors straddle many hyperplanes. */
  def embeddingPairsLsh(
      emb: DataFrame, id: Column, vec: Column,
      threshold: Double, nBits: Int = 16): DataFrame = {
    val v = spread(emb).select(id.cast("long").as("id"), vec.as("v"))
      .withColumn("nrm", sqrt(VectorFunctions.normSq(col("v"))))
      .withColumn("bucket", VectorFunctions.hyperplaneBucket(col("v"), nBits))
    val a = v.as("a")
    val b = v.as("b")
    a.join(b, col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .withColumn("cosine",
        VectorFunctions.dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")))
      .filter(col("cosine") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cosine"))
  }

  /** Cross-corpus contamination check (benchmark decontamination): for
    * each probe document, the fraction of its n-gram shingles that occur
    * ANYWHERE in the reference corpus. The corpus side collapses to its
    * distinct shingle set first (one aggregation), so the join is
    * |probe shingles| ⋈ |distinct corpus shingles| — never quadratic.
    * Output: (id, n_sh, n_hit, overlap) with exact integer ratio. */
  def crossCorpusOverlap(
      probe: DataFrame, probeId: Column, probeText: Column,
      corpus: DataFrame, corpusText: Column, n: Int): DataFrame = {
    // Hashed shingles on both sides: the semi join shuffles fixed-width
    // longs instead of n-gram strings (same distinct-set counts modulo
    // 64-bit collisions, the shared assumption of the whole dedup family).
    val probeSh = probe.select(
      probeId.cast("long").as("id"),
      graft.expressions.HashedShingles.shingles(probeText, n).as("s"))
      .withColumn("n_sh", size(col("s")))
    val probeEx = probeSh.select(col("id"), col("n_sh"), explode(col("s")).as("g"))
    val corpusGrams = corpus
      .select(explode(graft.expressions.HashedShingles.shingles(corpusText, n)).as("g"))
      .distinct()
    val hits = probeEx.join(corpusGrams, Seq("g"), "left_semi")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_hit"))
    probeSh.select(col("id"), col("n_sh"))
      .join(hits, Seq("id"), "left")   // zero-hit docs keep a row
      .na.fill(0L, Seq("n_hit"))
      .withColumn("overlap", col("n_hit").cast("double") / col("n_sh"))
      .select(col("id"), col("n_sh"), col("n_hit"), col("overlap"))
  }

  /** Pair-level contamination PROVENANCE — [[crossCorpusOverlap]]
    * answers "how contaminated is this doc"; audits need "by WHICH
    * reference doc": every (probe, reference) pair sharing at least
    * `minShared` distinct n-grams, with the shared count and the
    * probe-side containment fraction. This is the report that turns a
    * decontamination cut into an evidence trail (which benchmark items
    * leaked, and into which training docs).
    *
    * Scale shape: both sides shingle once to hashed longs (the family's
    * fixed-width-shuffle trade), the pair candidates come from one
    * gram-keyed equi-join, and everything after is bounded by the
    * SHARED-gram volume, which `minShared` then thresholds. A
    * stop-phrase gram that appears in most docs on both sides fans the
    * join out toward |probe|·|ref| for that gram — the hot-band risk
    * the LSH/Bloom family documents; at benchmark-decontamination
    * geometry the reference side is small and curated, which is what
    * bounds it in practice (the screen-first path is
    * [[crossCorpusOverlapBloom]], then THIS only over flagged docs).
    * Output: (probe_id, ref_id, n_shared, containment — of the PROBE's
    * gram set, 4 dp). */
  def contaminationPairs(
      probe: DataFrame, probeId: Column, probeText: Column,
      ref: DataFrame, refId: Column, refText: Column,
      n: Int, minShared: Long): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    val p = probe.select(
      probeId.cast("long").as("probe_id"),
      graft.expressions.HashedShingles.shingles(probeText, n).as("s"))
      .withColumn("n_sh", size(col("s")))
    val pe = p.select(col("probe_id"), col("n_sh"),
      explode(col("s")).as("g"))
    val re = ref.select(refId.cast("long").as("ref_id"),
      explode(graft.expressions.HashedShingles.shingles(refText, n))
        .as("g"))
    pe.join(re, Seq("g"))
      .groupBy(col("probe_id"), col("ref_id"), col("n_sh"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("probe_id"), col("ref_id"), col("n_shared"),
        round(col("n_shared").cast("double") / col("n_sh").cast("double"),
          4).as("containment"))
  }

  /** Bloom-filtered variant of [[crossCorpusOverlap]] — the
    * decontamination shape where the REFERENCE side (benchmark/eval
    * suites) is bounded and the probe side is the 100 TB training
    * corpus. The reference's distinct shingles are folded into a Bloom
    * filter in ONE shuffle-free `treeAggregate` pass (duplicate inserts
    * are idempotent, so no distinct aggregation is needed), and the
    * probe side is filtered MAP-SIDE by the codegen'd
    * [[graft.expressions.BloomMightContain]] probe — the huge side
    * never shuffles for the membership test, only for its own per-doc
    * count aggregation.
    *
    * Versus the exact path's semi join (which AQE already turns into a
    * broadcast hash join when the reference is small): the broadcast
    * hash set costs 8+ bytes per element plus table overhead, the Bloom
    * filter ~1.2 bytes per element at fpp = 1% — roughly an order of
    * magnitude more reference-set reach for the same broadcast budget.
    * The trade is one-sided error: `overlap` can only be INFLATED (per
    * probed shingle, by at most fpp in expectation), never deflated —
    * a contamination SCREEN, with the exact path as the confirmation
    * pass on the flagged slice. One HLL pass over the reference grams
    * sizes the filter ([[referenceBloom]]); the filter must
    * fit the driver and the plan broadcast — at fpp 1% that is ~120 MB
    * per 1e8 distinct shingles, the practical ceiling of this variant.
    * Output: (id, n_sh, n_hit, overlap) — same shape as the exact path.
    */
  def crossCorpusOverlapBloom(
      probe: DataFrame, probeId: Column, probeText: Column,
      corpus: DataFrame, corpusText: Column, n: Int,
      fpp: Double = 0.01): DataFrame =
    crossCorpusOverlapWithBloom(probe, probeId, probeText,
      referenceBloom(corpus, corpusText, n, fpp), n)

  /** Build-once half of the Bloom screen: fold the reference corpus's
    * shingles into serialized filter bytes. Exposed so long-lived
    * consumers (the streaming screen
    * [[graft.streaming.StreamingDecontam]], a reusable decontamination
    * service) build ONCE and probe many times — and so stream ≡ batch
    * is the same bytes by construction. Bloom insertion is an OR of
    * hash bits, so the result is independent of partitioning and
    * insertion order. */
  def referenceBloom(
      corpus: DataFrame, corpusText: Column, n: Int,
      fpp: Double = 0.01): Array[Byte] =
    // TWO actions read the reference grams (the HLL sizing pass, then
    // the filter-build pass): persist across them so the
    // scan+tokenization runs once, and release immediately — the filter
    // bytes are what outlives this call, not the frame.
    Materialize.persisting(corpus
      .select(explode(graft.expressions.HashedShingles.shingles(corpusText, n)).as("g"))) {
      corpusGrams =>
        val expected = math.max(1L,
          corpusGrams.select(approx_count_distinct(col("g")))
            .collect().head.getLong(0))
        graft.expressions.BloomMightContain.serialize(
          corpusGrams.stat.bloomFilter("g", expected, fpp))
    }

  /** Probe half of the Bloom screen against pre-built filter bytes:
    * (id, n_sh, n_hit, overlap) per probe doc — one map-side codegen'd
    * probe pass, then the per-doc count aggregation's shuffle only. */
  def crossCorpusOverlapWithBloom(
      probe: DataFrame, probeId: Column, probeText: Column,
      filterBytes: Array[Byte], n: Int): DataFrame = {
    val probeSh = probe.select(
      probeId.cast("long").as("id"),
      graft.expressions.HashedShingles.shingles(probeText, n).as("s"))
      .withColumn("n_sh", size(col("s")))
    val hits = probeSh.select(col("id"), col("n_sh"), explode(col("s")).as("g"))
      .filter(graft.expressions.BloomMightContain.mightContain(col("g"), filterBytes))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_hit"))
    probeSh.select(col("id"), col("n_sh"))
      .join(hits, Seq("id"), "left")   // zero-hit docs keep a row
      .na.fill(0L, Seq("n_hit"))
      .withColumn("overlap", col("n_hit").cast("double") / col("n_sh"))
      .select(col("id"), col("n_sh"), col("n_hit"), col("overlap"))
  }

  /** Substring-level cross-document dedup — the third dedup modality a
    * training pipeline runs alongside doc-level exact ([[exact]]) and
    * near-dup ([[ngramJaccardPairs]]/[[minhashLshVerifiedPairs]]):
    * detect every maximal span of k-token windows whose text also occurs
    * in at least `minDocs - 1` OTHER documents (the repeated-substring
    * removal pass of Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", arXiv:2107.06499, at window granularity —
    * the cross-document composition of the per-document fingerprint
    * primitive [[graft.functions.TextFunctions.rollingHash]] / q46).
    *
    * Shape: tokenize → slide a k-token window per position → 64-bit-hash
    * each window (the shuffle carries 8-byte keys, never k-token
    * strings) → count DISTINCT docs per window hash (partial+final agg)
    * → semi-join the positions of windows seen in ≥ minDocs docs →
    * collapse adjacent positions into maximal spans with a
    * gaps-and-islands window function PARTITIONED BY doc (per-doc state
    * only — no global window, so the collapse scales with the corpus).
    * Intra-doc repetition alone does NOT flag a span (that is q62's
    * repetition metric); the count is distinct-doc.
    *
    * Output: (doc_id, span_start, span_end, n_windows) — token-index
    * spans (inclusive, 0-based) a pipeline would cut or use to down-weight
    * docs. Islands are disjoint in WINDOW-position space; their token
    * ranges can still overlap by up to k−1 tokens when flagged windows
    * sit fewer than k positions apart across an unflagged gap — so
    * consumers must union span ranges per doc before counting covered
    * tokens ([[removeRepeatedSpans]] does exactly that), never sum span
    * lengths. xxhash64 window collisions could in principle flag a clean
    * span (~1e-9 at 1e5 windows); the exact-text verify pass of the
    * near-dup operators is the template if that ever matters. */
  def repeatedSpans(
      docs: DataFrame, id: Column, text: Column,
      k: Int = 8, minDocs: Int = 2): DataFrame =
    spansFromTokens(tokenizedDocs(docs, id, text), k, minDocs)

  /** Shared tokenized projection for the span pair: (doc_id, toks). */
  private def tokenizedDocs(
      docs: DataFrame, id: Column, text: Column): DataFrame =
    spread(docs).select(
      id.cast("long").as("doc_id"), TextFunctions.tokens(text).as("toks"))

  /** Span detection over an already-tokenized (doc_id, toks) frame —
    * split out so [[removeRepeatedSpans]] shares ONE tokenize/spread
    * subtree between detection and the cut join (Catalyst exchange reuse
    * then dedupes the scans). */
  private def spansFromTokens(
      base0: DataFrame, k: Int, minDocs: Int): DataFrame = {
    val base = base0.filter(size(col("toks")) >= k)
    // posexplode over the transform output: pos is the array index, which
    // is exactly the window's 0-based start token position.
    val wins = base.select(col("doc_id"),
      posexplode(
        graft.functions.TextFunctions.ngramStrings(col("toks"), k)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        xxhash64(col("col")).as("h"))
    val dupHashes = wins.groupBy(col("h"))
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("h"))
    val dupWins = wins.join(dupHashes, Seq("h"), "left_semi")
    val island = col("pos") -
      row_number().over(Window.partitionBy(col("doc_id")).orderBy(col("pos")))
    dupWins.withColumn("grp", island)
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(k - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("n_windows"))
  }

  /** The remediation half of [[repeatedSpans]]: remove every token
    * covered by a repeated cross-doc span and return the cleaned corpus
    * — (doc_id, n_before, n_after, text_clean). This is the actual cut
    * step of substring-level dedup (detect → cut), so a pipeline can run
    * it as one operator instead of re-implementing the span algebra.
    *
    * Shape: span detection and the cut join share ONE tokenized-frame
    * DEFINITION (`spansFromTokens` over the same projection — a
    * semantic edit moves both sides together). Physically the plan
    * keeps TWO pruned scans on purpose: the detection side's
    * `size(toks) >= k` filter pushes down to its scan (short docs never
    * leave the files), which makes the two scan subtrees non-identical
    * — and re-scanning a 2-column columnar source beats persisting a
    * corpus-wide tokens array just to dedupe them. The per-doc spans
    * (tiny — islands disjoint in
    * window space, token ranges possibly overlapping, which the
    * position-membership test below handles by construction) collect
    * into ONE array per doc and join back LEFT onto the tokenized
    * corpus, so clean docs pass through untouched and the cut itself is
    * a single filter-by-position HOF projection per doc — no extra
    * shuffle beyond the span detection and the doc-keyed join. Span
    * arrays per doc are bounded by the doc's window count, so
    * `collect_list` here cannot blow up. */
  def removeRepeatedSpans(
      docs: DataFrame, id: Column, text: Column,
      k: Int = 8, minDocs: Int = 2): DataFrame = {
    val base = tokenizedDocs(docs, id, text)
    val spans = spansFromTokens(base, k, minDocs)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(
        col("span_start").as("s"), col("span_end").as("e"))).as("spans"))
    // Degenerate-input contract (public API; matches the q80 oracle):
    // null text → (n_before NULL, n_after 0, text_clean "") — DuckDB's
    // len(NULL)/coalesce arithmetic. An EMPTY token array cannot come
    // from the default whitespace tokenizer (blank text yields [""]),
    // but without the size guard `sequence(0, size-1)` would produce the
    // descending [0,-1] (Spark auto-negative step) and a phantom
    // n_after = 2 > n_before = 0.
    val emptyKept = array().cast("array<struct<t:string,i:integer>>")
    val positions = when(size(col("toks")) > 0,
      sequence(lit(0), size(col("toks")) - 1))
      .otherwise(array().cast("array<integer>"))
    base.join(spans, Seq("doc_id"), "left")
      .withColumn("kept", coalesce(
        filter(
          zip_with(col("toks"), positions,
            (t, i) => struct(t.as("t"), i.as("i"))),
          p => coalesce(
            !exists(col("spans"), s =>
              p.getField("i") >= s.getField("s") &&
                p.getField("i") <= s.getField("e")),
            lit(true))),
        emptyKept))
      .select(col("doc_id"),
        when(col("toks").isNull, lit(null))
          .otherwise(size(col("toks"))).cast("long").as("n_before"),
        size(col("kept")).cast("long").as("n_after"),
        array_join(transform(col("kept"), p => p.getField("t")), " ")
          .as("text_clean"))
  }

  /** One-call corpus dedup: exact + near-dup (n-gram Jaccard) detection,
    * cluster resolution, keep one survivor per cluster — returns the
    * deduplicated corpus rows. The composed form of the pipeline a
    * pretraining corpus actually runs.
    *
    * `useLsh = true` swaps the exhaustive prefix-filtered pair join for
    * [[minhashLshVerifiedPairs]] (identical verified pairs up to ~1e-6
    * LSH miss probability; measured ~3× faster at 40k docs and the gap
    * widens with corpus size — the default at real scale).
    *
    * `keepBy` picks the survivor per duplicate cluster: `None` (default)
    * keeps the min-id doc; `Some(score)` keeps the doc with the HIGHEST
    * score (ties → min id) — e.g. `Some(length(col("text")))` for
    * keep-longest, or a quality score. The scored path is one extra
    * aggregation over cluster members (max-score argmax), no window. */
  def dedupCorpus(
      docs: DataFrame, id: Column, text: Column,
      n: Int = 3, threshold: Double = 0.8,
      useLsh: Boolean = false,
      keepBy: Option[Column] = None): DataFrame = {
    val pairs =
      if (useLsh) minhashLshVerifiedPairs(docs, id, text, n, threshold)
      else ngramJaccardPairs(docs, id, text, n, threshold)
    val clusters = resolveClusters(pairs.select(col("id_a"), col("id_b")))
    val losers = keepBy match {
      case None =>
        clusters.filter(col("id") =!= col("cluster"))
          .select(col("id").as("__loser_id"))
      case Some(score) =>
        // Survivor = argmax(score) per cluster, min id on ties: one
        // broadcast-sized join (clusters only hold docs IN a duplicate
        // group) + max over a (score, -id) struct — partial+final agg,
        // no per-cluster sort.
        val scored = docs.select(
            id.cast("long").as("id"), score.cast("double").as("__score"))
          .join(clusters, "id")
        val winners = scored
          .groupBy(col("cluster"))
          .agg(max(struct(col("__score"), (-col("id")).as("__negid"))).as("w"))
          .select((-col("w.__negid")).cast("long").as("__winner_id"))
        clusters.select(col("id"))
          .join(winners, col("id") === col("__winner_id"), "left_anti")
          .select(col("id").as("__loser_id"))
    }
    docs.join(losers, id.cast("long") === col("__loser_id"), "left_anti")
  }

  /** Prepared MinHash index over a reference corpus, built ONCE and
    * reused across many incremental lookups (the daily-shard / streaming
    * ingest shape — see [[nearDupAgainstIndex]] and
    * [[graft.streaming.StreamingDedup]]). Both relations are persisted:
    * in a stream-static join the static subtree re-executes every
    * micro-batch, so an unpersisted index would re-shingle the whole
    * corpus per batch.
    *
    * `rel`: (id, hs, n_sh, sig) — verification side; `banded`:
    * (id, n_sh, band, bh) — candidate side. `n`/`k`/`bands` pin the
    * shingle/signature scheme so lookups band new docs identically. */
  final case class CorpusIndex(
      rel: DataFrame, banded: DataFrame, n: Int, k: Int, bands: Int) {
    def unpersist(): Unit = { rel.unpersist(); banded.unpersist() }
  }

  /** The index's verification relation (id, hs, sig, n_sh) for one doc
    * set under one shingle/signature scheme — THE shared build step for
    * [[corpusIndex]], [[nearDupAgainstIndex]]'s probe side and
    * [[appendToCorpusIndex]], so an appended shard is banded
    * byte-identically to the original build (the append-≡-rebuild gate
    * in `IndexLifecycleSpec` rests on this sharing). */
  private def shingleRel(
      docs: DataFrame, id: Column, text: Column, n: Int, k: Int): DataFrame =
    docs.select(
      id.cast("long").as("id"),
      graft.expressions.HashedShingles.shingles(text, n).as("hs"))
      .select(col("id"), col("hs"),
        graft.expressions.MinHashSig.minhashSigFromHashes(col("hs"), k).as("sig"))
      .withColumn("n_sh", size(col("hs")))

  /** Build a [[CorpusIndex]]: one shingle pass per corpus doc feeds both
    * the exact-verification sets and the MinHash signatures (same
    * single-hash-pass discipline as [[minhashLshVerifiedPairs]]). */
  def corpusIndex(
      corpus: DataFrame, id: Column, text: Column,
      n: Int = 3, k: Int = 60, bands: Int = 20): CorpusIndex = {
    require(k % bands == 0, "k must divide into bands")
    val rel = shingleRel(corpus, id, text, n, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = bandedRows(rel, k, bands, carry = Seq("n_sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    CorpusIndex(rel, banded, n, k, bands)
  }

  /** ===== The durable corpus index =====
    *
    * "Build once, probe for weeks": the MinHash corpus index is a
    * [[PathFamily]] ([[Corpus]]), and every lifecycle verb below is one
    * call into [[PathIndex]], the lifecycle core every durable index
    * shares (write with completion marker, tombstone-filtered load,
    * guarded append, logical delete, snapshot-scoped compaction, health).
    *
    * '''Layout.''' The index at prefix `p` lives under one root
    * directory, `<warehouse>/p` ([[corpusIndexRoot]]):
    *   - `meta/`: one row (n, k, bands, buckets), the shingle/signature
    *     scheme and the bucket count, read on the driver with no job;
    *   - `rel/`: the verification relation (id, hs, sig, n_sh),
    *     bucketed and sorted by `id`, the verify join key;
    *   - `banded/`: the band rows (id, n_sh, band, bh), bucketed and
    *     sorted by `bh`, the probe join key;
    *   - `tombstones/` and the completion marker.
    *
    * Only `p_rel` and `p_banded` are in the catalog, as external
    * bucketed tables over `rel/` and `banded/`. The catalog's bucket spec
    * is what makes the reloaded probe join exchange-free on the index
    * side: a `spark.table` scan carries the hash distribution, a plain
    * directory scan does not (gated in `IndexLifecycleSpec`). At 100 TB
    * the index is written once, grown nightly ([[appendToCorpusIndex]])
    * and the nightly shard pays only its own shuffle, never a re-shuffle
    * of the corpus.
    *
    * '''Crash states''' are [[PathIndex]]'s: an interrupted write (no
    * marker) and a compaction stopped between one relation's renames
    * fail every later verb with a message naming the state; a dead
    * delete or append batch (`_temporary`, committed tasks included) is
    * never read and is removed by the next write into its directory; a
    * compaction stopped before a rename leaves a stray `<rel>__compact`
    * the next compaction replaces.
    *
    * '''Collisions.''' The root is the default location of a managed
    * table named `p`, and the two tables are named `p_rel` and
    * `p_banded`: [[writeCorpusIndex]] drops those tables and overwrites
    * the root's subdirectories, whatever they held. The prefix is
    * validated as a plain SQL identifier (it is interpolated into DDL) —
    * pick a dedicated namespace-style prefix (e.g. `graft_idx_<corpus>`).
    * An index in an earlier layout (`p_meta` and `p_tombstones` tables)
    * reads as no index and must be rebuilt. */
  private[operators] final case class CorpusMeta(n: Int, k: Int, bands: Int, buckets: Int)

  private val CorpusMetaSchema = StructType(Seq(
    StructField("n", IntegerType), StructField("k", IntegerType),
    StructField("bands", IntegerType), StructField("buckets", IntegerType)))

  private val Hashes = ArrayType(LongType, containsNull = false)

  /** The MinHash corpus index as a [[PathFamily]]: the scheme row as its
    * parameters, [[shingleRel]] as its encode step, and two bucketed
    * relations — `rel` is the encoded frame itself, `banded` its
    * [[bandedRows]]. */
  private[operators] val Corpus: PathFamily[CorpusMeta] = PathFamily[CorpusMeta](
    "Corpus", Seq("meta"),
    Seq(
      DataRelation("rel", StructType(Seq(StructField("id", LongType),
        StructField("hs", Hashes), StructField("sig", Hashes),
        StructField("n_sh", IntegerType))), Bucketed("id", _.buckets)),
      DataRelation("banded", StructType(Seq(StructField("id", LongType),
        StructField("n_sh", IntegerType), StructField("band", IntegerType),
        StructField("bh", LongType))), Bucketed("bh", _.buckets),
        (rel, m) => bandedRows(rel, m.k, m.bands, carry = Seq("n_sh")))),
    (spark, path) => {
      val r = Similarity.loadMeta(spark, path, CorpusMetaSchema, "Corpus")
      CorpusMeta(r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))
    },
    (spark, m, path) => Seq(() =>
      spark.createDataFrame(java.util.List.of(Row(m.n, m.k, m.bands, m.buckets)),
        CorpusMetaSchema).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$path/meta")),
    (shard, id, text, m) => shingleRel(shard, id, text, m.n, m.k))

  /** The index root of `tablePrefix`: `<warehouse>/<prefix>`, the default
    * location of a managed table of that name. The prefix must be a plain
    * SQL identifier: it names the index's tables and is interpolated into
    * DDL, so anything that could smuggle SQL or collide by accident via
    * quoting tricks is refused. */
  private[graft] def corpusIndexRoot(
      spark: org.apache.spark.sql.SparkSession, tablePrefix: String): String = {
    require(tablePrefix.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"corpus-index table prefix must be a plain SQL identifier " +
        s"([A-Za-z_][A-Za-z0-9_]*), got: '$tablePrefix'")
    spark.sessionState.catalog.defaultTablePath(
      org.apache.spark.sql.catalyst.TableIdentifier(tablePrefix)).toString
  }

  /** Remove the corpus index at `tablePrefix`: drop its two tables (their
    * files stay: they are external) and delete its root. */
  private[graft] def dropCorpusIndex(
      spark: org.apache.spark.sql.SparkSession, tablePrefix: String): Unit =
    PathIndex.drop(Corpus, spark, corpusIndexRoot(spark, tablePrefix))

  /** Durable form of the corpus index: both relations land bucketed
    * into `buckets` buckets, whole buckets placed on each write task so
    * that a task writes one file per bucket it holds (without it every
    * task opens a file per bucket it touches: measured ~2000 files per
    * table at sf0.1, IndexCompactionSweep), and the scheme row pins the
    * shingle/signature scheme so a FRESH session can [[loadCorpusIndex]]
    * and band new docs identically. The two relations are persisted in a
    * [[corpusIndex]], so the concurrent writes read the cache.
    *
    * DESTRUCTIVE on collision: see the layout note above. */
  def writeCorpusIndex(
      index: CorpusIndex, tablePrefix: String, buckets: Int = 32): Unit = {
    val spark = index.rel.sparkSession
    PathIndex.write(Corpus, CorpusMeta(index.n, index.k, index.bands, buckets),
      Seq(index.rel, index.banded), corpusIndexRoot(spark, tablePrefix))
  }

  /** Reload a [[writeCorpusIndex]]-persisted index in (possibly) a fresh
    * session. The returned relations are the bucketed table scans
    * themselves — deliberately NOT `.persist()`ed: the bucketed layout
    * already makes repeated probes exchange-free on the corpus side,
    * and an executor-memory copy of a 100 TB index is neither possible
    * nor needed (steady-state probes touch only the buckets the shard's
    * band hashes land in). Probe results are bit-equal to a same-session
    * build (gated in `IndexLifecycleSpec` and oracle-gated end to end as
    * q189).
    *
    * Tombstone-aware: a [[deleteFromCorpusIndex]]-ed id is invisible to
    * every probe. Both relations filter the tombstone ids read at load
    * ([[Tombstones]]) with a predicate over one broadcast variable — no
    * join, and a filter keeps the bucketed scans' distribution, so the
    * exchange-free probe plan survives. The predicate is deterministic,
    * so a point probe's key reads evaluate it on the driver too
    * ([[PointRead]]): the tombstones add no job to a probe. A handle
    * keeps the tombstones read when it was loaded. */
  def loadCorpusIndex(
      spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String): CorpusIndex = {
    val (m, Seq(rel, banded)) = PathIndex.load(Corpus, spark, corpusIndexRoot(spark, tablePrefix))
    CorpusIndex(rel, banded, m.n, m.k, m.bands)
  }

  /** One-row health report for a durable corpus index
    * ([[PathIndex.report]] in the bucketed tables' terms): (n_buckets,
    * n_rel_files, n_banded_files, max_files_per_bucket,
    * n_tombstone_files, tombstone_bytes, tombstone_broadcast_ok,
    * needs_compaction). Driver-side filesystem metadata only — no Spark
    * job. */
  def corpusIndexHealth(
      spark: org.apache.spark.sql.SparkSession, tablePrefix: String,
      maxFilesPerBucket: Int = Similarity.DefaultMaxFilesPerStripe,
      maxTombstoneBytes: Long = Similarity.DefaultMaxTombstoneBytes)
      : DataFrame =
    PathIndex.report(spark, corpusIndexRoot(spark, tablePrefix), Seq(Corpus),
      maxFilesPerBucket, maxTombstoneBytes)

  /** [[compactCorpusIndex]] iff the health is past the knee (the
    * [[graft.operators.Similarity.compactIfNeeded]] contract). Returns
    * true iff a compaction ran. */
  def compactCorpusIndexIfNeeded(
      spark: org.apache.spark.sql.SparkSession, tablePrefix: String,
      maxFilesPerBucket: Int = Similarity.DefaultMaxFilesPerStripe,
      maxTombstoneBytes: Long = Similarity.DefaultMaxTombstoneBytes)
      : Boolean =
    PathIndex.compactIfNeeded(spark, corpusIndexRoot(spark, tablePrefix), Seq(Corpus),
      maxFilesPerBucket, maxTombstoneBytes)

  /** Logical delete from a durable corpus index — RTBF reaching the
    * ARTIFACT, not just the corpus ([[deletionCascade]] handles the
    * corpus side; without this, a probe against a months-old index
    * keeps returning the deleted doc, and its content-derived rows —
    * shingle sets, signatures — stay on disk). The ids land as one
    * tombstone batch; every later [[loadCorpusIndex]] filters them out.
    * Physical erasure is [[compactCorpusIndex]]. A tombstoned id stays
    * deleted until compaction clears the tombstones; re-appending one
    * fails readably ([[appendToCorpusIndex]]'s guard) until then. */
  def deleteFromCorpusIndex(
      ids: DataFrame, id: Column, tablePrefix: String): Unit =
    PathIndex.delete(Corpus, ids, id, corpusIndexRoot(ids.sparkSession, tablePrefix))

  /** Physical erasure + layout reset for a durable corpus index: both
    * bucketed relations are rewritten without the tombstoned rows (and
    * without the file-per-append accretion) into scratch directories,
    * swapped in by rename, and the tables refreshed; then the tombstones
    * the rewrite applied are erased. The rewrite reads the original files
    * until the swap, so nothing corpus-sized is pinned; the bucket count
    * is the index's own (its scheme row). Deletes racing a compaction are
    * preserved. Probe ≡ rebuilt-on-survivors, bit-equal (gated). */
  def compactCorpusIndex(
      spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String): Unit =
    PathIndex.compact(Corpus, spark, corpusIndexRoot(spark, tablePrefix))

  /** Fold a new shard INTO a durable corpus index — the growth half of
    * "build once, probe for weeks": nightly ingest appends yesterday's
    * docs so today's probes see them, paying only the SHARD's shingle +
    * band + write cost, never a corpus-sized rebuild.
    *
    * The shard is shingled and banded under the pinned scheme (the same
    * [[shingleRel]]/[[bandedRows]] code path as the build, so its rows
    * are byte-identical to what a rebuild on the unioned corpus would
    * produce) and inserted with `insertInto`, which writes THROUGH the
    * catalog table's bucket spec: new files land with bucket ids
    * assigned by the same hash on the same columns, so the bucketed scan
    * — and with it the exchange-free probe plan — survives the append
    * (buckets gain a file per append; only the per-bucket SORT is
    * file-local, which the probe join never relied on). Gated in
    * `IndexLifecycleSpec`: append→reload→probe ≡ rebuild probe
    * bit-equal, exchange-free plan on the appended tables, and
    * straddling pairs found.
    *
    * Shard ids must be NEW, and must not be tombstoned — both ENFORCED
    * ([[PathIndex]]'s append guards), with errors naming the recovery. */
  def appendToCorpusIndex(
      shard: DataFrame, id: Column, text: Column,
      tablePrefix: String): Unit =
    PathIndex.append(Corpus, shard, id, text, corpusIndexRoot(shard.sparkSession, tablePrefix))

  /** Near-dup pairs between NEW docs and an indexed reference corpus —
    * the incremental half of corpus dedup: band the new docs with the
    * index's scheme, join banded-new × banded-corpus on (band, bh)
    * (size-pruned both ways), then verify candidates with the EXACT
    * n-gram Jaccard, exactly like [[minhashLshVerifiedPairs]] but
    * cross-set (new docs are NOT compared to each other — compose with
    * [[dedupCorpus]] on the shard for that half). Same recall: a
    * qualifying pair is missed with p = (1−τ^r)^b ≈ 6e-7 at defaults —
    * oracle-checkable against the exhaustive cross join (q66).
    *
    * Point probes read the index by key. A shard whose rows are already
    * on the driver (its optimized plan is a `LocalRelation` — an
    * interactive lookup of a few documents) with at most
    * [[PointProbeMaxKeys]] band keys skips the join: it reads only the
    * `_banded` rows under its own band hashes, then only the `_rel` rows
    * of the candidates, and verifies with the same Column expressions as
    * the join ([[candidatePair]], [[jaccardVerified]]), where the join
    * runs six jobs, scans every bucket and ships the whole `_rel` table
    * to verify a handful of candidates. Each key read is bucket-pruned;
    * when its pruned files fit [[PointRead]]'s cap it is read on the
    * driver with no Spark job, so a probe of a loaded index runs none;
    * an in-memory index or a read past the cap is one small job per
    * read (none for `_rel` when nothing shares a band). The result is a
    * local DataFrame. The key bound keeps
    * the `bh IN (…)` literal small: past it a shard touches most buckets
    * anyway and the join is the better plan. Every other shard —
    * parquet-backed, streaming, persisted, or over the bound — takes the
    * join unchanged.
    *
    * `persistNewRel = false` skips caching the new-side shingle relation
    * (it feeds the banded AND verify subtrees, so it is computed twice):
    * pass false from per-micro-batch callers that already cache the
    * batch rows and must not leak cache entries per batch. A point probe
    * caches nothing either way.
    * Output: (new_id, corpus_id, jaccard ≥ threshold). */
  def nearDupAgainstIndex(
      newDocs: DataFrame, id: Column, text: Column,
      index: CorpusIndex, threshold: Double,
      persistNewRel: Boolean = true): DataFrame =
    if (isPointProbe(newDocs, index.bands))
      nearDupByKey(newDocs, id, text, index, threshold)
    else nearDupByJoin(newDocs, id, text, index, threshold, persistNewRel)

  /** Past this many band keys (rows × bands) a driver-resident shard
    * takes the distributed join: a 10⁴-entry `IN` literal costs the plan
    * more than the bucket pruning saves, and a shard with that many keys
    * reads most buckets anyway. 1024 keys is 51 documents at the
    * default 20 bands. */
  private val PointProbeMaxKeys = 1024

  private def isPointProbe(newDocs: DataFrame, bands: Int): Boolean =
    !newDocs.isStreaming && (newDocs.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        l.data.size.toLong * bands <= PointProbeMaxKeys
      case _ => false
    })

  /** The candidate condition beyond the shared band hash: another doc,
    * and sizes within a τ factor both ways. */
  private def candidatePair(
      aId: Column, aN: Column, bId: Column, bN: Column,
      threshold: Double): Column =
    aId =!= bId && aN >= ceil(bN * threshold) && bN >= ceil(aN * threshold)

  /** Exact verification of (new_id, corpus_id, hs_a, n_a, hs_b, n_b)
    * candidate rows: the n-gram Jaccard, kept at or above `threshold`. */
  private def jaccardVerified(pairs: DataFrame, threshold: Double): DataFrame =
    pairs
      .withColumn("n_inter", size(array_intersect(col("hs_a"), col("hs_b"))))
      .withColumn("jaccard", jaccardScore(col("n_inter"), col("n_a"), col("n_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("corpus_id"), col("jaccard"))

  private def nearDupByJoin(
      newDocs: DataFrame, id: Column, text: Column,
      index: CorpusIndex, threshold: Double,
      persistNewRel: Boolean): DataFrame = {
    def pairs(rel: DataFrame): DataFrame = {
      val banded = bandedRows(rel, index.k, index.bands, carry = Seq("n_sh"))
      // Equi-key on bh ALONE: the band hash already mixes the band number
      // in (bandedRows hashes (b, slice)), so a cross-band bh collision is
      // the same ~2⁻⁶⁴ class as an in-band one — and either way candidates
      // only ADD verification work, never results (exact Jaccard follows).
      // The single-key join is what lets a [[writeCorpusIndex]]-bucketed
      // corpus side satisfy the join's distribution outright: bucketed by
      // bh = ALL the cluster keys, so the reloaded probe reads the index
      // with zero exchange (a (band, bh) key pair would need subset
      // co-partitioning, which the planner requires all keys for).
      val cand = banded.as("a").join(index.banded.as("b"),
          col("a.bh") === col("b.bh") &&
            candidatePair(col("a.id"), col("a.n_sh"), col("b.id"), col("b.n_sh"),
              threshold))
        .select(col("a.id").as("new_id"), col("b.id").as("corpus_id"))
        .dropDuplicates("new_id", "corpus_id")
      jaccardVerified(cand
        .join(rel.select(col("id").as("new_id"), col("hs").as("hs_a"),
          col("n_sh").as("n_a")), "new_id")
        .join(index.rel.select(col("id").as("corpus_id"), col("hs").as("hs_b"),
          col("n_sh").as("n_b")), "corpus_id"), threshold)
    }
    val rel = shingleRel(newDocs, id, text, index.n, index.k)
    // persistNewRel = false callers (per-micro-batch) stay fully lazy —
    // nothing to release, and an eager checkpoint per batch would defeat
    // the stream-static join shape.
    if (persistNewRel) Materialize.over(rel)(pairs) else pairs(rel)
  }

  /** [[nearDupAgainstIndex]] for a driver-resident shard: the join's
    * semantics, evaluated over key-selected index rows. */
  private def nearDupByKey(
      newDocs: DataFrame, id: Column, text: Column,
      index: CorpusIndex, threshold: Double): DataFrame = {
    val spark = newDocs.sparkSession
    def local(rows: Seq[Row], schema: StructType): DataFrame =
      spark.createDataFrame(rows.asJava, schema)
    def read(keyed: DataFrame): Array[Row] = PointRead.collect(keyed).getOrElse(keyed.collect())
    // 1. Band the shard with the join's banding formula. A projection of
    //    local rows folds into a local relation, so this runs no job.
    val rel = shingleRel(newDocs, id, text, index.n, index.k)
    val shardRel = rel.select(col("id"), col("hs"), col("n_sh"),
      bandHashes(index.k, index.bands).as("bands")).collect().toSeq
    val byKey = shardRel
      .flatMap(a => a.getSeq[Row](3).map(band => band.getLong(1) -> a))
      .groupMap(_._1)(_._2)
    // 2. The index's band rows under the shard's keys (bucket-pruned).
    val hits =
      if (byKey.isEmpty) Array.empty[Row]
      else read(index.banded.filter(col("bh").isin(byKey.keys.toSeq: _*))
        .select("id", "n_sh", "bh"))
    val (hsType, nType) = (rel.schema("hs").dataType, rel.schema("n_sh").dataType)
    val pairSchema = StructType(Seq(
      StructField("new_id", LongType), StructField("n_a", nType),
      StructField("corpus_id", LongType), StructField("n_b", nType)))
    val cand = local(
        for (b <- hits.toSeq; a <- byKey(b.getLong(2)))
          yield Row(a.get(0), a.get(2), b.get(0), b.get(1)),
        pairSchema)
      .filter(candidatePair(col("new_id"), col("n_a"), col("corpus_id"), col("n_b"),
        threshold))
      .select(col("new_id"), col("corpus_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).distinct
    // 3. The candidates' verification rows; no read without candidates.
    val corpusRel =
      if (cand.isEmpty) Map.empty[Long, Array[Row]]
      else read(index.rel.filter(col("id").isin(cand.map(_._2).distinct.toSeq: _*))
        .select("id", "hs", "n_sh")).groupBy(_.getLong(0))
    // 4. Verify over a local frame with the join's expressions.
    val newRel = shardRel.filter(!_.isNullAt(0)).groupBy(_.getLong(0))
    val verifySchema = StructType(Seq(
      StructField("new_id", LongType), StructField("corpus_id", LongType),
      StructField("hs_a", hsType), StructField("n_a", nType),
      StructField("hs_b", hsType), StructField("n_b", nType)))
    val verified = jaccardVerified(local(
      for {
        (n, c) <- cand.toSeq
        a <- newRel.getOrElse(n, Nil)
        b <- corpusRel.getOrElse(c, Array.empty[Row])
      } yield Row(n, c, a.get(1), a.get(2), b.get(1), b.get(2)),
      verifySchema), threshold)
    local(verified.collect().toSeq, verified.schema)
  }

  /** Resolve near-dup pairs into clusters: connected components by
    * iterative min-label propagation (each node adopts the smallest id
    * reachable; converges in O(diameter) rounds — near-dup clusters are
    * shallow, so a handful of self-joins; each round is one shuffle).
    * Input: (id_a, id_b) edges. Output: (id, cluster) for every node
    * appearing in an edge, cluster = min id of its component — the
    * canonical "keep one representative per duplicate cluster" step. */
  def resolveClusters(
      pairs: DataFrame, maxIters: Int = 20,
      driverThreshold: Long = 1000000L): DataFrame = {
    Materialize.persisting(pairs.select(col("id_a"), col("id_b"))) { p =>
      // ONE bounded probe decides the path AND, on the driver path,
      // already holds the edges (round 21, guide §1.2): the former
      // count-then-collect paid two full actions where a
      // limit(threshold+1) collect pays one — CollectLimit scans
      // partitions incrementally and short-circuits at the bound, and
      // the persist keeps whatever the probe computed for the
      // distributed path's rounds. Same outputs: the union-find is
      // edge-order-independent (min-root merging), and past the bound
      // the distributed path never needed the exact count.
      val bound = math.min(driverThreshold, (Int.MaxValue - 1).toLong).toInt
      val head = p.limit(bound + 1).collect()
      if (head.length <= bound)
        resolveClustersDriver(p.sparkSession,
          head.map(r => (r.getLong(0), r.getLong(1))))
      else resolveClustersDistributed(p, maxIters)
    }
  }

  /** Near-dup edge sets are orders of magnitude smaller than the corpus
    * (they only contain duplicates); below `driverThreshold` edges a
    * driver-side union-find is strictly better than 2 jobs per
    * propagation round. Same output contract as the distributed path. */
  private def resolveClustersDriver(
      spark: org.apache.spark.sql.SparkSession,
      edges: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.toSeq.sorted
      .map(id => (id, find(id)))
      .toDF("id", "cluster")
  }

  private def resolveClustersDistributed(pairs: DataFrame, maxIters: Int): DataFrame = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
    // Checkpoint per round truncates the lineage — without it the
    // logical plan doubles every iteration (the standard iterative-
    // algorithm trap) and the driver OOMs building the plan itself.
    // Materialize.pin: local by default, reliable under
    // graft.checkpoint.reliable=true (long iterative jobs on big
    // clusters are exactly where executor loss becomes likely).
    var labels = Materialize.pin(edges.groupBy(col("src").as("id"))
      .agg(least(min(col("dst")), first(col("src"))).as("cluster")))
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // neighbor's current label, take the min over (own, neighbors')
      val next = Materialize.pin(edges
        .join(labels.withColumnsRenamed(Map("id" -> "dst", "cluster" -> "ncluster")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("ncluster")).as("minNeighbor"))
        .join(labels, "id")
        .withColumn("next", least(col("cluster"), col("minNeighbor")))
        .select(col("id"), col("next").as("cluster")))
      val changed = next.join(labels.withColumnRenamed("cluster", "old"), "id")
        .filter(col("cluster") =!= col("old")).count()
      labels = next
      converged = changed == 0
      i += 1
    }
    labels
  }

  /** Embedding-cosine near-dup pairs, brute force (exact; O(n²) — baseline
    * and oracle target; use [[graft.operators.Similarity]]'s LSH buckets to
    * block at scale). Output: (id_a, id_b, cosine ≥ threshold). */
  def embeddingPairs(
      emb: DataFrame, id: Column, vec: Column,
      threshold: Double): DataFrame = {
    // Norms are computed ONCE per vector before the O(n²) join (the join
    // would otherwise recompute each row's self-dot per candidate pair).
    // cosine = dot/(√na·√nb) — identical association to the oracle SQL.
    val v = spread(emb).select(id.cast("long").as("id"), vec.as("v"))
      .withColumn("nrm", sqrt(VectorFunctions.normSq(col("v"))))
    val a = v.as("a")
    val b = v.as("b")
    a.join(b, col("a.id") < col("b.id"))
      .withColumn("cosine",
        VectorFunctions.dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")))
      .filter(col("cosine") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cosine"))
  }

  /** Character-level edit-distance near-dup pairs: every (id_a < id_b)
    * with `levenshtein(text_a, text_b) <= maxDist`, exactly — the fuzzy
    * modality the token-set family (Jaccard/MinHash) cannot express
    * (transpositions, typos, small in-place edits that rewrite few
    * characters but leave the token sets nearly disjoint shingles-wise,
    * and vice versa).
    *
    * Candidate generation is the PassJoin segment pigeonhole (Li, Deng,
    * Feng, "PASS-JOIN: a partition-based method for similarity joins",
    * VLDB 2012 — public literature): split the SHORTER string of a
    * candidate pair into d+1 contiguous segments (even split, the last
    * `L mod (d+1)` segments one char longer). If ed(a,b) ≤ d, at least
    * one segment is untouched by all d edits, so its image in b is an
    * IDENTICAL substring whose start position is displaced by at most d
    * (the net insert-delete drift of the edits before it). So:
    *
    *   - index side: every doc emits its d+1 segments, hashed to
    *     xxhash64 longs keyed (hash, segment index, own length) —
    *     O(n·(d+1)) rows, linear;
    *   - probe side: every doc emits, for each in-band shorter length
    *     La ∈ [L−d, L] and segment i, the substrings at start
    *     p_i(La) ± d — ≤ (d+1)²(2d+1) hashes per doc, a CONSTANT
    *     per-row fan-out (225 at d=4), never a function of corpus size;
    *   - candidates come from the equi-join on (hash, i, La) — a
    *     shuffle on 8-byte keys, O(candidates) like every other
    *     block-then-verify variant in this file — and are verified with
    *     the real banded `levenshtein(ta, tb, maxDist)` (threshold
    *     form: O(L·d) per pair, early exit above d).
    *
    * The result is EXACT regardless of hash collisions: a collision can
    * only ADD a candidate, and verification runs on the actual text.
    * Strings shorter than d+1 chars have empty segments; pairs whose
    * shorter side is that small (≤ d chars, so partners ≤ 2d) route
    * through a direct length-banded candidate join instead — a set
    * that is by definition the corpus's sub-(2d)-char sliver.
    *
    * At 100 TB: both sides are linear scans with constant fan-out, the
    * join shuffles hashed longs, and the quadratic lives only inside
    * the verified-candidate set. Skew: a segment hash shared by k docs
    * fans out k× — the analogue of a hot shingle; pathological boiler-
    * plate segments would need the [[ngramJaccardPairs]] hot-cap
    * treatment, not present here because segments are length-keyed
    * (a hot segment only meets probes of docs within ±d of its doc's
    * length). Output: (id_a, id_b, dist), dist ∈ [0, maxDist].
    */
  def editDistancePairs(
      docs: DataFrame, id: Column, text: Column, maxDist: Int): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    val d = maxDist
    Materialize.over(spread(docs).filter(text.isNotNull)
        .select(id.cast("long").as("id"), text.as("t"))
        .withColumn("len", length(col("t")).cast("int"))) { base =>
      // Self-join orientation: segment side shorter or equal; equal-length
      // pairs are generated from both directions and collapse in the
      // distinct(); self-pairs are dropped before it.
      val cand = edCandidates(base, base, d, strictShorter = false)
        .filter(col("sid") =!= col("pid"))
        .select(least(col("sid"), col("pid")).as("id_a"),
          greatest(col("sid"), col("pid")).as("id_b"))
        .distinct()
      cand
        .join(base.select(col("id").as("id_a"), col("t").as("ta")), "id_a")
        .join(base.select(col("id").as("id_b"), col("t").as("tb")), "id_b")
        .withColumn("dist", levenshtein(col("ta"), col("tb"), d))
        .filter(col("dist") >= 0)
        .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
    }
  }

  /** Cross-corpus edit-distance lookup: every (new doc, reference doc)
    * pair within `maxDist` edits — the character-level decontamination
    * screen next to the n-gram q43 family (catches benchmark strings
    * that were lightly reworded/typo-mutated into the training set,
    * which shingle overlap under-scores).
    *
    * Same PassJoin machinery as [[editDistancePairs]] but DIRECTED: the
    * pigeonhole segments whichever side of a pair is shorter, so
    * candidates are the union of two directed runs — reference segments
    * probed by new docs (ref <= new) and new-doc segments probed by
    * reference docs (new < ref, strict so no pair is double-generated
    * across directions). Within-side pairs are never generated (the
    * self-dedup of either corpus is [[editDistancePairs]]'s job, not a
    * hidden cost of every lookup). Output: (new_id, ref_id, dist). */
  def editDistanceAgainstReference(
      newDocs: DataFrame, id: Column, text: Column,
      ref: DataFrame, refId: Column, refText: Column,
      maxDist: Int): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    val d = maxDist
    def prep(df: DataFrame, i: Column, t: Column): DataFrame =
      df.filter(t.isNotNull)
        .select(i.cast("long").as("id"), t.as("t"))
        .withColumn("len", length(col("t")).cast("int"))
    Materialize.persisting(prep(newDocs, id, text)) { n =>
    Materialize.over(prep(ref, refId, refText)) { r =>
      val cand =
        edCandidates(r, n, d, strictShorter = false)
          .select(col("pid").as("new_id"), col("sid").as("ref_id"))
        .unionByName(
          edCandidates(n, r, d, strictShorter = true)
            .select(col("sid").as("new_id"), col("pid").as("ref_id")))
        .distinct()
      cand
        .join(n.select(col("id").as("new_id"), col("t").as("ta")), "new_id")
        .join(r.select(col("id").as("ref_id"), col("t").as("tb")), "ref_id")
        .withColumn("dist", levenshtein(col("ta"), col("tb"), d))
        .filter(col("dist") >= 0)
        .select(col("new_id"), col("ref_id"),
          col("dist").cast("long").as("dist"))
    }
    }
  }

  /** Shared PassJoin candidate core: segment the `segSide` docs, probe
    * with the `probeSide` docs, and return raw candidate id pairs
    * (sid = segmented/shorter side, pid = probing/longer side).
    * `strictShorter` controls whether equal lengths qualify. Both
    * inputs need (id, t, len) and should be persisted by the caller
    * (each side is scanned twice here: main + tiny path).
    *
    * Main path: even-split scheme for a string of length la — segment
    * i in [0, d] has length floor(la/(d+1)) (+1 for the last
    * la mod (d+1) segments), 0-based start i*floor(la/(d+1)) +
    * max(0, i - ((d+1) - la mod (d+1))); probes cover La in
    * [len-d, len], every segment index, start shifts +-d — a
    * literal-bounded constant fan-out, one codegen'd nested-transform
    * projection. Tiny path: shorter sides under d+1 chars (empty
    * segments) fall back to a direct length-banded equi-join over the
    * <=2d-char sliver. */
  private def edCandidates(
      segSide: DataFrame, probeSide: DataFrame, d: Int,
      strictShorter: Boolean): DataFrame = {
    val nSeg = d + 1
    def segStart(i: Column, la: Column): Column =
      (i * floor(la / nSeg) +
        greatest(lit(0), i - (lit(nSeg) - la % nSeg))).cast("int")
    def segLen(i: Column, la: Column): Column =
      (floor(la / nSeg) +
        when(i >= lit(nSeg) - la % nSeg, lit(1)).otherwise(lit(0))).cast("int")
    def lenCond(sLen: Column, pLen: Column): Column =
      if (strictShorter) sLen < pLen else sLen <= pLen

    val segs = segSide.filter(col("len") >= nSeg)
      .select(col("id"), col("len"),
        posexplode(transform(sequence(lit(0), lit(d)), i =>
          xxhash64(col("t").substr(segStart(i, col("len")) + 1,
            segLen(i, col("len")))))).as(Seq("si", "h")))
    val probeStructs = flatten(flatten(
      transform(sequence(greatest(lit(nSeg), col("len") - d), col("len")),
        la => transform(sequence(lit(0), lit(d)), i =>
          filter(
            transform(sequence(lit(-d), lit(d)), sh => {
              val st = segStart(i, la) + sh
              val ln = segLen(i, la)
              struct(la.cast("int").as("la"), i.cast("int").as("si"),
                xxhash64(col("t").substr(st + 1, ln)).as("h"),
                (st >= 0 && (st + ln) <= col("len")).as("ok"))
            }),
            s => s.getField("ok"))))))
    val probes = probeSide.filter(col("len") >= nSeg)
      .select(col("id").as("pid"), col("len").as("plen"),
        explode(probeStructs).as("p"))
      .select(col("pid"), col("plen"), col("p.la").as("la"),
        col("p.si").as("psi"), col("p.h").as("ph"))
    val candMain = segs.join(probes,
        col("h") === col("ph") && col("si") === col("psi") &&
          col("len") === col("la") && lenCond(col("len"), col("plen")))
      .select(col("id").as("sid"), col("pid"))

    val tinyA = segSide.filter(col("len") <= d)
      .select(col("id"), col("len"))
    val tinyProbe = probeSide.filter(col("len") <= 2 * d)
      .select(col("id").as("pid"), col("len").as("plen"),
        explode(sequence(greatest(lit(0), col("len") - d), col("len")))
          .as("la"))
    val candTiny = tinyA.join(tinyProbe,
        col("len") === col("la") && lenCond(col("len"), col("plen")))
      .select(col("id").as("sid"), col("pid"))
    candMain.unionByName(candTiny)
  }

  /** Right-to-be-forgotten cascade over near-duplicate clusters: given
    * a per-document deletion flag, report every cluster the deletion
    * list touches and what happens to its canonical representative —
    * the governance step a curation pipeline runs when honoring
    * erasure requests, because deleting a cluster's kept
    * representative silently un-represents its surviving near-dups
    * unless a new one is elected.
    *
    * Clusters are the [[ngramJaccardPairs]] → [[resolveClusters]]
    * components (the q64 dedupCorpus clustering); documents in no pair
    * are singleton clusters of themselves. Representative = min doc id
    * (resolveClusters' canonical label). Output, one row per cluster
    * with ≥1 deleted member: (cluster, n_members, n_deleted, old_rep,
    * new_rep, status) where new_rep = min SURVIVING id (null when the
    * whole cluster is erased) and status ∈
    *   - 'erased'     — every member deleted,
    *   - 'reelected'  — the representative was deleted but survivors
    *                    remain (new_rep ≠ old_rep),
    *   - 'retained'   — deletions hit only non-representative members.
    *
    * Scale shape: the text column is consumed ONCE by the pair
    * generation (shingle-hash path — text never shuffles past the
    * shingle projection); the cascade itself runs on a (doc_id,
    * deleted?) projection joined with the edge-bounded cluster map
    * (near-dup clusters are orders of magnitude smaller than the
    * corpus), then one hash aggregate keyed on the cluster label.
    * Conditional min/sum inside the aggregate — no windows, no second
    * text scan. */
  def deletionCascade(
      docs: DataFrame, id: Column, text: Column, isDeleted: Column,
      n: Int = 3, threshold: Double = 0.8): DataFrame = {
    val pairs = ngramJaccardPairs(docs, id, text, n, threshold)
    val clusters = resolveClusters(pairs.select(col("id_a"), col("id_b")))
      .withColumnRenamed("id", "doc_id")
    val base = docs.select(
      id.cast("long").as("doc_id"), isDeleted.cast("boolean").as("__del"))
    base.join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
      .groupBy(col("cluster"))
      .agg(
        count(lit(1)).as("n_members"),
        sum(when(col("__del"), 1L).otherwise(0L)).as("n_deleted"),
        min(col("doc_id")).as("old_rep"),
        min(when(!col("__del"), col("doc_id"))).as("new_rep"))
      .filter(col("n_deleted") > 0)
      .withColumn("status",
        when(col("new_rep").isNull, lit("erased"))
          .when(col("new_rep") =!= col("old_rep"), lit("reelected"))
          .otherwise(lit("retained")))
  }
}
