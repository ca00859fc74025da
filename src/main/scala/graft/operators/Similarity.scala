package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Every probe is a composition of a few private steps, each written
  * once:
  *   - the exact cosine [[cosine4]] over the norm columns of [[vectors]]
  *     and [[queryBatch]] (4 dp, the oracle SQL's association);
  *   - the single-query tail [[topKBySim]], and [[scoreQuery]], which
  *     scores candidate rows against one broadcast query row through it;
  *   - the ranked per-group top-k [[rankedTopK]]: bounded
  *     [[graft.plans.GroupTopK]] heaps, then the `row_number` rank;
  *   - the batch probe-list choice [[batchProbe]] of the IVF and IVF+PQ
  *     batch forms;
  *   - the mining frames [[labelCorpus]] and [[anchorSide]], and the
  *     exact rerank of a shortlist, [[rerankShortlist]];
  *   - the array&lt;double&gt; fold [[ddot]].
  * The exhaustive forms ([[bruteForceTopK]], [[bruteForceTopKBatch]],
  * [[hardNegatives]]) are what the index probes (IVF, LSH, PQ, IVF+PQ,
  * random projection) degenerate to at full probe.
  */
object Similarity {

  /** `sqrt(Σ v²)`, the norm column every exact cosine divides by. */
  private def norm(v: Column): Column = sqrt(VectorFunctions.normSq(v))

  /** The exact cosine every probe ranks and reports by:
    * `round(dot(v, qv) / (nrm * qnrm), 4)`. The association mirrors the
    * oracle SQL; a probe with a literal query or an inline norm passes
    * those in place of the columns. */
  private def cosine4(
      qv: Column = col("qv"), nrm: Column = col("nrm"),
      qnrm: Column = col("qnrm")): Column =
    round(VectorFunctions.dot(col("v"), qv) / (nrm * qnrm), 4)

  /** Dot product of two array&lt;double&gt; columns, products folded left
    * to right (the HOF fold: the native FloatVecDot is float-only). */
  private def ddot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)

  /** Cosine of two array&lt;double&gt; columns through [[ddot]], unrounded:
    * the projected-space shortlist score. */
  private def dcos(a: Column, b: Column): Column =
    ddot(a, b) / (sqrt(ddot(a, a)) * sqrt(ddot(b, b)))

  /** The scored side of a corpus: (id, v, nrm). */
  private def vectors(corpus: DataFrame, id: Column, vec: Column): DataFrame =
    corpus.select(id.cast("long").as("id"), vec.as("v")).withColumn("nrm", norm(col("v")))

  /** A query batch: (query_id, qv, qnrm). */
  private def queryBatch(queries: DataFrame, qid: Column, qvec: Column): DataFrame =
    queries.select(qid.cast("long").as("query_id"), qvec.as("qv"))
      .withColumn("qnrm", norm(col("qv")))

  /** The single-query tail: top `k` by (sim desc, id asc), as (id, sim). */
  private def topKBySim(scored: DataFrame, k: Int): DataFrame =
    scored.orderBy(desc("sim"), asc("id")).limit(k).select(col("id"), col("sim"))

  /** Candidate rows (id, v, …) scored against a one-row query frame (`qv`)
    * broadcast beside them: [[cosine4]], then [[topKBySim]]. */
  private def scoreQuery(
      cands: DataFrame, query: DataFrame, k: Int,
      nrm: Column = col("nrm")): DataFrame =
    topKBySim(cands.crossJoin(broadcast(query.withColumn("qnrm", norm(col("qv")))))
      .withColumn("sim", cosine4(nrm = nrm)), k)

  /** [[cosine4]] over (group, candidate) pairs, then the top `k` per
    * `group` by (sim desc, id asc) through the custom
    * [[graft.plans.GroupTopK]] operator — partial bounded heaps on the
    * map side, so the shuffle carries ≤k candidates per (group,
    * partition); the row_number window that assigns `rank` only ever
    * sees the ≤k survivors per group. */
  private def rankedTopK(pairs: DataFrame, group: String, k: Int): DataFrame = {
    val top = graft.plans.GroupTopK.topK(pairs.withColumn("sim", cosine4()),
      Seq(col(group)), Seq(col("sim").desc, col("id").asc), k)
    top.withColumn("rank", row_number().over(
      Window.partitionBy(col(group)).orderBy(desc("sim"), asc("id"))))
  }

  /** The batch probes' output: (query_id, id, sim, rank). */
  private val BatchOut = Seq("query_id", "id", "sim", "rank").map(col)

  /** The mining forms' output: (anchor_id, rank, neg_id, neg_label, sim). */
  private val NegativesOut = Seq(col("anchor_id"), col("rank"), col("id").as("neg_id"),
    col("neg_label"), col("sim"))

  /** A mining pair's eligibility: not the anchor itself, another label. */
  private val isNegative = col("id") =!= col("anchor_id") && col("neg_label") =!= col("qlabel")

  /** The mining corpus side: (id, v, neg_label, nrm), spread. */
  private def labelCorpus(
      corpus: DataFrame, id: Column, vec: Column, label: Column): DataFrame =
    Dedup.spread(corpus).select(id.cast("long").as("id"), vec.as("v"), label.as("neg_label"))
      .withColumn("nrm", norm(col("v")))

  /** The anchor batch (query_id, qv, qlabel) as (anchor_id, qv, qlabel,
    * qnrm). */
  private def anchorSide(anchors: DataFrame): DataFrame =
    anchors.select(col("query_id").cast("long").as("anchor_id"), col("qv"), col("qlabel"))
      .withColumn("qnrm", norm(col("qv")))

  /** Exact top-k by cosine against one query vector (a 1-row DataFrame
    * with column `qv`). Ordering uses the score rounded to 4 dp with id
    * tie-break so results are deterministic across engines and partition
    * orders. One broadcast of the query vector, one pass,
    * TakeOrderedAndProject top-k: the right plan for single queries even
    * at 100 TB (no shuffle of the corpus). Output: (id, sim). */
  def bruteForceTopK(
      corpus: DataFrame, id: Column, vec: Column,
      query: DataFrame, k: Int): DataFrame =
    scoreQuery(vectors(Dedup.spread(corpus), id, vec), query, k)

  /** Batch exact top-k: every query row against the whole corpus (small
    * query set broadcast), self-pairs excluded, per-query top-k through
    * [[rankedTopK]]. Output: (query_id, id, sim, rank). */
  def bruteForceTopKBatch(
      corpus: DataFrame, id: Column, vec: Column,
      queries: DataFrame, qid: Column, qvec: Column, k: Int): DataFrame = {
    val pairs = vectors(Dedup.spread(corpus), id, vec)
      .crossJoin(broadcast(queryBatch(queries, qid, qvec)))
      .filter(col("id") =!= col("query_id"))
    rankedTopK(pairs, "query_id", k).select(BatchOut: _*)
  }

  /** Hard-negative mining for contrastive training: per anchor, the
    * `k` most-similar corpus vectors with a DIFFERENT label — the
    * near-the-margin negatives that actually move an embedding model,
    * versus random negatives a batch sampler would draw. `anchors` is
    * (query_id, qv, qlabel); same-id and same-label rows are excluded
    * before scoring. Output: (anchor_id, rank, neg_id, neg_label, sim),
    * deterministic by the 4-dp-rounded score with id tie-break.
    *
    * Scale shape: [[bruteForceTopKBatch]]'s — the anchor set broadcasts
    * (the batch being mined, parameter-sized), the corpus streams past
    * it once, the label predicate prunes before the dot product, and
    * the custom [[graft.plans.GroupTopK]] bounded heaps keep the
    * shuffle at ≤k rows per (anchor × partition). At billion-vector
    * scale, swap the exhaustive scan for an ANN shortlist
    * ([[hardNegativesShortlist]], or [[hardNegativesAnn]] /
    * [[hardNegativesAnnPq]] over a durable index) and apply the same
    * label-filter + exact rerank to the shortlist — the contract (exact
    * top-k among differently-labeled) then degrades to the index's
    * recall, which is why the exhaustive form stays the gate. */
  def hardNegatives(
      corpus: DataFrame, id: Column, vec: Column, label: Column,
      anchors: DataFrame, k: Int): DataFrame = {
    val pairs = labelCorpus(corpus, id, vec, label)
      .crossJoin(broadcast(anchorSide(anchors))).filter(isNegative)
    rankedTopK(pairs, "anchor_id", k).select(NegativesOut: _*)
  }

  /** [[hardNegatives]] through an ANN shortlist — the billion-vector
    * form that method's scaladoc names: score anchors against the
    * corpus in [[randomProjection]]'s outDim-double space, keep the
    * `shortlist` best candidates per anchor (bounded GroupTopK heaps),
    * then rerank ONLY the shortlist with exact full-dimension cosine
    * and emit the top `k`. Identical output contract to
    * [[hardNegatives]]: (anchor_id, rank, neg_id, neg_label, sim).
    *
    * Completeness gate (the [[projectedTopK]] / pqTopK discipline):
    * the self- and label-inequality filters run BEFORE the shortlist
    * heap, so `shortlist ≥ |corpus|` admits every eligible row and the
    * rerank degenerates to [[hardNegatives]] EXACTLY — that equality
    * is spec-gated; a fixed shortlist trades recall for the bandwidth
    * cut and is recall-floor-gated instead (q186).
    *
    * Scale shape: the scan side touches outDim doubles per row (the
    * inDim/outDim bandwidth cut — 96× on a 1536-dim production
    * embedding at outDim 16) plus the label byte; the anchor batch
    * (projected once, parameter-sized) broadcasts; the shortlist
    * shuffle is ≤ shortlist rows per (anchor × partition) through the
    * bounded heaps; the full-dimension rerank reads |anchors|·shortlist
    * corpus rows via a broadcast id semi-join — parameter-sized by
    * design (k' ≪ corpus; the corpus-sized shortlist exists only as
    * the test-scale exactness gate). Wrong-dimension corpus rows
    * project to null and sort after every real candidate in the
    * shortlist stage. */
  def hardNegativesShortlist(
      corpus: DataFrame, id: Column, vec: Column, label: Column,
      anchors: DataFrame, k: Int, inDim: Int, outDim: Int,
      shortlist: Int, seed: String = "rp"): DataFrame = {
    require(shortlist >= k, "shortlist must be >= k")
    val c = labelCorpus(corpus, id, vec, label)
    val q = anchorSide(anchors)
      .withColumn("pq", projectedVec(col("qv"), inDim, outDim, seed))
    val scoredP = c
      .withColumn("pv", projectedVec(col("v"), inDim, outDim, seed))
      .crossJoin(broadcast(q.select(col("anchor_id").as("__aid"),
        col("pq"), col("qlabel").as("__ql"))))
      .filter(col("id") =!= col("__aid") && col("neg_label") =!= col("__ql"))
      .withColumn("psim", dcos(col("pv"), col("pq")))
    val short = graft.plans.GroupTopK.topK(scoredP,
        Seq(col("__aid")), Seq(col("psim").desc, col("id").asc), shortlist)
      .select(col("__aid").as("anchor_id"), col("id"))
    // Self/label exclusions already ran BEFORE the shortlist heap (the
    // completeness-gate property), so the shared tail skips them.
    rerankShortlist(c,
      q.select(col("anchor_id"), col("qv"), col("qlabel"), col("qnrm")),
      short, k, shortlist, filterLabels = false)
  }

  /** [[hardNegatives]] mined through a DURABLE IVF index — the actual
    * 100 TB shape the scaladocs above name: the shortlist comes from
    * ONE [[ivfTopKBatch]] plan over [[loadIvfIndex]]'s handle (whole
    * anchor batch, pruned to the probed stripes' files, bounded
    * heaps), then [[rerankIndexShortlist]] — exact full-dimension
    * rerank with the label filter — runs on the parameter-sized
    * shortlist. Identical output contract:
    * (anchor_id, rank, neg_id, neg_label, sim).
    *
    * Label semantics differ from [[hardNegativesShortlist]] BY
    * CONSTRUCTION and deliberately: the durable index stores (id, v,
    * list) only — no label column to filter on before the heap (the
    * FAISS convention: payload lookup joins the shortlist by id) — so
    * the label filter runs on the SHORTLIST, and an anchor crowded by
    * same-label neighbors can surface fewer than k negatives at small
    * `shortlist`. Oversample (`shortlist` ≫ k) to compensate; with
    * `nProbe` = nLists and `shortlist` ≥ |corpus| every eligible pair
    * survives to the rerank and the output degenerates to
    * [[hardNegatives]] EXACTLY (the q195 completeness gate); a finite
    * shortlist is recall-floor-gated like q186.
    *
    * Scale shape: one stripe-pruned index scan + broadcast
    * equi-join for the whole batch (never a job per anchor), a
    * ≤ shortlist-per-(anchor × partition) heap shuffle, and a rerank
    * that reads |anchors|·shortlist corpus rows via the same
    * product-gated broadcast semi-join as [[hardNegativesShortlist]].
    * The corpus frame supplies vectors AND labels only for shortlist
    * survivors. */
  def hardNegativesAnn(
      centroids: Array[Array[Float]], indexed: DataFrame,
      corpus: DataFrame, id: Column, vec: Column, label: Column,
      anchors: DataFrame, k: Int, nProbe: Int, shortlist: Int): DataFrame =
    rerankIndexShortlist(corpus, id, vec, label, anchors, k, shortlist)(
      ivfTopKBatch(centroids, indexed, _, col("query_id"), col("qv"),
        k = shortlist, nProbe = nProbe))

  /** The mining tail of the durable-index forms ([[hardNegativesAnn]],
    * [[hardNegativesAnnPq]]), which differ only in `shortlistOf`: the
    * index's per-anchor shortlist of (query_id, id, …) for the anchors'
    * (query_id, qv). The index is label-blind, so [[rerankShortlist]]
    * applies the self/label exclusions at the rerank. */
  private def rerankIndexShortlist(
      corpus: DataFrame, id: Column, vec: Column, label: Column,
      anchors: DataFrame, k: Int, shortlist: Int)(
      shortlistOf: DataFrame => DataFrame): DataFrame = {
    require(shortlist >= k, "shortlist must be >= k")
    val short = shortlistOf(anchors.select(col("query_id"), col("qv")))
      .select(col("query_id").as("anchor_id"), col("id"))
    rerankShortlist(labelCorpus(corpus, id, vec, label), anchorSide(anchors),
      short, k, shortlist, filterLabels = true)
  }

  /** The shared exact-rerank tail of [[hardNegativesShortlist]] and
    * [[rerankIndexShortlist]] — ONE definition, so the "identical output
    * contract" the mining forms promise cannot drift apart: gate the
    * |anchors|×shortlist id frame's broadcast on the PRODUCT
    * (driver-safe by construction; the anchor count is one cheap job
    * on the parameter-sized anchor frame, making the gate honest
    * rather than assumed; oversized batches fall through to the
    * optimizer's stats decision — a forced hint there would bypass
    * autoBroadcastJoinThreshold and pressure the driver), join the
    * shortlist survivors back to the full-dimension corpus and the
    * broadcast anchor frame, optionally re-apply the self/label
    * exclusions (the ANN path must — its shortlist came from a
    * label-blind index; the projected path already filtered BEFORE its
    * heap), and emit the top-k per anchor through [[rankedTopK]].
    * Inputs: `c` = [[labelCorpus]], `q` = [[anchorSide]], `short` =
    * (anchor_id, id). */
  private def rerankShortlist(
      c: DataFrame, q: DataFrame, short: DataFrame,
      k: Int, shortlist: Int, filterLabels: Boolean): DataFrame = {
    val nAnchors = q.count()
    val shortSide =
      if (nAnchors * shortlist.toLong <= (1L << 20)) broadcast(short)
      else short
    val joined = c.join(shortSide, Seq("id"))
      .join(broadcast(q), Seq("anchor_id"))
    rankedTopK(if (filterLabels) joined.filter(isNegative) else joined, "anchor_id", k)
      .select(NegativesOut: _*)
  }

  /** Corpus bucketing for the LSH path: adds `bucket` (nBits-bit
    * hyperplane signature). For cross-session reuse, land it through
    * [[writeLshIndex]]'s flat bucket-range-sorted layout — the
    * multi-probe filter ([[lshTopK]]'s Hamming ball) then prunes to
    * the probed buckets' row groups. */
  def bucketize(corpus: DataFrame, id: Column, vec: Column, nBits: Int): DataFrame =
    Dedup.spread(corpus).select(
      id.cast("long").as("id"), vec.as("v"),
      VectorFunctions.hyperplaneBucket(vec, nBits).as("bucket"))

  /** IVF index: k-means centroids trained on a bounded SAMPLE of the
    * corpus, every vector assigned to its nearest centroid (the
    * "inverted list" it lives in). [[writeIvfIndex]]/[[loadIvfIndex]]
    * are the durable form: posting lists land sorted by `list` in flat
    * files of contiguous list ranges, so at 100 TB a probe's list filter
    * prunes by the files' statistics and probes
    * in later sessions never rescan the corpus.
    *
    * Sample fit is the scale design, not an approximation shortcut: the
    * centroid ESTIMATE converges with the sample (IVF quality needs
    * representative centroids, not centroids that saw every row — the
    * FAISS training convention), while the fit's per-iteration cost is
    * bounded by `fitSampleRows` instead of growing with the corpus. The
    * ASSIGNMENT pass still covers every vector — one broadcast-centroid
    * map pass, embarrassingly parallel. Corpora at or under
    * `fitSampleRows` fit on everything (sampling would only discard
    * signal). Returns (centroids, corpus+list).
    *
    * DETERMINISM: both the fit SAMPLE (the `fitSampleRows` smallest
    * (xxhash64(id), id) values — hash-ordered, unbiased, deterministic;
    * one TakeOrderedAndProject) and the fit itself ([[lloydFit]] —
    * the [[graft.operators.Cluster]] Lloyd discipline under IVF's
    * squared-L2 metric, sequential on the collected sample) are
    * independent of core count and partitioning — the init is
    * deterministic farthest-point (maximin), not a seeded sample.
    * Spark-ML KMeans is NOT: its k-means||
    * init and `.sample()`'s per-partition Bernoulli draws both change
    * with the partition layout even at a fixed seed, so the same build
    * on 8 vs 32 cores produced different centroids and flipped
    * partial-probe recall contracts across cluster shapes (the r16
    * q191 regression). The final corpus-wide assignment runs through
    * [[ivfAssign]] against the float-rounded centroids — the append
    * path's own definition, so a built row and an appended row can
    * never disagree on their list. The schedule has no randomness, so
    * it takes no seed (pinned in `IndexLifecycleSpec`: two sessions with
    * different shuffle-partition counts build bit-identical centroids
    * and assignments). */
  def ivfIndex(
      corpus: DataFrame, id: Column, vec: Column,
      nLists: Int,
      fitSampleRows: Long = 100000L): (Array[Array[Float]], DataFrame) = {
    val c = Dedup.spread(corpus).select(id.cast("long").as("id"), vec.as("v"))
    // The fit sample is the `fitSampleRows` smallest values of
    // (xxhash64(id), id) — one TakeOrderedAndProject (bounded
    // per-partition heaps), collected once. Ordering by the id's HASH
    // makes the bounded sample UNBIASED when ids correlate with ingest
    // time/source (the common production case — the fitSampleRows
    // oldest rows would train centroids that have never seen newer
    // data) while staying fully deterministic: the hash is a pure
    // function of the id, so the same corpus yields the same sample
    // under any partitioning (unlike `.sample()`'s per-partition
    // draws). fitSampleRows × d floats is the FAISS training-buffer
    // convention (training runs in memory on a bounded sample; only
    // assignment is distributed), and the collect is parameter-sized
    // by construction — size fitSampleRows to the driver (it bounds
    // BOTH the collect bytes and the sequential fit cost; see
    // [[lloydFit]]'s envelope). Driver-side re-sort by id makes the
    // init order explicit rather than plan-dependent.
    val bound = math.min(fitSampleRows, Int.MaxValue.toLong).toInt
    val sample = c.orderBy(xxhash64(col("id")), col("id")).limit(bound)
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1).map(_._2)
    // Fail fast on a ragged corpus (one truncated embedding): the fit's
    // L2 kernels would otherwise silently score the common PREFIX — the
    // pqEncode width discipline, enforced at the one driver-side point
    // where every sampled width is in hand. (A ragged row OUTSIDE the
    // sample still assigns by prefix in ivfAssign — the upstream gate
    // is CorpusStats.embeddingAudit, as for zero norms in the PQ path.)
    sample.headOption.foreach { h =>
      val widths = sample.iterator.map(_.length).toSet
      require(widths.size == 1,
        s"ivfIndex: ragged embedding widths in the fit sample " +
          s"(${widths.toSeq.sorted.mkString(", ")}) — centroids would " +
          "silently train on the common prefix; fix the corpus " +
          s"(expected uniform width ${h.length})")
    }
    val centroids = lloydFit(sample, nLists, iters = 10)
    (centroids, ivfAssign(c, col("id"), col("v"), centroids))
  }

  /** Deterministic in-memory Lloyd fit for [[ivfIndex]] — the
    * [[graft.operators.Cluster.lloydKMeans]] schedule under IVF's
    * squared-L2 metric, run sequentially on the driver's bounded
    * sample (deterministic by construction: no partial aggregation, no
    * partitioning, no seed): init = FARTHEST-POINT (maximin) seeding —
    * start from the smallest-id vector, then repeatedly take the
    * sample vector farthest from its nearest chosen centroid
    * (smallest id on ties). Maximin is the deterministic stand-in for
    * k-means++'s spread (Gonzalez 1985 — public literature): k
    * smallest-id seeds can clump (ids carry no geometry), and clumped
    * seeds cost partial-probe recall — measured: smallest-id init put
    * q78's 3-of-8-probe recall at 0.4 on the sf0.1 fixture, under the
    * 0.5 contract floor; maximin holds the floor at every tested SF.
    * Then `iters` Lloyd rounds: assignment = plain-double L2 argmin
    * with lowest-index tie-break, recompute = component means rounded
    * to 6 dp (the [[graft.operators.Cluster]] rounding discipline —
    * and what keeps the persisted centroid table tidy). Clusters that
    * lose every member drop out (compacted); final list ids are
    * positions in the returned array. Centroids are float-rounded at
    * the end — the durable representation [[writeIvfIndex]] stores —
    * so the corpus assignment in [[ivfIndex]] scores against exactly
    * the bytes a fresh-session reload will. The fit's internal argmin
    * needs no cross-engine rounding (it never leaves the driver); the
    * ONE distributed assignment definition remains [[l2Assign]] via
    * [[ivfAssign]].
    *
    * ENVELOPE — the fit runs on the driver (that is what removes
    * partitioning from the answer), so `fitSampleRows` bounds driver
    * memory (sample·d doubles; ~50 MB at the 100k default × d=64,
    * ~1.2 GB at d=1536 — lower the bound for wide embeddings) and fit
    * cost (O(iters·sample·k·d) flops). The flops are DETERMINISTICALLY
    * PARALLEL (round 18): per-point work (distance updates, argmin
    * assignment) writes to disjoint per-point slots — schedule cannot
    * change a value — and every floating-point REDUCTION keeps the
    * sequential schedule's exact association (per-cluster sums
    * accumulate in sample order, parallelized ACROSS clusters; the
    * seeding argmax is a d-free sequential scan), so the parallel fit
    * is bit-identical to the single-threaded one (spec-gated) while
    * lifting the thousands-of-lists × wide-dim ceiling by the core
    * count. Size the sample by the FAISS training convention — roughly
    * 64–256 points per centroid — not by the corpus: 256·nLists points
    * train the same-quality centroids at any corpus size, and the
    * distributed [[ivfAssign]] pass is where the corpus actually gets
    * touched. A distributed fit stays off the table — partial
    * aggregation re-opens the r16 q191 class. */
  private def lloydFit(
      sample: Array[Array[Double]], k: Int, iters: Int): Array[Array[Float]] =
    lloydFitImpl(sample, k, iters, parallel = true)

  /** `parallel = false` is the reference single-threaded schedule the
    * spec gates bit-equality against; both paths share every kernel —
    * the flag only chooses the driver loop. */
  private[graft] def lloydFitImpl(
      sample: Array[Array[Double]], k: Int, iters: Int,
      parallel: Boolean): Array[Array[Float]] = {
    require(sample.nonEmpty, "ivfIndex: no vectors to fit centroids on")
    val n = sample.length
    // Disjoint-slot parallel loop: each index writes only its own
    // state, so the ForkJoin schedule cannot affect any value.
    def foreachIdx(bound: Int)(f: Int => Unit): Unit =
      if (parallel)
        java.util.stream.IntStream.range(0, bound).parallel()
          .forEach(i => f(i))
      else { var i = 0; while (i < bound) { f(i); i += 1 } }
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      val m = math.min(a.length, b.length)
      while (i < m) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    // Maximin seeding over the sample: O(k·|sample|·d) distance work in
    // the parallel per-point phase; the argmax (strict > : ties resolve
    // to the smallest index) is a d-free SEQUENTIAL scan of minD2, so
    // its tie-break order never depends on the schedule.
    val nSeeds = math.min(k, n)
    val seedIdx = new Array[Int](nSeeds)
    val minD2 = Array.fill(n)(Double.PositiveInfinity)
    seedIdx(0) = 0 // the smallest id (sample is id-sorted)
    var s = 1
    while (s < nSeeds) {
      val prev = sample(seedIdx(s - 1))
      foreachIdx(n) { i =>
        val d = d2(sample(i), prev)
        if (d < minD2(i)) minD2(i) = d
      }
      var best = -1; var bestD = -1.0; var i = 0
      while (i < n) {
        if (minD2(i) > bestD) { bestD = minD2(i); best = i }
        i += 1
      }
      seedIdx(s) = best
      s += 1
    }
    var cents: Array[Array[Double]] = seedIdx.map(i => sample(i).clone())
    val assign = new Array[Int](n)
    for (_ <- 1 to iters) {
      val d = cents.head.length
      val nC = cents.length
      // Phase 1 — assignment: pure per-point argmin (lowest index on
      // ties), the O(n·k·d) hot loop, embarrassingly parallel.
      foreachIdx(n) { p =>
        val x = sample(p)
        var best = 0; var bestD2 = Double.PositiveInfinity; var j = 0
        while (j < nC) {
          val cj = cents(j); var dd = 0.0; var i = 0
          val m = math.min(x.length, cj.length)
          while (i < m) { val t = x(i) - cj(i); dd += t * t; i += 1 }
          if (dd < bestD2) { bestD2 = dd; best = j }
          j += 1
        }
        assign(p) = best
      }
      // Phase 2 — recompute: each cluster sums ITS members in sample
      // order (the sequential schedule's exact float association),
      // parallelized across clusters — disjoint sums, fixed order.
      val sums = Array.fill(nC)(new Array[Double](d))
      val counts = new Array[Long](nC)
      foreachIdx(nC) { j =>
        val sj = sums(j); var p = 0
        while (p < n) {
          if (assign(p) == j) {
            val x = sample(p); var i = 0
            val m = math.min(x.length, d)
            while (i < m) { sj(i) += x(i); i += 1 }
            counts(j) += 1
          }
          p += 1
        }
      }
      cents = cents.indices.toArray.filter(counts(_) > 0L).map { j =>
        sums(j).map(s => BigDecimal(s / counts(j))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }
    cents.map(_.map(_.toFloat))
  }

  /** Run INDEPENDENT index-artifact jobs concurrently (guide §2.6 —
    * actions are only sequential because the caller calls them
    * sequentially): the small-table writes beside a data write, or an
    * append's parameter-table loads beside its tombstone guard, each
    * pay a full job floor back to back when nothing orders them. Plain
    * `new Thread`s, NOT a pooled executor: Spark's job group /
    * description live in an InheritableThreadLocal, so threads created
    * HERE inherit the caller's group (Bench's watchdog can still
    * cancel these jobs) where a pool's pre-created threads would not.
    * Results come back in task order; the first failure is rethrown
    * after all tasks settle — the completion-
    * marker discipline already treats ANY interruption between
    * clear-marker and write-marker as a must-rebuild, so concurrent
    * data writes do not widen a crash window. */
  private[graft] def inParallel[T](tasks: (() => T)*): Seq[T] = {
    val results = new Array[Any](tasks.size)
    val errs = new Array[Throwable](tasks.size)
    // The active session is a ThreadLocal some analysis-time conf
    // lookups read — propagate the caller's into each worker thread.
    val active = org.apache.spark.sql.SparkSession.getActiveSession
    val threads = tasks.zipWithIndex.map { case (t, i) =>
      new Thread(() => try {
        active.foreach(org.apache.spark.sql.SparkSession.setActiveSession)
        results(i) = t()
      } catch { case e: Throwable => errs(i) = e })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    // Deterministic error precedence: the LOWEST-index failure is
    // thrown, so a caller's guard ordering (tombstone check before
    // live-id check) reads the same as the sequential form it replaced.
    // Every OTHER failure rides along as a suppressed exception (round
    // 21, VERDICT item): a double failure — say a guard trip AND a data
    // write that died — is diagnosable from the one thrown error
    // instead of the extra causes vanishing unlogged.
    errs.find(_ != null).foreach { e =>
      errs.foreach(o => if (o != null && !(o eq e)) e.addSuppressed(o))
      throw e
    }
    results.toSeq.asInstanceOf[Seq[T]]
  }

  /** Durable form of the IVF index ([[Ivf]]) — write once, probe across
    * sessions. The posting lists land as flat parquet files, each a
    * contiguous range of lists sorted by (list, id), the centroids as a
    * tiny (list, centroid) table beside them. A reloaded probe's
    * `list IN (probes)` filter pushes down to the files' footer and
    * row-group statistics: only the files whose list interval covers a
    * probed list return rows, and the rest of the corpus is never read —
    * the layout that makes IVF an index rather than a filter (gated in
    * `IndexLifecycleSpec`: probe ≡ same-session build bit-equal, the scan
    * carries the pushed `list` filter). The write and crash discipline is
    * [[PathIndex.write]]'s. */
  def writeIvfIndex(
      centroids: Array[Array[Float]], indexed: DataFrame,
      path: String): Unit =
    PathIndex.write(Ivf, centroids, Seq(indexed), path)

  /** Reload a [[writeIvfIndex]]-persisted index in (possibly) a fresh
    * session: (centroids ordered by list id, posting-list scan). The
    * posting-list frame is the flat scan itself, not a cache:
    * [[ivfTopK]]'s probe filter prunes to the probed lists' files, so
    * steady-state probe cost is the probed lists' bytes, independent of
    * corpus size. */
  def loadIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String): (Array[Array[Float]], DataFrame) =
    loadOne(Ivf, spark, path)

  /** ===== Deletion + compaction for the durable ANN indexes =====
    *
    * RTBF must reach the durable artifact, not just the corpus: a
    * vector deleted upstream ([[Dedup.deletionCascade]]'s class) would
    * otherwise keep being RETURNED by probes against a months-old
    * index, and its content-derived rows (the vector itself, its
    * codes, its bucket signature) would stay on disk indefinitely.
    * Two-phase, like every production vector store: `deleteFrom*Index`
    * is the LOGICAL delete (ids appended to `tombstones/`, filtered out
    * by every later load), `compact*Index` the PHYSICAL erasure and
    * layout reset. Run a compaction when the tombstone set has grown
    * past broadcast-cheap or the per-stripe file count degrades probe
    * open times ([[compactIfNeeded]]). The discipline — snapshot-scoped
    * erase, re-ingest guard, crash states — is [[PathIndex]]'s.
    *
    * Gates (`IndexLifecycleSpec`): post-delete probe ≡ probe against an
    * index REBUILT on the surviving corpus (same frozen centroids /
    * codebooks / nBits), compaction probe-bit-equal before/after with
    * the tombstone dir gone and per-stripe file counts reset. */
  def deleteFromIvfIndex(
      ids: DataFrame, id: Column, path: String): Unit =
    PathIndex.delete(Ivf, ids, id, path)

  /** [[deleteFromIvfIndex]]'s contract for the LSH lifecycle. */
  def deleteFromLshIndex(
      ids: DataFrame, id: Column, path: String): Unit =
    PathIndex.delete(Lsh, ids, id, path)

  /** [[deleteFromIvfIndex]]'s contract for the PQ lifecycle. */
  def deleteFromPqIndex(
      ids: DataFrame, id: Column, path: String): Unit =
    PathIndex.delete(Pq, ids, id, path)

  /** Physical erasure + stripe compaction: the survivors rewritten one
    * file per posting-list stripe and swapped in place, the snapshot's
    * tombstones erased ([[PathIndex.compact]]). Probe-bit-equal
    * before/after (gated). */
  def compactIvfIndex(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    PathIndex.compact(Ivf, spark, path)

  /** [[compactIvfIndex]] for the LSH layout: the appends' files merge back
    * into one placement of range-sorted files. */
  def compactLshIndex(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    PathIndex.compact(Lsh, spark, path)

  /** [[compactIvfIndex]] for the flat PQ code table: erasure + small-file
    * merge. */
  def compactPqIndex(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    PathIndex.compact(Pq, spark, path)

  /** Declared read schemas for every artifact the durable-index
    * writers in this file produce (round 21, guide §1.2 job-count
    * discipline): `spark.read.parquet` without a schema pays a
    * footer-read JOB per call for schema inference, and the lifecycle
    * queries load these artifacts several times each (guards, appends,
    * fresh-session reloads) — ~6–10 pure-floor jobs per query at
    * local[32], and a listing+footer round-trip per load against an
    * object store at scale. The schemas are fixed by our own writers,
    * so the read side declares them; a drifted file still fails
    * LOUDLY at scan time (parquet verifies the requested columns
    * against the footer), never silently. */
  private object ArtifactSchemas {
    import org.apache.spark.sql.types._
    val ivfCentroids: StructType = StructType(Seq(
      StructField("list", IntegerType),
      StructField("centroid", ArrayType(FloatType))))
    val pqCodebooks: StructType = StructType(Seq(
      StructField("j", IntegerType), StructField("cl", IntegerType),
      StructField("c", ArrayType(DoubleType))))
    val lshMeta: StructType = StructType(Seq(
      StructField("n_bits", IntegerType)))
    val ivfPqMeta: StructType = StructType(Seq(
      StructField("encoding", StringType)))
    /** [[bucketize]]'s output, flat, sorted by `bucket`. */
    val lshBuckets: StructType = StructType(Seq(
      StructField("id", LongType),
      StructField("v", ArrayType(FloatType)),
      StructField("bucket", LongType)))
    /** [[ivfAssign]]'s output, flat, sorted by `list`: `list` is a data
      * column, so a probe's `list IN (…)` reaches the file footers. */
    val ivfLists: StructType = StructType(Seq(
      StructField("id", LongType),
      StructField("v", ArrayType(FloatType)),
      StructField("list", IntegerType)))
    /** [[ivfPqEncode]]'s output, flat, sorted by `list` (a data column,
      * as in [[ivfLists]]). */
    val ivfPqLists: StructType = StructType(Seq(
      StructField("id", LongType),
      StructField("codes", LongType),
      StructField("list", IntegerType)))
    /** [[pqEncode]]'s output, flat. */
    val pqCodes: StructType = StructType(Seq(
      StructField("id", LongType),
      StructField("codes", LongType)))
  }

  /** ===== The path families =====
    *
    * Each durable family is a [[PathFamily]] value; [[PathIndex]] writes
    * every verb once over it. What differs per family is only this:
    *
    * | family | parameters                    | data      | stripe                | landing |
    * |--------|-------------------------------|-----------|-----------------------|---------|
    * | Ivf    | centroids                     | lists     | list (centroid count) | striped |
    * | IvfPq  | centroids, codebooks, meta    | lists     | list (centroid count) | striped |
    * | Lsh    | meta (`n_bits`)               | buckets   | bucket (`1 << nBits`) | striped |
    * | Pq     | codebooks                     | codes     | none                  | as it comes |
    *
    * The encode steps are [[ivfAssign]], [[ivfPqEncode]], [[bucketize]]
    * and [[pqEncode]]; the fifth family, the MinHash corpus index, is
    * [[Dedup.Corpus]]. Every family here lands in a flat data directory through
    * [[PathIndex]]'s one writer; a striped landing places whole stripes on
    * each write task ([[IndexFiles.placed]]) and sorts them by
    * (stripe, id), one file per task whose stripe intervals do not
    * overlap, and the stripe is a data column every probe filter pushes
    * down to the footer and row-group statistics. */
  private val Ivf = PathFamily[Array[Array[Float]]](
    "Ivf", Seq("centroids"),
    Seq(DataRelation("lists", ArtifactSchemas.ivfLists, Striped("list", _.length.toLong))),
    loadIvfCentroids,
    (spark, c, path) => Seq(() => writeCentroids(spark, c, path)),
    ivfAssign)

  private val IvfPq = PathFamily[(Array[Array[Float]], IvfPqCodebooks)](
    "IvfPq", Seq("centroids", "codebooks", "meta"),
    Seq(DataRelation("lists", ArtifactSchemas.ivfPqLists, Striped("list", _._1.length.toLong))),
    (spark, path) => (loadIvfCentroids(spark, path),
      IvfPqCodebooks(loadMeta(spark, path, ArtifactSchemas.ivfPqMeta, "IvfPq").getString(0),
        loadPqCodebooks(spark, path))),
    (spark, p, path) => Seq(
      () => writeCentroids(spark, p._1, path),
      () => writeCodebooks(spark, p._2.codebooks, path),
      () => writeParam(spark.createDataFrame(Seq(Tuple1(p._2.encoding))).toDF("encoding"),
        s"$path/meta")),
    (vecs, id, vec, p) => ivfPqEncode(vecs, id, vec, p._1, p._2))

  private val Lsh = PathFamily[Int](
    "Lsh", Seq("meta"),
    Seq(DataRelation("buckets", ArtifactSchemas.lshBuckets, Striped("bucket", 1L << _))),
    loadMeta(_, _, ArtifactSchemas.lshMeta, "Lsh").getInt(0),
    (spark, nBits, path) => Seq(() => writeParam(
      spark.createDataFrame(Seq(Tuple1(nBits))).toDF("n_bits"), s"$path/meta")),
    bucketize)

  private val Pq = PathFamily[Seq[(Int, Int, Array[Double])]](
    "Pq", Seq("codebooks"), Seq(DataRelation("codes", ArtifactSchemas.pqCodes, AsItComes())),
    loadPqCodebooks,
    (spark, cbs, path) => Seq(() => writeCodebooks(spark, cbs, path)),
    pqEncode)

  /** Health detection's table: every durable family. */
  private val PathFamilies: Seq[PathFamily[_]] = Seq(IvfPq, Ivf, Lsh, Pq, Dedup.Corpus)

  /** [[PathIndex.load]] of a family with one data relation. */
  private def loadOne[P](f: PathFamily[P], spark: org.apache.spark.sql.SparkSession,
      path: String): (P, DataFrame) = {
    val (p, data) = PathIndex.load(f, spark, path)
    (p, data.head)
  }

  private def writeParam(df: DataFrame, dir: String): Unit =
    df.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dir)

  private def writeCentroids(
      spark: org.apache.spark.sql.SparkSession,
      centroids: Array[Array[Float]], path: String): Unit =
    writeParam(spark.createDataFrame(
      centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq)
      .toDF("list", "centroid"), s"$path/centroids")

  private def writeCodebooks(
      spark: org.apache.spark.sql.SparkSession,
      codebooks: Seq[(Int, Int, Array[Double])], path: String): Unit =
    writeParam(spark.createDataFrame(
      codebooks.map { case (j, cl, c) => (j, cl, c.toSeq) })
      .toDF("j", "cl", "c"), s"$path/codebooks")

  /** The parameter readers: parameter-sized tables read on the driver
    * ([[IndexFiles.readRows]]), no Spark job, and never a listing of the
    * data directory (an append or compaction needs only these). */
  private def loadIvfCentroids(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Array[Array[Float]] =
    IndexFiles.readRows(spark, s"$path/centroids", ArtifactSchemas.ivfCentroids)
      .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1).map(_._2).toArray

  private def loadPqCodebooks(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(Int, Int, Array[Double])] =
    IndexFiles.readRows(spark, s"$path/codebooks", ArtifactSchemas.pqCodebooks)
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .sortBy(p => (p._1, p._2))

  /** The one-row `meta` table (LSH `n_bits`, IVF+PQ `encoding`, the
    * corpus index's scheme). An empty
    * one — an interrupted write, or an index from before the pinned
    * format — fails toward a rebuild: guessing would mis-decode every
    * row. */
  private[operators] def loadMeta(
      spark: org.apache.spark.sql.SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType, family: String): Row = {
    val rows = IndexFiles.readRows(spark, s"$path/meta", schema)
    require(rows.nonEmpty,
      s"$family index at '$path' has an EMPTY meta table — the index " +
        "write was interrupted (or predates the pinned format); rebuild " +
        s"with write${family}Index")
    rows(0)
  }

  /** Assign vectors to their nearest inverted list under FROZEN
    * centroids (squared-L2 argmin, 6-dp-rounded distance, lowest list
    * id on ties — the shared [[l2Assign]] definition): the growth half
    * of the IVF lifecycle. Production IVF grows exactly this way —
    * nightly vectors are assigned against the PERSISTED centroids (the
    * FAISS `add` path); re-training is a rebuild, not an append,
    * because new centroids re-shard every existing posting list. This
    * is THE assignment definition — [[ivfIndex]]'s build pass runs
    * through it against the same float-rounded centroids, so a built
    * row and an appended row are assigned bit-identically by
    * construction (no second code path to diverge from). Output:
    * (id, v, list) in [[writeIvfIndex]]'s layout. */
  def ivfAssign(
      vecs: DataFrame, id: Column, vec: Column,
      centroids: Array[Array[Float]]): DataFrame =
    Dedup.spread(vecs).select(id.cast("long").as("id"), vec.as("v"))
      .withColumn("list", listAssignCol(col("v"), centroids))
      .select(col("id"), col("v"), col("list"))

  /** The inverted-list assignment EXPRESSION — [[ivfAssign]]'s body and
    * [[ivfPqEncode]]'s list half share it, so a composed-index row and
    * a plain-IVF row can never disagree on their list. Raw (non-unit)
    * vector, double L2 argmin against the float-rounded centroids. */
  private def listAssignCol(
      v: Column, centroids: Array[Array[Float]]): Column = {
    val cands = array(centroids.zipWithIndex.map { case (cv, i) =>
      struct(lit(i).as("cl"), typedLit(cv.map(_.toDouble).toSeq).as("c"))
    }: _*)
    l2Assign(cands, transform(v, _.cast("double")))
  }

  /** Durable form of the hyperplane-LSH index ([[Lsh]]): the corpus is
    * banded here through [[bucketize]] with the nBits the meta table pins,
    * so the pinned scheme and the banding cannot disagree. */
  def writeLshIndex(
      vecs: DataFrame, id: Column, vec: Column,
      nBits: Int, path: String): Unit = {
    // [1, 32] is HyperplaneBucket64's own domain — accepting more here
    // would pin a meta nBits every probe/append then throws on.
    require(nBits >= 1 && nBits <= 32,
      s"nBits must be in [1, 32] (HyperplaneBucket64's domain), got $nBits")
    PathIndex.write(Lsh, nBits, Seq(bucketize(vecs, id, vec, nBits)), path)
  }

  /** Reload a [[writeLshIndex]]-persisted index: (nBits, bucketed scan).
    * An [[lshTopK]] probe whose Hamming ball is enumerable pushes its
    * `bucket IN (ball)` filter down to the sorted flat layout's
    * row-group stats. */
  def loadLshIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String): (Int, DataFrame) =
    loadOne(Lsh, spark, path)

  /** Fold new vectors into a durable LSH index, banded with the
    * meta-pinned nBits through the build's [[bucketize]]; the shard lands
    * as ≤ T new range-sorted files, existing files never rewritten
    * ([[PathIndex.append]]). */
  def appendToLshIndex(
      newVecs: DataFrame, id: Column, vec: Column, path: String): Unit =
    PathIndex.append(Lsh, newVecs, id, vec, path)

  /** |ball(·, radius)| over nBits bits = Σ_{h≤radius} C(nBits, h),
    * computed arithmetically (stopping once past `cap`) so [[lshTopK]]
    * chooses its path BEFORE any enumeration — C(64, 8) is ~4.4
    * billion ids. */
  private def hammingBallSize(nBits: Int, radius: Int, cap: Long): Long = {
    var total = 0L
    var c = 1L // C(nBits, 0)
    var h = 0
    while (h <= radius && total <= cap) {
      total += c
      c = c * (nBits - h) / (h + 1) // C(nBits, h+1)
      h += 1
    }
    total
  }

  /** All bucket signatures within Hamming distance `radius` of
    * `center` — the multi-probe ball, enumerated driver-side. Callers
    * must size-check via [[hammingBallSize]] BEFORE calling. */
  private def hammingBall(center: Long, nBits: Int, radius: Int): Seq[Long] =
    (0 to radius).flatMap { h =>
      (0 until nBits).combinations(h).map(
        _.foldLeft(center)((b, p) => b ^ (1L << p)))
    }

  /** Batch IVF ANN top-k — the MANY-queries probe path. [[ivfTopK]]
    * scores centroids on the driver and runs one job per query vector;
    * fine for interactive lookups, wrong for a training-data batch
    * (mining negatives for a million anchors = a million jobs). Here
    * the whole batch probes in ONE plan: each query row picks its
    * `nProbe` nearest lists declaratively (cosine argmin against the
    * centroid literal — the same double arithmetic, descending-cosine /
    * ascending-list order as [[ivfTopK]]'s driver loop, so a 1-query
    * batch is bit-equal to the per-query form), the union of probed
    * list ids is collected (≤ nLists rows — the bounded driver-side
    * class) and applied as a STATIC `list IN (…)` filter so a durable
    * [[loadIvfIndex]] scan prunes to the probed stripes' files, and
    * candidates come from one broadcast equi-join on `list` (the
    * parameter-sized query batch broadcasts; a corpus row joins once
    * per query probing its list, never more — each row lives in
    * exactly one list). Per-query top-k runs through the custom
    * [[graft.plans.GroupTopK]] bounded heaps, so the shuffle carries
    * ≤k rows per (query, partition). Self-pairs are excluded
    * ([[bruteForceTopKBatch]]'s contract): `nProbe = nLists` makes
    * every (query, corpus) pair score once, so the batch probe
    * degenerates to exact [[bruteForceTopKBatch]] BY CONSTRUCTION —
    * the q192 completeness gate. Output: (query_id, id, sim, rank). */
  def ivfTopKBatch(
      centroids: Array[Array[Float]], indexed: DataFrame,
      queries: DataFrame, qid: Column, qvec: Column,
      k: Int, nProbe: Int): DataFrame = {
    val cand = batchProbe(centroids, indexed, queryBatch(queries, qid, qvec), nProbe)(
      _.withColumn("nrm", norm(col("v"))))
    rankedTopK(cand, "query_id", k).select(BatchOut: _*)
  }

  /** The batch probe-list choice of [[ivfTopKBatch]] and
    * [[ivfPqShortlistBatch]]: each query row (query_id, qv, …) explodes
    * to its `nProbe` nearest lists as `probe_list` (cosine argmin against
    * the centroid literal — [[probeLists]]'s double arithmetic,
    * descending cosine then ascending list), the union of probed list
    * ids is collected (≤ nLists rows) and applied as a static
    * `list IN (…)` filter so a loaded index scan prunes to the probed
    * stripes, and `scan` of the probed rows joins the broadcast query
    * rows on their lists, self-pairs excluded. */
  private def batchProbe(
      centroids: Array[Array[Float]], indexed: DataFrame, q: DataFrame,
      nProbe: Int)(scan: DataFrame => DataFrame): DataFrame = {
    val cands = array(centroids.zipWithIndex.map { case (cv, i) =>
      struct(lit(i).as("list"), typedLit(cv.map(_.toDouble).toSeq).as("c"))
    }: _*)
    val qd = transform(col("qv"), _.cast("double"))
    // (−cos, list) structs sorted ascending = cosine descending with
    // lowest-list tie-break — ivfTopK's stable sortBy(−cos) order.
    val scoredCands = transform(cands, ct => struct(
      (ddot(qd, ct.getField("c")) * lit(-1.0d) /
        (sqrt(ddot(qd, qd)) *
          sqrt(ddot(ct.getField("c"), ct.getField("c"))))).as("negcos"),
      ct.getField("list").as("list")))
    val probes = transform(
      slice(array_sort(scoredCands), 1, nProbe), s => s.getField("list"))
    val qp = q.withColumn("probe_list", explode(probes))
    val probedLists = qp.select(col("probe_list")).distinct()
      .collect().map(_.getInt(0)).toSeq
    scan(indexed.filter(col("list").isin(probedLists: _*)))
      .join(broadcast(qp), col("list") === col("probe_list"))
      .filter(col("id") =!= col("query_id"))
  }

  /** Fold new vectors into a durable IVF index, assigned against its
    * frozen centroids ([[ivfAssign]]): the nightly-growth path. An append
    * lands as at most T new list-range files; existing posting lists are
    * never rewritten ([[PathIndex.append]]). */
  def appendToIvfIndex(
      newVecs: DataFrame, id: Column, vec: Column, path: String): Unit =
    PathIndex.append(Ivf, newVecs, id, vec, path)

  /** Fold new vectors into a durable PQ index, encoded against its frozen
    * codebooks ([[pqEncode]]); growing the corpus never retrains them
    * (retraining re-codes every row — a rebuild). */
  def appendToPqIndex(
      newVecs: DataFrame, id: Column, vec: Column, path: String): Unit =
    PathIndex.append(Pq, newVecs, id, vec, path)

  /** Durable form of the PQ index ([[Pq]]): `encoded` is [[pqEncode]]'s
    * output. Doubles round-trip parquet bit-exact, so a reloaded probe is
    * bit-equal to the build-session probe (gated in
    * `IndexLifecycleSpec`). */
  def writePqIndex(
      codebooks: Seq[(Int, Int, Array[Double])], encoded: DataFrame,
      path: String): Unit =
    PathIndex.write(Pq, codebooks, Seq(encoded), path)

  /** Reload a [[writePqIndex]]-persisted index: (codebooks in (j, cl)
    * order, tombstone-filtered codes scan). */
  def loadPqIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String): (Seq[(Int, Int, Array[Double])], DataFrame) =
    loadOne(Pq, spark, path)

  /** ===== Composed IVF+PQ durable index (the FAISS IVFADC layout —
    * Jégou et al. 2011, public literature) =====
    *
    * The fifth durable family closes the last bytes-per-probe gap: a
    * plain-IVF probe reads FULL-DIMENSION float vectors of every row in
    * the probed stripes, so at 100 TB × d ≥ 768 the probed-stripe BYTES
    * are the cost even though the pruning is right. Here the
    * list-sorted stripes store (id, codes) — ONE long per row, the
    * 32× PQ compression — so a probe is: statistics-pruned stripe scan
    * of codes → ADC-score the probed rows against the driver-built LUT
    * ([[adcApproxCol]], the one decode definition) → exact rerank of
    * the rerankN survivors against full vectors fetched BY ID from the
    * corpus ([[exactRerank]], the only touch of the floats). Both
    * approximations have the composed completeness gate: `nProbe =
    * nLists` scans every code and `rerankN ≥ |corpus|` reranks every
    * row, so the probe degenerates to exact brute force BY CONSTRUCTION
    * (q196's oracle contract); finite settings trade recall for the
    * pruned + compressed scan.
    *
    * Artifacts under `path`: `lists/` — (id, codes, list) in flat files
    * sorted by (list, id), each a contiguous list range; `centroids/` — the frozen
    * IVF centroids ([[writeIvfIndex]]'s table); `codebooks/` — the
    * frozen PQ codebooks ([[writePqIndex]]'s table); `tombstones/` —
    * the logical-delete relation every load filters by. Growth encodes
    * against the FROZEN artifacts ([[ivfPqEncode]] — the same
    * expressions as the build, so appended rows are byte-identical);
    * retraining either half is a rebuild by definition (new centroids
    * re-shard every stripe, new codebooks re-code every row). */

  /** The composed family's unit-normalized centroid, as doubles — THE
    * one definition behind the residual convention: the residual
    * encode ([[ivfPqEncode]]), the single-query probe's per-list
    * offset ([[ivfPqTopK]]) and the batch probe's offset expression
    * ([[ivfPqShortlistBatch]]) all consume centroids through it, so
    * the decomposition `u = ĉ(list) + r` can never disagree between a
    * built row, an appended row and either probe form. Norm
    * accumulated left-to-right in double; a zero-norm (dead) centroid
    * maps to the ZERO vector — residual degrades to the raw unit
    * vector and the probe offset to 0, consistently on every side. */
  private def unitCentroid(c: Array[Float]): Array[Double] = {
    var n2 = 0.0; var i = 0
    while (i < c.length) { n2 += c(i).toDouble * c(i).toDouble; i += 1 }
    if (n2 == 0.0) Array.fill(c.length)(0.0)
    else { val n = math.sqrt(n2); c.map(_.toDouble / n) }
  }

  /** ⟨query, unit-centroid⟩ accumulated left-to-right in double — the
    * driver mirror of the batch probe's `ddot(qd, ĉ)` offset term
    * (per-element double products, left fold), so a 1-query batch's
    * ADC scores stay bit-equal to [[ivfPqTopK]]'s driver-LUT scores. */
  private def qDotCentroid(q: Array[Float], uc: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < math.min(q.length, uc.length)) {
      s += q(i).toDouble * uc(i); i += 1
    }
    s
  }

  /** The RESIDUAL `u − ĉ(list)` as an expression — the IVFADC encode
    * convention (Jégou et al. 2011; the FAISS `IndexIVFPQ` default):
    * PQ codes quantize the residual against the row's own inverted-
    * list centroid, not the raw unit vector, so the ksub codewords per
    * subspace only have to cover WITHIN-LIST variance — materially
    * better recall at the same one-long-per-row byte budget. The
    * centroid literal is nLists-bounded and routed through
    * [[unitCentroid]] (the one decomposition definition). */
  private def residualCol(
      u: Column, list: Column,
      centroids: Array[Array[Float]]): Column = {
    val ucLit = array(centroids.map(c =>
      typedLit(unitCentroid(c).toSeq)): _*)
    zip_with(u, element_at(ucLit, list + 1), (a, b) => a - b)
  }

  /** The composed family's trained PQ artifact: the codebooks PLUS the
    * quantization TARGET they were fit on — `"raw"` (codes quantize
    * the unit vector `u` itself) or `"residual"` (codes quantize
    * `u − ĉ(list)`, the IVFADC convention — FAISS's `by_residual`).
    * The encoding is part of the artifact, not a probe-time knob:
    * codes written under one convention are garbage under the other's
    * decode, so [[writeIvfPqIndex]] pins it in the index's meta table
    * and every later encode/probe reads it back — exactly the
    * [[writeLshIndex]] nBits discipline.
    *
    * Which convention wins was MEASURED, not assumed
    * (ResidualDiag/ResidualGainSweep, 20-query mean recall@10 at full
    * probe so ADC ordering is the only variable): for THIS engine's
    * cosine/inner-product ranking, raw wins or ties residual on BOTH
    * corpus shapes — clearly on isotropic embeddings (residuals are
    * LONGER than the unit vectors there: mean ‖r‖² = 1.55 vs ‖u‖² = 1,
    * quantization MSE 0.53 vs 0.37), and at parity on a clustered
    * mixture even though residual's average MSE is smaller (average
    * compression error is not ranking error among the TOP candidates,
    * where raw codewords sit densest). This reproduces the public
    * FAISS guidance that `by_residual` pays for L2, much less for IP —
    * so `"raw"` is the measured default, `"residual"` the fully
    * supported IVFADC convention (offset-corrected probes, gated end
    * to end), and `"auto"` the measured-MSE pick for callers who want
    * the compression-optimal codebooks. */
  case class IvfPqCodebooks(
      encoding: String, codebooks: Seq[(Int, Int, Array[Double])]) {
    require(encoding == "raw" || encoding == "residual",
      s"encoding must be 'raw' or 'residual', got '$encoding'")
  }

  /** One map pass assigning each vector's inverted list (frozen
    * centroids — [[listAssignCol]], [[ivfAssign]]'s exact expression,
    * on the RAW vector) and packing its PQ codes through
    * [[packedCodesCol]] ([[pqEncode]]'s exact packing expression) —
    * of the RESIDUAL `u − ĉ(list)` ([[residualCol]], the IVFADC
    * convention) or of `u` itself, per the artifact's pinned
    * `encoding`: no join between the two assignments, no shuffle.
    * Output: (id, codes, list) in [[writeIvfPqIndex]]'s layout.
    * Zero-norm vectors are excluded (the PQ-family contract). */
  def ivfPqEncode(
      vecs: DataFrame, id: Column, vec: Column,
      centroids: Array[Array[Float]],
      cbs: IvfPqCodebooks): DataFrame = {
    val base = unitNormalized(vecs, id, vec)
      .withColumn("list", listAssignCol(col("v"), centroids))
    val target =
      if (cbs.encoding == "residual")
        residualCol(col("u"), col("list"), centroids)
      else col("u")
    base.select(
      col("id"),
      packedCodesCol(target, cbs.codebooks).as("codes"),
      col("list"))
  }

  /** Fit the composed family's PQ codebooks under FROZEN IVF
    * centroids. `encoding` picks the quantization target:
    * `"raw"` (the DEFAULT — measured best-or-tied for this engine's
    * cosine/IP ranking on every corpus shape swept, see
    * [[IvfPqCodebooks]]) fits on `u` (flat PQ under the IVF layout),
    * `"residual"` on `u − ĉ(list)` (IVFADC — codewords cover
    * within-list variance only, the L2-metric convention), and
    * `"auto"` fits BOTH and keeps the convention with the smaller
    * measured mean quantization error on the fit data — the
    * per-subspace L2 error [[l2Assign]] minimizes, 6-dp-rounded
    * cross-row mean so the pick is stable across partition layouts;
    * ties go to `"raw"` (the offset-free probe). Note auto optimizes
    * COMPRESSION error, which tracks IP-ranking recall only loosely
    * (the measured reason raw is the default). All fits run
    * [[pqIndex]]'s deterministic Lloyd schedule (first-ksub-ids init,
    * 6-dp-rounded means, fixed order); the list assignment is
    * [[listAssignCol]] — [[ivfPqEncode]]'s exact expression, so the
    * fit sees precisely the target the encode will quantize. Auto
    * doubles the (parameter-bounded) fit cost, never the probe
    * cost. */
  def ivfPqFitCodebooks(
      corpus: DataFrame, id: Column, vec: Column,
      centroids: Array[Array[Float]],
      m: Int, ksub: Int, iters: Int,
      encoding: String = "raw",
      fitSampleRows: Long = PqFitSampleRowsDefault): IvfPqCodebooks = {
    require(Seq("auto", "raw", "residual").contains(encoding),
      s"encoding must be 'auto', 'raw' or 'residual', got '$encoding'")
    val base = fitSampleOf(
      unitNormalized(corpus, id, vec)
        .withColumn("list", listAssignCol(col("v"), centroids)),
      fitSampleRows)
    def rawUn = base.select(col("id"), col("u").as("w"))
    def resUn = base.select(col("id"),
      residualCol(col("u"), col("list"), centroids).as("w"))
    encoding match {
      case "raw" => IvfPqCodebooks("raw", fitCodebooks(rawUn, m, ksub, iters))
      case "residual" =>
        IvfPqCodebooks("residual", fitCodebooks(resUn, m, ksub, iters))
      case _ =>
        val (rawCbs, rawErr) = fitCodebooksWithErr(rawUn, m, ksub, iters)
        val (resCbs, resErr) = fitCodebooksWithErr(resUn, m, ksub, iters)
        if (resErr < rawErr) IvfPqCodebooks("residual", resCbs)
        else IvfPqCodebooks("raw", rawCbs)
    }
  }

  /** Durable form of the composed index ([[IvfPq]]): `encoded` must be
    * [[ivfPqEncode]]'s output under the same frozen artifacts. A 1-row
    * `meta` table pins the artifact's `encoding` ([[writeLshIndex]]'s
    * nBits discipline: codes written under one target are garbage under
    * the other's decode, so later sessions, appends and probes read it
    * back instead of guessing). */
  def writeIvfPqIndex(
      centroids: Array[Array[Float]],
      cbs: IvfPqCodebooks,
      encoded: DataFrame, path: String): Unit =
    PathIndex.write(IvfPq, (centroids, cbs), Seq(encoded), path)

  /** Reload a [[writeIvfPqIndex]]-persisted index: (centroids by list id,
    * the [[IvfPqCodebooks]] artifact with its meta-pinned encoding, the
    * tombstone-filtered code scan — [[ivfPqTopK]]'s probe filter prunes
    * it to the probed stripes). */
  def loadIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession, path: String):
      (Array[Array[Float]], IvfPqCodebooks, DataFrame) = {
    val ((centroids, cbs), codes) = loadOne(IvfPq, spark, path)
    (centroids, cbs, codes)
  }

  /** Fold new vectors into a durable composed index, encoded against
    * the frozen centroids and codebooks under the meta-pinned encoding
    * ([[PathIndex.append]]). */
  def appendToIvfPqIndex(
      newVecs: DataFrame, id: Column, vec: Column, path: String): Unit =
    PathIndex.append(IvfPq, newVecs, id, vec, path)

  /** Logical delete ([[PathIndex.delete]]). */
  def deleteFromIvfPqIndex(
      ids: DataFrame, id: Column, path: String): Unit =
    PathIndex.delete(IvfPq, ids, id, path)

  /** Physical erasure + stripe compaction ([[PathIndex.compact]]). */
  def compactIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    PathIndex.compact(IvfPq, spark, path)

  /** Probe the composed index: driver-side centroid scoring picks the
    * `nProbe` lists ([[probeLists]] — [[ivfTopK]]'s order), the pruned
    * stripe scan ADC-scores ONLY codes (one long + an m-term LUT sum
    * per probed row — never the float vectors; plan-gated), and the
    * rerankN survivors rerank exactly against `corpus` by id. Under
    * the `"residual"` encoding the per-list offset ⟨q, ĉ(list)⟩ is
    * added back (nProbe-bounded driver map, [[qDotCentroid]] — the
    * batch expression's arithmetic): within one list it is a constant,
    * but the shortlist MERGES lists, so it must be added for cross-list
    * ADC scores to be comparable. Output: (id, sim) —
    * [[bruteForceTopK]]'s contract.
    *
    * EAGERNESS: at `rerankN ≤` [[RerankIsinMax]] the shortlist ids are
    * collected at CONSTRUCTION time (one bounded job) so the rerank
    * can reach the corpus scan as a pushed `id IN (…)` filter — the
    * returned frame is NOT fully lazy, and the shortlist is frozen as
    * of this call (an index mutated between construction and action
    * does not move it). Above the bound the frame is lazy end to end
    * (the join fetch form). Same contract as [[pqTopK]]. */
  def ivfPqTopK(
      centroids: Array[Array[Float]],
      cbs: IvfPqCodebooks, indexed: DataFrame,
      corpus: DataFrame, id: Column, vec: Column,
      queryVec: Array[Float], k: Int, nProbe: Int, rerankN: Int): DataFrame = {
    val probe = probeLists(centroids, queryVec, nProbe)
    val offCol =
      if (cbs.encoding == "residual") {
        val offs: Map[Int, Double] = probe.map(l =>
          l -> qDotCentroid(queryVec, unitCentroid(centroids(l)))).toMap
        Some(element_at(typedLit(offs), col("list")))
      } else None
    val shortlist = indexed.filter(col("list").isin(probe.toSeq: _*))
      .select(col("id"),
        adcApproxCol(cbs.codebooks, queryVec, offCol).as("approx"))
      .orderBy(desc("approx"), asc("id"))
      .limit(rerankN)
    exactRerank(shortlist, corpus, id, vec, queryVec, k, rerankN)
  }

  /** ===== Index health + compaction policy =====
    *
    * The compaction knee is MEASURED (IndexCompactionSweep: the
    * clustered writers accrete ~1 file per stripe per nightly append;
    * the probe's file-open penalty is noticeable by ~16 files/stripe
    * and 3.7× by ~780; tombstone loads degrade past the broadcast
    * cap) — these wrappers turn the measurement into policy: a report
    * frame an operator can chart, and a guard a nightly job calls
    * after its append instead of scheduling compactions by folklore.
    * Both read driver-side FILESYSTEM METADATA and parquet footers only —
    * no Spark job, so they are safe to call at any frequency. */

  /** The index directory `path` names: a corpus index's root when `path`
    * is a plain SQL identifier with a root in the warehouse
    * ([[graft.operators.Dedup.writeCorpusIndex]]'s table prefix), else
    * `path` itself. A nightly job calls [[indexHealth]]/[[compactIfNeeded]]
    * on whatever it appended to, vector stripes or text buckets. */
  private def indexRoot(spark: org.apache.spark.sql.SparkSession, path: String): String =
    if (!path.matches("[A-Za-z_][A-Za-z0-9_]*")) path
    else {
      val root = Dedup.corpusIndexRoot(spark, path)
      val p = new org.apache.hadoop.fs.Path(root)
      if (p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)) root else path
    }

  /** One-row health report for ANY durable index — a path of the four
    * ANN families or a corpus-index table prefix, the family detected
    * from the layout ([[PathIndex.report]]): (kind, n_stripes,
    * n_data_files, max_files_per_stripe, …) for an ANN index —
    * `n_stripes` is the family's stripe count (a bigint: an LSH index has
    * 2^nBits), and `max_files_per_stripe` the most files a one-stripe
    * probe opens, from the files' stripe intervals — and
    * [[graft.operators.Dedup.corpusIndexHealth]]'s bucketed-table columns
    * for a corpus index; then n_tombstone_files, tombstone_bytes,
    * tombstone_broadcast_ok, needs_compaction. `needs_compaction` applies
    * the measured-knee thresholds [[compactIfNeeded]] enforces;
    * `tombstone_broadcast_ok` is the [[Tombstones.BroadcastCapBytes]]
    * headroom — false means loads have already degraded from the
    * broadcast id set to a shuffled anti-join. */
  def indexHealth(
      spark: org.apache.spark.sql.SparkSession, path: String,
      maxFilesPerStripe: Int = DefaultMaxFilesPerStripe,
      maxTombstoneBytes: Long = DefaultMaxTombstoneBytes): DataFrame =
    PathIndex.report(spark, indexRoot(spark, path), PathFamilies, maxFilesPerStripe,
      maxTombstoneBytes)

  /** Default knee: 64 files/stripe ≈ two months of nightly clustered
    * appends — past the ~16-files measurable-penalty point, an order
    * of magnitude before the measured 3.7× open-overhead regime
    * (IndexCompactionSweep), and cheap to rewrite monthly. The same
    * bound applies to tombstone FILE accretion (one file per delete
    * batch by construction). */
  val DefaultMaxFilesPerStripe: Int = 64

  /** Default tombstone-volume knee: a quarter of the broadcast cap —
    * compaction fires while every load is still broadcast-cheap, well
    * before [[Tombstones.BroadcastCapBytes]] degrades the probe plans. */
  val DefaultMaxTombstoneBytes: Long = Tombstones.BroadcastCapBytes / 4

  /** Compact `path` iff its health is past the knee, with the detected
    * family's compaction — ANY family: the four path-based ANN layouts,
    * or a corpus-index table prefix, under the same knee constants, so a
    * nightly job has ONE verb regardless of what it appended to. Returns
    * true iff a compaction ran — the nightly-append job's post-step
    * (`appendTo*Index(...); compactIfNeeded(...)`) that keeps the layout
    * inside the measured regime without scheduling corpus-sized rewrites
    * that buy nothing. */
  def compactIfNeeded(
      spark: org.apache.spark.sql.SparkSession, path: String,
      maxFilesPerStripe: Int = DefaultMaxFilesPerStripe,
      maxTombstoneBytes: Long = DefaultMaxTombstoneBytes): Boolean =
    PathIndex.compactIfNeeded(spark, indexRoot(spark, path), PathFamilies,
      maxFilesPerStripe, maxTombstoneBytes)

  /** Batch probe over the composed index — [[ivfTopKBatch]]'s
    * many-queries shape reading CODES instead of float vectors: the
    * whole anchor batch probes in ONE plan (per-query probe lists
    * picked declaratively by [[batchProbe]], [[ivfTopKBatch]]'s centroid
    * arithmetic; the bounded union of probed list ids applied as a
    * static filter, so a [[loadIvfPqIndex]] scan prunes to
    * the probed stripes AND reads one long per row — the two scale
    * levers composed), each (query, code) pair is ADC-scored by an
    * EXPRESSION whose float association mirrors [[adcApproxCol]]'s
    * driver LUT term for term (per-subspace left-fold dots, then the
    * same left-to-right subspace sum, 6-dp round — a 1-query batch is
    * bit-equal to [[ivfPqTopK]]'s shortlist stage by construction),
    * per-query rerankN shortlists come from the bounded GroupTopK
    * heaps, and ONE broadcast id semi-join fetches the survivors' full
    * vectors for the exact rerank. Self-pairs are excluded before the
    * heap ([[bruteForceTopKBatch]]'s contract), so `nProbe = nLists` ∧
    * `rerankN ≥ |corpus|` degenerates to exact [[bruteForceTopKBatch]]
    * BY CONSTRUCTION — the q197 completeness gate. Output:
    * (query_id, id, sim, rank). */
  def ivfPqTopKBatch(
      centroids: Array[Array[Float]],
      cbs: IvfPqCodebooks, indexed: DataFrame,
      corpus: DataFrame, id: Column, vec: Column,
      queries: DataFrame, qid: Column, qvec: Column,
      k: Int, nProbe: Int, rerankN: Int): DataFrame = {
    require(rerankN >= k, "rerankN must be >= k")
    val short = ivfPqShortlistBatch(centroids, cbs, indexed,
      queries, qid, qvec, nProbe, rerankN)
    val q = queryBatch(queries, qid, qvec)
    // Exact rerank: fetch the survivors' full vectors by id, rescore
    // with the 4-dp cosine, top-k per query. Broadcast gating runs on
    // rerankN ALONE — the query batch is parameter-sized by contract
    // (it is force-broadcast in this very plan), so rerankN bounds the
    // per-query shortlist frame and no COUNT job fires on the
    // steady-state probe path (it used to — one extra Spark job per
    // batch probe purely to gate this hint). Past the bound the
    // optimizer/AQE decides from its own stats.
    val shortSide =
      if (rerankN <= RerankIsinMax) broadcast(short)
      else short
    // COVERAGE CONTRACT: `corpus` must supply the full vector of every
    // id in the index — a corpus handle resolved BEFORE the index's
    // latest append silently drops the appended ids at this inner join
    // (shortlisted by ADC, no vector to rerank → under-k results, no
    // signal). The join stays INNER because the broadcast build side
    // must be the shortlist (Spark cannot broadcast the preserved side
    // of an outer join — a coverage-asserting left join would demote
    // this to a corpus-wide shuffle). Resident daemons re-resolve the
    // corpus each batch (StreamingAnn.startRefreshingPq), which
    // discharges the contract by construction.
    rankedTopK(vectors(corpus, id, vec).join(shortSide, Seq("id"))
      .join(broadcast(q), Seq("query_id")), "query_id", k).select(BatchOut: _*)
  }

  /** The ADC shortlist half of [[ivfPqTopKBatch]] — also the durable
    * mining path's candidate source ([[hardNegativesAnnPq]]): probe
    * lists picked declaratively and the index pruned by [[batchProbe]],
    * per-(query, code) ADC expression mirroring [[adcApproxCol]]'s
    * driver LUT term for term
    * (per-subspace left-fold dots, left-to-right subspace sum, 6-dp
    * round — the single-query bit-equality gate), self-pairs excluded
    * before the bounded GroupTopK heaps. Output: (query_id, id) —
    * `shortlistN` candidates per query by descending ADC score. */
  private def ivfPqShortlistBatch(
      centroids: Array[Array[Float]],
      cbs: IvfPqCodebooks, indexed: DataFrame,
      queries: DataFrame, qid: Column, qvec: Column,
      nProbe: Int, shortlistN: Int): DataFrame = {
    val codebooks = cbs.codebooks
    // ADC per (query, code): scored with the RAW query vector exactly
    // like adcApproxCol's LUT (ranking-equivalent to unit-normalized —
    // qnrm is constant per query — and bit-mirroring is the contract),
    // decoded per subspace against the codebook literal. Under the
    // "residual" encoding the per-(query, probed-list) offset
    // ⟨q, ĉ(list)⟩ is added back before the round — term-for-term the
    // driver path's qDotCentroid + LUT sum (per-element double
    // products folded left-to-right, LUT sum first, offset added
    // last, 6-dp round).
    val m = codebooks.map(_._1).max + 1
    val ksub = codebooks.map(_._2).max + 1
    require((ksub & (ksub - 1)) == 0, "ksub must be a power of 2")
    val bits = java.lang.Integer.numberOfTrailingZeros(ksub)
    // Native codegen'd ADC sum ([[graft.expressions.PqAdcScore]] — the
    // [[graft.expressions.L2ArgminCode]] discipline): same per-subspace
    // left-fold dots and left-to-right subspace sum as the HOF chain it
    // replaces (retained as [[adcLutSumHof]], spec-gated equal), so the
    // batch≡single bit-mirror contract is unchanged.
    val lutSum = graft.expressions.PqAdcScore.score(
      col("qv"), col("codes"), adcCbData(codebooks), bits)
    val approx =
      if (cbs.encoding == "residual") {
        val ucArr = array(centroids.map(c =>
          typedLit(unitCentroid(c).toSeq)): _*)
        round(lutSum + ddot(transform(col("qv"), _.cast("double")),
          element_at(ucArr, col("probe_list") + 1)), 6)
      } else round(lutSum, 6)
    val cand = batchProbe(centroids, indexed,
        queries.select(qid.cast("long").as("query_id"), qvec.as("qv")), nProbe)(identity)
      .withColumn("approx", approx)
    graft.plans.GroupTopK.topK(cand,
        Seq(col("query_id")), Seq(col("approx").desc, col("id").asc),
        shortlistN)
      .select(col("query_id"), col("id"))
  }

  /** [[hardNegatives]] mined through the COMPOSED durable index — the
    * minimum-bytes form of [[hardNegativesAnn]]'s 100 TB shape: the
    * whole anchor batch's shortlist comes from ONE
    * [[ivfPqShortlistBatch]] plan (statistics-pruned CODE stripes — one
    * long per probed row instead of d floats — bounded heaps), then
    * the SHARED label-filtered exact rerank tail ([[rerankShortlist]],
    * the q186/q195 definition) runs on the parameter-sized shortlist.
    * Identical output contract: (anchor_id, rank, neg_id, neg_label,
    * sim). Label semantics are [[hardNegativesAnn]]'s by construction
    * (the index stores (id, codes, list) — label filtering happens on
    * the shortlist; oversample `shortlist` ≫ k). With `nProbe =
    * nLists` and `shortlist ≥ |corpus|` every eligible pair survives
    * to the rerank and the output degenerates to [[hardNegatives]]
    * EXACTLY (the q198 completeness gate); a finite shortlist is
    * recall-floor-gated like q186/q195 — the floor carries the ADC
    * leg's extra loss. */
  def hardNegativesAnnPq(
      centroids: Array[Array[Float]],
      cbs: IvfPqCodebooks, indexed: DataFrame,
      corpus: DataFrame, id: Column, vec: Column, label: Column,
      anchors: DataFrame, k: Int, nProbe: Int, shortlist: Int): DataFrame =
    rerankIndexShortlist(corpus, id, vec, label, anchors, k, shortlist)(
      ivfPqShortlistBatch(centroids, cbs, indexed, _, col("query_id"), col("qv"),
        nProbe, shortlist))

  /** The `nProbe` nearest inverted lists for a query — the driver-side
    * centroid scoring shared by [[ivfTopK]] and [[ivfPqTopK]] (nLists
    * is parameter-sized; descending cosine, ascending list on ties —
    * stable sortBy keeps the original index order for equal keys).
    *
    * The arithmetic MIRRORS the batch probes' declarative negcos
    * expression term for term ([[batchProbe]]:
    * per-element double products folded left-to-right, `dot * -1.0`
    * divided by the product of left-to-right-accumulated norms), so a
    * 1-query batch selects the same probe lists as this driver loop
    * even on near-tie centroid scores — the probe-selection half of
    * the batch≡single bit-equality gate, by construction rather than
    * by fixture luck. */
  private def probeLists(
      centroids: Array[Array[Float]], queryVec: Array[Float],
      nProbe: Int): Array[Int] = {
    def negcos(c: Array[Float], q: Array[Float]): Double = {
      var dot = 0.0; var qq = 0.0; var cc = 0.0; var i = 0
      while (i < math.min(c.length, q.length)) {
        val qi = q(i).toDouble; val ci = c(i).toDouble
        dot += qi * ci; qq += qi * qi; cc += ci * ci; i += 1
      }
      (dot * -1.0) / (math.sqrt(qq) * math.sqrt(cc))
    }
    centroids.zipWithIndex
      .sortBy { case (cv, _) => negcos(cv, queryVec) }
      .take(nProbe).map(_._2)
  }

  /** IVF ANN top-k: score the query against every centroid on the driver
    * (nLists is small), then scan only the `nProbe` nearest posting
    * lists. Approximate; recall grows with nProbe. Output: (id, sim).
    *
    * The query vector enters the plan as a literal (its norm folds to a
    * constant at optimization, through the same [[VectorFunctions.normSq]]
    * arithmetic the batch form evaluates per row), so the probe is the
    * pruned list scan plus the top-k, with no broadcast of a one-row
    * query frame. Over a loaded index whose files fit [[PointRead]]'s cap
    * it runs no Spark job: the list files are read and scored on the
    * driver, and the result is a local frame. An in-memory index or a
    * read past the cap runs the same plan as one Spark job, at the
    * action. */
  def ivfTopK(
      centroids: Array[Array[Float]], indexed: DataFrame,
      queryVec: Array[Float], k: Int, nProbe: Int): DataFrame = {
    val probe = probeLists(centroids, queryVec, nProbe)
    val qv = typedLit(queryVec.toSeq)
    PointRead.local(topKBySim(indexed.filter(col("list").isin(probe.toSeq: _*))
      .withColumn("nrm", norm(col("v")))
      .withColumn("sim", cosine4(qv = qv, qnrm = norm(qv))), k))
  }

  /** The largest Hamming ball [[lshTopK]] enumerates into a pushed-down
    * `bucket IN (…)` filter; past it the probe scans. */
  private val MaxBallBuckets = 4096L

  /** ANN top-k via hyperplane LSH with multi-probe: only corpus rows
    * whose bucket is within `probeHamming` bits of the query's bucket
    * are scored. Approximate — recall < 1; the scale path when the
    * corpus is huge and queries are many. Output: (id, sim).
    *
    * The path is chosen from the parameters alone. When the Hamming
    * ball is smaller than the bucket space (`probeHamming < nBits`) and
    * holds at most 4096 buckets ([[hammingBallSize]] of `nBits` and
    * `probeHamming`), the query's bucket is collected (one bounded
    * collect — the scalar-subquery class), the ball is enumerated on the
    * driver and applied as a static `bucket IN (…)` filter: over a
    * [[loadLshIndex]] scan — flat files sorted by bucket
    * ([[PathIndex]]'s writer) — it pushes down to the parquet row-group
    * statistics, so only the ball's row groups are read. A full ball
    * (every bucket) or one past that size is the scan alone, with no
    * collect: it prunes nothing, or at that radius most row groups are
    * probed anyway. Both paths keep the
    * `bit_count(bucket ⊕ qbucket) ≤ h` filter, so they return the same
    * rows by construction (`bucket ∈ ball(qbucket, h)` ⇔
    * `hamming(bucket, qbucket) ≤ h`), for any number of query rows —
    * gated bit-equal against an inline filter on each side of the cap
    * and for the full ball in `IndexLifecycleSpec`. */
  def lshTopK(
      bucketed: DataFrame, query: DataFrame, k: Int,
      nBits: Int, probeHamming: Int = 1): DataFrame = {
    val qb = query.withColumn("qbucket",
      VectorFunctions.hyperplaneBucket(col("qv"), nBits))
    val cands =
      if (probeHamming >= nBits ||
          hammingBallSize(nBits, probeHamming, MaxBallBuckets) > MaxBallBuckets) bucketed
      else bucketed.filter(col("bucket").isin(
        qb.select(col("qbucket")).where(col("qbucket").isNotNull).collect()
          .map(_.getLong(0)).distinct
          .flatMap(hammingBall(_, nBits, probeHamming)).distinct.toSeq: _*))
    topKBySim(cands.crossJoin(broadcast(qb))
      .filter(bit_count(col("bucket").bitwiseXOR(col("qbucket"))) <= probeHamming)
      .withColumn("sim", round(VectorFunctions.cosine(col("v"), col("qv")), 4)), k)
  }

  /** 1-row recall summary of an approximate result against its exact
    * baseline, joined on `on`: (n_exact, n_approx, n_hit) where n_hit
    * counts exact rows the approximate result reproduced. All three
    * inputs are top-k / pair-set sized, so the three single-row
    * aggregates and their cross joins are trivially broadcast. This is
    * the declared-surface gate for the approximate ANN paths (q78/q79):
    * the driver sees recall as data, not just as a spec assertion. */
  def recallStats(exact: DataFrame, approx: DataFrame, on: Seq[String]): DataFrame = {
    val e = exact.select(on.map(col): _*)
    val a = approx.select(on.map(col): _*)
    val nE = e.agg(count(lit(1)).as("n_exact"))
    val nA = a.agg(count(lit(1)).as("n_approx"))
    val nH = e.join(a, on, "left_semi").agg(count(lit(1)).as("n_hit"))
    nE.crossJoin(nA).crossJoin(nH)
  }

  /** Product-quantization index (Jégou, Douze, Schmid, "Product
    * quantization for nearest neighbor search", IEEE TPAMI 2011 —
    * public literature; the FAISS IVFADC building block): unit-normalize
    * each vector, split it into `m` contiguous subvectors, train an
    * independent `ksub`-codeword codebook per subspace (deterministic
    * Lloyd: init = the `ksub` smallest-id subvectors, L2 argmin with
    * 6-dp rounding + codeword-index tie-break — the
    * [[graft.operators.Cluster]] determinism discipline), and encode
    * every vector as `m` codeword indices BIT-PACKED into one long
    * (`b = log2(ksub)` bits each; requires `m·b ≤ 64`).
    *
    * This is the memory leg the brute/LSH/IVF trio lacks: the scan-side
    * state per vector drops from d floats (256 B at d=64) to ONE long —
    * 32× — so a 100 TB embedding corpus becomes a ~3 TB code table that
    * scans at memory bandwidth, while the full vectors stay in cold
    * storage and are fetched only for the final rerank join.
    *
    * Scale shape: training collects A BOUNDED SAMPLE once
    * ([[fitSampleOf]] — the `fitSampleRows` smallest (xxhash64(id), id)
    * values, [[ivfIndex]]'s deterministic hash-ordered discipline;
    * defaults to [[PqFitSampleRowsDefault]]) and runs the Lloyd
    * schedule on the driver, exactly like [[ivfIndex]]'s centroid fit —
    * one Spark job per fit instead of one broadcast-join + shuffle per
    * iteration ([[fitCodebooksWithErr]]); encoding is one codegen'd
    * map pass against the codebook literal over EVERY vector
    * (assignment is never sampled). Driver memory: the sample —
    * fitSampleRows × d doubles, [[lloydFit]]'s envelope.
    *
    * Returns (codebooks as (subspace, codeword, centroid), encoded
    * (id, codes) with `codes` the packed long). Zero-norm vectors are
    * excluded (they have no cosine to any query; [[graft.operators
    * .CorpusStats.embeddingAudit]] is the upstream gate). */
  def pqIndex(
      corpus: DataFrame, id: Column, vec: Column,
      m: Int, ksub: Int, iters: Int,
      fitSampleRows: Long = PqFitSampleRowsDefault)
      : (Seq[(Int, Int, Array[Double])], DataFrame) = {
    val cbs = fitCodebooks(
      fitSampleOf(
        unitNormalized(corpus, id, vec).select(col("id"), col("u").as("w")),
        fitSampleRows),
      m, ksub, iters)
    // Encode through the SAME derived-ksub definition as pqTopK's
    // decode and appendToPqIndex's growth encode — all three derive
    // the packing width from the codebooks (max codeword + 1), so
    // they can never disagree on bit layout. If k-means loss killed
    // the TOP codewords down past a power-of-2 boundary, this throws
    // loudly at BUILD time (pqTopK would throw on such an index
    // anyway) instead of packing at a width the decoder won't use.
    (cbs, pqEncode(corpus, id, vec, cbs))
  }

  /** The deterministic PQ codebook fit over an arbitrary vector frame
    * (id, w) — [[pqIndex]]'s Lloyd schedule factored out so
    * [[ivfPqFitCodebooks]] can run it on RESIDUALS: init from the
    * first `ksub` ids' subvectors (deterministic, partition-invariant),
    * then `iters` rounds of L2 assignment and 6-dp-rounded per-(j, cl,
    * dim) means — driver-side on the bounded sample, see
    * [[fitCodebooksWithErr]]. */
  /** [[ivfIndex]]'s `fitSampleRows` default, shared by the PQ fits —
    * codebook ESTIMATES converge with a representative sample (the
    * FAISS training-buffer convention), so past this bound extra rows
    * buy per-iteration cost, not quality. Every local test corpus
    * sits far under it, so the default changes nothing at test scale
    * while bounding the fit at 100 TB. */
  val PqFitSampleRowsDefault: Long = 100000L

  /** The deterministic bounded fit sample — [[ivfIndex]]'s exact
    * discipline applied to the PQ fits: the `fitSampleRows` smallest
    * (xxhash64(id), id) values, one TakeOrderedAndProject —
    * hash-ordered so the bound is UNBIASED when ids correlate with
    * ingest time, partition-invariant because the hash is a pure
    * function of the id. The fit collects this frame
    * ([[fitCodebooksWithErr]]'s driver-side Lloyd), so the bound sizes
    * BOTH the per-fit scan and driver memory — exactly [[ivfIndex]]'s
    * own sample contract (the round-19 repartition re-spread fed the
    * since-removed distributed fit and would now only add an exchange
    * before the collect). `fitSampleRows ≤ 0` disables sampling; the
    * ENCODE pass always covers every vector either way. */
  private def fitSampleOf(un: DataFrame, fitSampleRows: Long): DataFrame =
    if (fitSampleRows <= 0) {
      // Disabled sampling still ends in a DRIVER COLLECT
      // ([[fitCodebooksWithErr]]), so an unbounded input is a driver
      // OOM, not a slow fit (round-21 VERDICT item). Hard-cap the path:
      // one count (this branch only — the default sampled path pays
      // nothing) against `graft.fit.maxCollectRows` (default 10M rows —
      // ~5 GB at d=64 doubles; size to the driver alongside
      // fitSampleRows itself).
      val cap = un.sparkSession.conf.getOption("graft.fit.maxCollectRows")
        .flatMap(_.toLongOption).getOrElse(10000000L)
      val n = un.count()
      require(n <= cap,
        s"fitSampleRows <= 0 (sampling disabled) would collect $n rows " +
          s"to the driver, over the graft.fit.maxCollectRows cap of $cap" +
          " — set a positive fitSampleRows (the bounded-sample fit is " +
          "the scale path) or raise the cap if the driver truly has " +
          "the memory")
      un
    } else
      un.orderBy(xxhash64(col("id")), col("id"))
        .limit(math.min(fitSampleRows, Int.MaxValue.toLong).toInt)

  private def fitCodebooks(
      un: DataFrame, m: Int, ksub: Int,
      iters: Int): Seq[(Int, Int, Array[Double])] =
    fitCodebooksWithErr(un, m, ksub, iters, withErr = false)._1

  /** [[fitCodebooks]] plus (when `withErr`) the mean per-subspace
    * quantization error of the FINAL codebooks on the fit data — the
    * measured quantity [[ivfPqFitCodebooks]]'s auto mode compares
    * between the raw and residual conventions (the per-row ADC error
    * for inner-product ranking is ⟨q, target − target̂⟩, so the
    * smaller error norm is the better codebook set in expectation).
    *
    * DRIVER-SIDE fit (round 20) — [[lloydFit]]'s own doctrine applied
    * to the PQ codebooks: the fit input is sample-bounded BY DESIGN
    * ([[fitSampleOf]], the FAISS training-buffer convention), so the
    * fit collects it once and runs the deterministic Lloyd schedule on
    * the driver — the distributed form paid ~4 Spark jobs per fit plus
    * one broadcast-join + shuffle PER ITERATION to move m·ksub·dsub
    * parameter-sized aggregates (measured 1.4–2.2 s per composed fit
    * at sf0.1, R20Split6, ~90% scheduling floor), and its partial
    * aggregation made the means partition-layout-dependent (absorbed
    * by the 6-dp rounding — the r16 q191 risk class [[lloydFit]]
    * already banned for centroids). Driver memory envelope =
    * [[lloydFit]]'s: fitSampleRows × d doubles. `fitSampleRows ≤ 0`
    * (sampling disabled) collects the whole corpus — size the bound to
    * the driver exactly as for [[ivfIndex]].
    *
    * Semantics preserved operation for operation: per-row dsub =
    * ⌊width/m⌋ slices; init = the ksub smallest ids' subvectors, cl in
    * id order; assignment = (round6 d2, cl) argmin with
    * length-mismatch d2 sorting smallest ([[l2AssignHof]]'s struct-min,
    * [[graft.expressions.L2ArgminCode]]'s arithmetic); recompute =
    * per-(cl, dim) means over members (round(sum/count, 6) — the sum
    * now in id order, deterministic, where the distributed fit's
    * partial-agg order varied); clusters that lose every member drop
    * out. Subspaces are independent — the loop parallelizes across j
    * with disjoint state (the [[lloydFitImpl]] discipline), bit-equal
    * to the sequential schedule by construction. */
  private def fitCodebooksWithErr(
      un: DataFrame, m: Int, ksub: Int,
      iters: Int, withErr: Boolean = true)
      : (Seq[(Int, Int, Array[Double])], Double) = {
    require(ksub >= 2 && (ksub & (ksub - 1)) == 0, "ksub must be a power of 2")
    val bits = java.lang.Integer.numberOfTrailingZeros(ksub)
    require(m * bits <= 64, s"m*log2(ksub)=${m * bits} exceeds one long")

    // One bounded collect, id-sorted so every fold below has one
    // deterministic order (the ivfIndex sample discipline).
    val sample: Array[Array[Double]] = un.select(col("id"), col("w"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
    if (sample.isEmpty) return (Seq.empty, 0.0)
    // Validated against the first (smallest-id) vector, as the old
    // init-row check did: dsub = ⌊d/m⌋ slices cover only m·dsub
    // components, so a non-divisible dim would silently drop the
    // trailing d % m dimensions from ADC scoring while the exact
    // rerank uses the full vector — recall would degrade with no error.
    val d0 = sample.head.length
    require(d0 % m == 0,
      s"vector dim $d0 is not divisible by m=$m (trailing ${d0 % m} " +
        "dims would be ignored by ADC scoring)")

    def round6(v: Double): Double =
      java.math.BigDecimal.valueOf(v)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    // Per-row slice width — the old fit's per-row dsub expression: a
    // ragged row yields short subvectors whose length-mismatched d2 is
    // null and sorts smallest (L2ArgminCode's contract).
    def subOf(w: Array[Double], j: Int): Array[Double] = {
      val dsub = w.length / m
      java.util.Arrays.copyOfRange(w, j * dsub, j * dsub + dsub)
    }
    def argmin(cands: IndexedSeq[(Int, Array[Double])],
        sub: Array[Double]): Int = {
      var bestCl = 0; var bestD2 = 0.0
      var bestNull = false; var found = false
      cands.foreach { case (cl, c) =>
        var d2 = 0.0
        val isNull = c.length != sub.length
        if (!isNull) {
          var i = 0
          while (i < sub.length) { val t = sub(i) - c(i); d2 += t * t; i += 1 }
          d2 = round6(d2)
        }
        val lt =
          if (!found) true
          else if (isNull && bestNull) cl < bestCl
          else if (isNull) true
          else if (bestNull) false
          else {
            val cc = java.lang.Double.compare(d2, bestD2)
            if (cc != 0) cc < 0 else cl < bestCl
          }
        if (lt) { bestCl = cl; bestD2 = d2; bestNull = isNull; found = true }
      }
      bestCl
    }

    // init: the ksub smallest ids' subvectors, cl in id order (the
    // sample is id-sorted, so positions 0..nInit-1 ARE those rows).
    val nInit = math.min(ksub, sample.length)
    var cbs: Array[IndexedSeq[(Int, Array[Double])]] =
      Array.tabulate(m)(j =>
        (0 until nInit).map(cl => cl -> subOf(sample(cl), j)))

    for (_ <- 1 to iters) {
      val next = new Array[IndexedSeq[(Int, Array[Double])]](m)
      java.util.stream.IntStream.range(0, m).parallel().forEach { j =>
        val cands = cbs(j)
        // per-(cl, dim) sums and counts, members folded in id order;
        // per-dim counts because a ragged row contributes only its own
        // dims (the posexplode grouping's semantics).
        val sums = collection.mutable.LinkedHashMap
          .empty[Int, collection.mutable.ArrayBuffer[Double]]
        val counts = collection.mutable.Map
          .empty[Int, collection.mutable.ArrayBuffer[Long]]
        sample.foreach { w =>
          val sub = subOf(w, j)
          val cl = argmin(cands, sub)
          val s = sums.getOrElseUpdate(cl,
            collection.mutable.ArrayBuffer.empty[Double])
          val n = counts.getOrElseUpdate(cl,
            collection.mutable.ArrayBuffer.empty[Long])
          var i = 0
          while (i < sub.length) {
            if (i >= s.length) { s += 0.0; n += 0L }
            s(i) += sub(i); n(i) += 1L
            i += 1
          }
        }
        next(j) = sums.keys.toIndexedSeq.sorted.map { cl =>
          val s = sums(cl); val n = counts(cl)
          cl -> Array.tabulate(s.length)(i => round6(s(i) / n(i)))
        }
      }
      cbs = next
    }
    val out: Seq[(Int, Int, Array[Double])] =
      (0 until m).flatMap(j => cbs(j).map { case (cl, c) => (j, cl, c) })
    val err =
      if (!withErr) 0.0
      else {
        // mean over all (row × subspace) pairs of the min per-candidate
        // round6(d2) — null (length-mismatch) distances skipped, rows
        // whose every candidate is null skipped, exactly like the old
        // array_min + avg; fold order: subspace-major, rows in id order.
        var sum = 0.0; var n = 0L
        var j = 0
        while (j < m) {
          val cands = cbs(j)
          sample.foreach { w =>
            val sub = subOf(w, j)
            var best = Double.NaN; var any = false
            cands.foreach { case (_, c) =>
              if (c.length == sub.length) {
                var d2 = 0.0; var i = 0
                while (i < sub.length) {
                  val t = sub(i) - c(i); d2 += t * t; i += 1
                }
                d2 = round6(d2)
                if (!any || d2 < best) { best = d2; any = true }
              }
            }
            if (any) { sum += best; n += 1L }
          }
          j += 1
        }
        if (n == 0) 0.0 else round6(sum / n)
      }
    (out, err)
  }

  /** L2 argmin against a candidate array<struct(cl, c)>: min over
    * (round(||sub-c||², 6), cl) structs — deterministic tie-break. The
    * ONE assignment definition shared by PQ training, PQ encode (build
    * and append) and IVF frozen-centroid assignment, so an appended
    * row is coded exactly as the original build would have coded it.
    * Native codegen'd expression ([[graft.expressions.L2ArgminCode]] —
    * the [[graft.expressions.FloatVecDot]] discipline): the HOF
    * composition below is CodegenFallback and allocates an
    * intermediate array per (row × candidate) — m·ksub = 256 per
    * encoded row at the composed family's geometry. Bit-equal by
    * construction and gated in `ExpressionCodegenSpec`. */
  private def l2Assign(cands: Column, sub: Column): Column =
    graft.expressions.L2ArgminCode.argmin(cands, sub)

  /** The pre-native HOF formulation of [[l2Assign]] — retained ONLY as
    * the equality oracle for [[graft.expressions.L2ArgminCode]]'s spec
    * (the [[graft.functions.VectorFunctions.hyperplaneBucketHof]]
    * convention). */
  private[graft] def l2AssignHof(cands: Column, sub: Column): Column =
    array_min(transform(cands, ct => struct(
      round(aggregate(zip_with(sub, ct.getField("c"),
        (a, b) => (a - b) * (a - b)), lit(0.0d), (acc, x) => acc + x),
        6).as("d2"),
      ct.getField("cl").as("cl")))).getField("cl")

  /** Encode vectors against FROZEN codebooks — the shared definition
    * behind [[pqIndex]]'s build-time encode and [[appendToPqIndex]]'s
    * growth path (the [[graft.operators.Dedup]] `shingleRel` sharing
    * discipline: append rows are byte-identical to what the original
    * build would have produced). Unit-normalize, per-subspace L2 argmin
    * against the codebook literal, bit-pack into one long; one
    * codegen'd map pass, no shuffle. `ksub` is derived as
    * max codeword + 1 exactly like [[pqTopK]] does — build encode,
    * append encode and ADC decode all share this one derivation, so
    * the packed bit width can never diverge between the durable
    * table's existing rows and an appended shard; an index whose TOP
    * codeword died in training fails the same power-of-2 require in
    * all three places. */
  def pqEncode(
      vecs: DataFrame, id: Column, vec: Column,
      codebooks: Seq[(Int, Int, Array[Double])]): DataFrame =
    unitNormalized(vecs, id, vec)
      .select(col("id"), packedCodesCol(col("u"), codebooks).as("codes"))

  /** Unit-normalize to (id, u), excluding zero-norm vectors (no cosine
    * to any query — the PQ-family contract; [[graft.operators
    * .CorpusStats.embeddingAudit]] is the upstream gate). The shared
    * head of [[pqEncode]] and [[ivfPqEncode]]. */
  private def unitNormalized(
      vecs: DataFrame, id: Column, vec: Column): DataFrame =
    vectors(Dedup.spread(vecs), id, vec)
      .filter(col("nrm") > 0)
      .select(col("id"), col("v"),
        transform(col("v"), x => x.cast("double") / col("nrm")).as("u"))

  /** The bit-packed PQ code EXPRESSION over a unit-normalized vector —
    * [[pqEncode]]'s body and [[ivfPqEncode]]'s code half share it
    * (with [[pqTopK]]'s decode, via the same max-codeword-derived ksub,
    * that is every producer and consumer of the bit layout on one
    * definition). */
  private def packedCodesCol(
      u: Column, codebooks: Seq[(Int, Int, Array[Double])]): Column = {
    val ksub = codebooks.map(_._2).max + 1
    require(ksub >= 2 && (ksub & (ksub - 1)) == 0, "ksub must be a power of 2")
    val m = codebooks.map(_._1).max + 1
    val bits = java.lang.Integer.numberOfTrailingZeros(ksub)
    val dsubCol = (size(u) / m).cast("int")
    val cbLit = array((0 until m).map { j =>
      array(codebooks.filter(_._1 == j).map { case (_, cl, c) =>
        struct(lit(cl).as("cl"), typedLit(c.toSeq).as("c"))
      }: _*)
    }: _*)
    (0 until m).map { j =>
      shiftleft(
        l2Assign(element_at(cbLit, j + 1),
          slice(u, lit(j) * dsubCol + 1, dsubCol)).cast("long"),
        j * bits)
    }.reduce(_ bitwiseOR _)
  }

  /** PQ asymmetric-distance top-k (ADC): score every packed code row
    * with a driver-built lookup table (lut[j][c] = ⟨query subvector,
    * codeword⟩ — m·ksub doubles, a literal), keep the `rerankN` best by
    * approximate inner product, then rerank ONLY those with the exact
    * cosine against the true vectors (`corpus` join) and return the
    * top k — (id, sim) in [[bruteForceTopK]]'s exact output contract.
    *
    * The scan touches one long + one m-term LUT sum per row (codegen'd
    * bit-extract + array lookups, no shuffle); the corpus's float
    * vectors are read only for the rerankN survivors. `rerankN ≥ |corpus|`
    * degenerates to exact brute force BY CONSTRUCTION (every row
    * survives to the exact rerank) — the q89 completeness gate; finite
    * rerankN trades recall for the 32× smaller scan.
    *
    * EAGERNESS: at `rerankN ≤` [[RerankIsinMax]] the shortlist ids are
    * collected at CONSTRUCTION time (one bounded job) so the rerank
    * reaches the corpus scan as a pushed `id IN (…)` filter — the
    * returned frame is not fully lazy, and the shortlist is frozen as
    * of this call. Above the bound the frame is lazy end to end (the
    * join fetch form). */
  def pqTopK(
      codebooks: Seq[(Int, Int, Array[Double])], encoded: DataFrame,
      corpus: DataFrame, id: Column, vec: Column,
      queryVec: Array[Float], k: Int, rerankN: Int): DataFrame = {
    val shortlist = encoded
      .select(col("id"), adcApproxCol(codebooks, queryVec).as("approx"))
      .orderBy(desc("approx"), asc("id"))
      .limit(rerankN)
    exactRerank(shortlist, corpus, id, vec, queryVec, k, rerankN)
  }

  /** The ADC scoring EXPRESSION over a packed `codes` column: the
    * query is pre-multiplied against every codeword on the driver
    * (lut[j][c] = ⟨query subvector, codeword⟩ — m·ksub doubles, a
    * literal), so scoring a row is m codegen'd bit-extracts + LUT adds.
    * THE one decode definition — [[pqTopK]] and [[ivfPqTopK]] route
    * through it, deriving ksub from the codebooks exactly like
    * [[packedCodesCol]]'s encode, so bit layouts cannot diverge.
    *
    * `offset` is the composed family's residual correction
    * ([[ivfPqTopK]]): codes there quantize `u − ĉ(list)`, so the LUT
    * sum estimates ⟨q, r⟩ and the per-list constant ⟨q, ĉ(list)⟩ is
    * added back BEFORE the 6-dp round — `⟨q, u⟩ ≈ ⟨q, ĉ⟩ + ⟨q, r̂⟩`.
    * `None` (the raw-PQ family) leaves the expression bit-identical
    * to the offset-free form. */
  private def adcApproxCol(
      codebooks: Seq[(Int, Int, Array[Double])],
      queryVec: Array[Float],
      offset: Option[Column] = None): Column = {
    val m = codebooks.map(_._1).max + 1
    val ksub = codebooks.map(_._2).max + 1
    require((ksub & (ksub - 1)) == 0, "ksub must be a power of 2")
    val bits = java.lang.Integer.numberOfTrailingZeros(ksub)
    val dsub = codebooks.head._3.length
    val lut: Seq[Seq[Double]] = (0 until m).map { j =>
      (0 until ksub).map { c =>
        codebooks.find(p => p._1 == j && p._2 == c) match {
          case Some((_, _, cw)) =>
            var s = 0.0; var i = 0
            while (i < dsub) { s += queryVec(j * dsub + i) * cw(i); i += 1 }
            s
          case None => Double.NegativeInfinity // codeword died in training:
          // unreachable at scoring time (encode never assigns it), the
          // -inf keeps an accidental hit from ever ranking.
        }
      }
    }
    val lutLit = typedLit(lut)
    val lutSum = (0 until m).map { j =>
      element_at(element_at(lutLit, j + 1),
        shiftright(col("codes"), j * bits)
          .bitwiseAND(lit((ksub - 1).toLong)).cast("int") + 1)
    }.reduce(_ + _)
    round(offset.fold(lutSum)(lutSum + _), 6)
  }

  /** The [m][ksub][dsub] codebook constant [[graft.expressions
    * .PqAdcScore]] scores against — dead codewords NegativeInfinity-
    * filled exactly like the literal array the HOF chain indexed (an
    * accidental hit can never rank). */
  private def adcCbData(
      codebooks: Seq[(Int, Int, Array[Double])]): Array[Array[Array[Double]]] = {
    val m = codebooks.map(_._1).max + 1
    val ksub = codebooks.map(_._2).max + 1
    val dsub = codebooks.head._3.length
    (0 until m).map { j =>
      (0 until ksub).map { c =>
        codebooks.find(p => p._1 == j && p._2 == c).map(_._3)
          .getOrElse(Array.fill(dsub)(Double.NegativeInfinity))
      }.toArray
    }.toArray
  }

  /** The pre-native HOF formulation of the batch ADC sum — retained
    * ONLY as the equality oracle for [[graft.expressions.PqAdcScore]]'s
    * spec (the [[l2AssignHof]] convention). */
  private[graft] def adcLutSumHof(
      codebooks: Seq[(Int, Int, Array[Double])],
      qv: Column, codes: Column): Column = {
    val m = codebooks.map(_._1).max + 1
    val ksub = codebooks.map(_._2).max + 1
    val bits = java.lang.Integer.numberOfTrailingZeros(ksub)
    val dsub = codebooks.head._3.length
    val cbArr = array((0 until m).map { j =>
      array((0 until ksub).map { c =>
        typedLit(codebooks.find(p => p._1 == j && p._2 == c)
          .map(_._3.toSeq)
          .getOrElse(Seq.fill(dsub)(Double.NegativeInfinity)))
      }: _*)
    }: _*)
    (0 until m).map { j =>
      val cw = element_at(element_at(cbArr, j + 1),
        shiftright(codes, j * bits)
          .bitwiseAND(lit((ksub - 1).toLong)).cast("int") + 1)
      ddot(transform(slice(qv, j * dsub + 1, dsub), _.cast("double")), cw)
    }.reduce(_ + _)
  }

  /** Past this shortlist size the rerank keeps the join form: an
    * `id IN (…)` literal of 10⁵+ entries bloats the plan more than the
    * join costs. Under it, the ids collect (one rerankN-bounded job —
    * the scalar-subquery class) and reach the corpus SCAN as a pushed
    * filter: the rerank becomes a pruned point-fetch instead of a
    * corpus-streaming join — measured 0.47 → 0.32 s against a 529 MB
    * vector table even WITHOUT an id-clustered layout (no join build,
    * fewer decoded rows), and with row-group stats on `id` (sorted or
    * z-ordered corpus — the 100 TB landing convention) it prunes to
    * the touched row groups. */
  private val RerankIsinMax = 8192

  /** The exact-rerank TAIL shared by [[pqTopK]] and [[ivfPqTopK]]: the
    * shortlist's full-dimension vectors are fetched BY ID from the
    * corpus — as a pushed `id IN (…)` scan filter when the shortlist
    * is parameter-sized ([[RerankIsinMax]]), as a join above it — at
    * 100 TB this is the ONLY touch of the float vectors. Scored with
    * the exact 4-dp cosine against the query, top-k out in
    * [[bruteForceTopK]]'s (id, sim) contract. Both fetch forms read
    * the identical row set (the shortlist's ids), so results are
    * bit-equal by construction. */
  private def exactRerank(
      shortlist: DataFrame, corpus: DataFrame, id: Column, vec: Column,
      queryVec: Array[Float], k: Int, rerankN: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val vecs = vectors(corpus, id, vec)
    val fetched =
      if (rerankN <= RerankIsinMax) {
        val ids = shortlist.select(col("id")).collect().map(_.getLong(0))
        if (ids.isEmpty) vecs.filter(lit(false))
        else vecs.filter(col("id").isin(ids.toSeq: _*))
      } else shortlist.join(vecs, "id")
    scoreQuery(fetched, Seq(Tuple1(queryVec)).toDF("qv"), k)
  }

  /** Per-group embedding centroids: mean vector over each `group`'s
    * rows, as `array<double>`.
    *
    * Scale shape: posexplode → (group, dim) hash aggregation — partial
    * aggregation reduces the shuffle to ≤ |groups|·d rows per input
    * partition regardless of corpus size — then |groups| tiny rows are
    * reassembled into arrays with a sort-by-dim collect. No driver
    * collect; the result is broadcast-sized by construction.
    *
    * Cross-engine floats: each component is a cross-row double sum whose
    * order is engine-dependent, so components are rounded to 6 dp here
    * (and identically in oracle SQL) — downstream cosines then consume
    * bit-identical centroids on either engine. */
  def groupCentroids(df: DataFrame, group: Column, vec: Column): DataFrame =
    df.select(group.as("group"), posexplode(vec).as(Seq("dim", "x")))
      .groupBy(col("group"), col("dim"))
      .agg(round(sum(col("x").cast("double")) / count(lit(1)), 6).as("m"))
      .groupBy(col("group"))
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("m")))),
        s => s.getField("m")).as("centroid"))

  /** Cosine of every row against its own group's centroid — the
    * embedding-space outlier/quality score of a curation pipeline (rows
    * far from their language/domain centroid are mislabeled or noise).
    * Output: (id, group, score), score rounded to 4 dp.
    *
    * One aggregation pass builds the centroids ([[groupCentroids]]),
    * which broadcast-join back on the group key: the corpus itself is
    * never shuffled. The dot/norm folds run in index order in double
    * (zip_with + sequential aggregate, same association as
    * [[VectorFunctions.cosine]]), mirrored in oracle SQL. */
  def centroidCosineScores(
      df: DataFrame, id: Column, group: Column, vec: Column): DataFrame = {
    val cents = groupCentroids(df, group, vec)
    val dotCol = {
      val prods = zip_with(col("v"), col("centroid"),
        (a, b) => a.cast("double") * b)
      aggregate(prods, lit(0.0d), (acc, x) => acc + x)
    }
    val vNormSq = aggregate(
      transform(col("v"), a => a.cast("double") * a.cast("double")),
      lit(0.0d), (acc, x) => acc + x)
    val cNormSq = aggregate(
      transform(col("centroid"), b => b * b), lit(0.0d), (acc, x) => acc + x)
    df.select(id.as("id"), group.as("group"), vec.as("v"))
      .join(broadcast(cents), "group")
      .withColumn("score",
        round(dotCol / (sqrt(vNormSq) * sqrt(cNormSq)), 4))
      .select(col("id"), col("group"), col("score"))
  }

  /** Label-noise screen (confident-learning-lite): score every vector
    * against ALL label centroids and flag the rows whose best-matching
    * centroid is NOT their own label — the classic mislabeled-example
    * candidates of a labeled-embedding QA pass, with the
    * best-versus-own margin as the triage order. Complements
    * [[centroidCosineScores]] (distance from OWN centroid finds
    * outliers; cross-centroid argmax finds plausible RELABELS).
    *
    * Output: (id, label, best_label, own_score, best_score, margin)
    * for flagged rows only, margin = best − own rounded at 4 dp,
    * deterministic (argmax ties break on the smaller label; scores are
    * 4-dp-rounded before comparison so engines agree on the argmax
    * itself).
    *
    * Scale shape: the centroid table is one aggregation pass
    * (|labels|·dim rows), broadcast; every vector scores |labels|
    * centroids in one projection — a |labels|-row broadcast cross, the
    * corpus shuffles only for the per-id argmax aggregation, keyed on
    * (id, label), which AQE-coalesces to the id hash. At thousands of
    * labels, pre-reduce with an ANN shortlist over the centroid table;
    * at the 10–100-label regime this exhaustive form IS the scale
    * path. */
  def labelNoiseScreen(
      df: DataFrame, id: Column, label: Column, vec: Column): DataFrame = {
    val cents = groupCentroids(df, label, vec)
    val dotCol = {
      val prods = zip_with(col("v"), col("centroid"),
        (a, b) => a.cast("double") * b)
      aggregate(prods, lit(0.0d), (acc, x) => acc + x)
    }
    val vNormSq = aggregate(
      transform(col("v"), a => a.cast("double") * a.cast("double")),
      lit(0.0d), (acc, x) => acc + x)
    val cNormSq = aggregate(
      transform(col("centroid"), b => b * b), lit(0.0d), (acc, x) => acc + x)
    Dedup.spread(df).select(id.as("id"), label.as("lbl"), vec.as("v"))
      .crossJoin(broadcast(cents))
      .withColumn("score",
        round(dotCol / (sqrt(vNormSq) * sqrt(cNormSq)), 4))
      .groupBy(col("id"), col("lbl"))
      .agg(
        min(struct((-col("score")).as("ns"), col("group").as("g")))
          .as("best"),
        max(when(col("group") === col("lbl"), col("score"))).as("own_score"))
      .select(col("id"), col("lbl").as("label"),
        col("best.g").as("best_label"),
        col("own_score"),
        (-col("best.ns")).as("best_score"))
      .filter(col("best_label") =!= col("label"))
      .withColumn("margin", round(col("best_score") - col("own_score"), 4))
      .orderBy(desc("margin"), asc("id"))
  }

  /** Truncated-dimension recall audit (the Matryoshka/MRL storage
    * decision table): for each prefix dimensionality `d` in `dims`,
    * exact cosine top-`k` using only the vectors' FIRST `d` components,
    * scored against the full-dimension top-`k` as ground truth —
    * "how much recall do we keep if we store only d dims per vector?".
    * The answer decides the dominant storage/bandwidth knob of an
    * embedding pipeline (a 64→16 truncation is a 4× cut on every scan
    * downstream). Output: (dim, recall), recall = |top_d ∩ top_full|
    * over the ACTUAL truth-list size (= k when the corpus has at least
    * k rows, fewer otherwise), rounded to 4 dp; the full dimension
    * itself appears as the recall=1 control row when included in
    * `dims` — including on a sub-k corpus, which a literal-k
    * denominator would misreport as recall < 1.
    *
    * Scale shape: one [[bruteForceTopK]] per probed dimension — each a
    * single corpus scan over a PREFIX slice (columnar float arrays:
    * the slice is allocation-bounded by d, and at production scale the
    * truncated column would be materialized once, [[randomProjection]]
    * discipline) into a TakeOrderedAndProject; the recall joins touch
    * k-row frames only. */
  def truncatedDimRecall(
      corpus: DataFrame, id: Column, vec: Column, query: DataFrame,
      dims: Seq[Int], k: Int): DataFrame = {
    require(dims.nonEmpty, "need at least one probe dimension")
    val fullTruth = bruteForceTopK(corpus, id, vec, query, k)
      .select(col("id"))
    // Denominator is the ACTUAL ground-truth list size, not the literal
    // k: a corpus with fewer than k rows yields truth lists shorter than
    // k, and dividing by k would report recall < 1 even for the
    // full-dimension control row. 1-row broadcast, q22's scalar shape.
    val truthN = fullTruth.agg(count(lit(1)).as("__truth_n"))
    dims.map { d =>
      val topD = bruteForceTopK(
        corpus.select(id.as("__tid"), slice(vec, 1, d).as("__tv")),
        col("__tid"), col("__tv"),
        query.select(slice(col("qv"), 1, d).as("qv")), k)
      topD.join(fullTruth, Seq("id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .crossJoin(broadcast(truthN))
        .select(lit(d).as("dim"),
          round(col("hits").cast("double") / col("__truth_n").cast("double"),
            4).as("recall"))
    }.reduce(_ unionAll _).orderBy(asc("dim"))
  }

  /** The deterministic ±1 entry (outRow, inCol) of the random-projection
    * matrix: +1 iff the first hex digit of md5("`seed`_i_j") is even —
    * the library's engine-portable md5 discipline ([[Split]]'s split
    * tag / hash fraction), so an oracle (or another engine) rebuilds the
    * IDENTICAL matrix from the seed alone. */
  private[graft] def rpSign(seed: String, i: Int, j: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${seed}_${i}_${j}".getBytes("UTF-8"))
    if (((d(0) >> 4) & 1) == 0) 1.0 else -1.0
  }

  /** Johnson–Lindenstrauss dimensionality reduction with a dense ±1
    * sign matrix (Achlioptas 2003's database-friendly variant, signs
    * from [[rpSign]]): out[i] = round(Σ_j v[j]·s(i,j) / √outDim, 6).
    *
    * The matrix is an outDim·inDim LITERAL baked into the plan — the
    * projection is a pure codegen'd map over the corpus: zero shuffle,
    * zero join, no per-row hashing (signs are row-independent, so they
    * are computed ONCE on the driver, not n·k·d times on executors).
    * Each component folds products left-to-right in double via
    * zip_with + sequential aggregate — the same association order as
    * DuckDB's `list_reduce`, and 0.0+x ≡ x in IEEE, so the 6-dp round
    * is engine-reproducible, the [[groupCentroids]] discipline.
    *
    * At scale this is the write-once column that makes everything
    * downstream cheaper: materialize (id, pv) next to the corpus and
    * ANN shortlists ([[projectedTopK]]), clustering, and dedup probes
    * scan outDim doubles instead of inDim — a d/outDim bandwidth cut
    * on every subsequent pass. Output: (id, pv: array&lt;double&gt;). */
  def randomProjection(
      corpus: DataFrame, id: Column, vec: Column,
      inDim: Int, outDim: Int, seed: String = "rp"): DataFrame =
    Dedup.spread(corpus)
      .select(id.cast("long").as("id"), vec.as("v"))
      .select(col("id"), projectedVec(col("v"), inDim, outDim, seed)
        .as("pv"))

  /** The [[randomProjection]] column expression on its own — the same
    * seeded ±1 sign literal, fold order, 6-dp round, and wrong-dim →
    * null guard — so operators that need the projection NEXT TO other
    * columns ([[hardNegativesShortlist]] carries the label through)
    * project inline instead of paying a corpus-sized id join against
    * randomProjection's (id, pv) output. */
  private[graft] def projectedVec(
      v: Column, inDim: Int, outDim: Int, seed: String): Column = {
    require(inDim >= 1 && outDim >= 1, "dims must be positive")
    val scale = math.sqrt(outDim.toDouble)
    val rows = (0 until outDim).map { i =>
      typedLit((0 until inDim).map(j => rpSign(seed, i, j)))
    }
    val pv = array(rows.map { signs =>
      round(
        aggregate(
          zip_with(v, signs, (a, s) => a.cast("double") * s),
          lit(0.0d), (acc, x) => acc + x) / lit(scale), 6)
    }: _*)
    when(size(v) === inDim, pv)
  }

  /** Sign-bucket layout audit for the projected space: bucket every
    * vector by the SIGN PATTERN of its [[randomProjection]] coordinates
    * (bit i set ⟺ pv_i ≥ 0 — md5-seeded hyperplane LSH in the reduced
    * space, so unlike the Murmur3 [[bucketize]] path it is
    * oracle-expressible), then report the one-row index-health summary
    * every ANN deployment watches:
    *
    *   - n_vectors / n_skipped (wrong-dimension rows bucket nowhere),
    *   - n_buckets, max_size, mean_size (4 dp),
    *   - imbalance = max/mean (4 dp) — 1.0 is a perfectly level index,
    *   - probe_cost = Σ size² / N² (6 dp) — the expected fraction of
    *     the corpus a single-probe query scans when queries distribute
    *     like the corpus; the number that says whether the index
    *     actually prunes.
    *
    * Scale shape: one projection scan (the 16-fold literal map), one
    * hash aggregate on the bucket id, one bucket-cardinality-sized
    * summary aggregate. Σ size² accumulates as a long — exact in both
    * engines at any realistic bucket census (overflow needs a single
    * bucket past ~3 · 10⁹ vectors; shard the audit per partition
    * before that point). */
  def rpBucketAudit(
      corpus: DataFrame, id: Column, vec: Column,
      inDim: Int, outDim: Int, seed: String = "rp"): DataFrame = {
    require(outDim <= 62, "outDim must fit a long's sign-bit budget")
    val proj = randomProjection(corpus, id, vec, inDim, outDim, seed)
    // Statically unrolled sign-bit sum (outDim is a literal): each term
    // is a constant shift, the whole bucket id constant-folds into one
    // codegen'd projection — no HOF, no per-row lambda allocation.
    val bucketBits = (0 until outDim).map { i =>
      when(element_at(col("pv"), i + 1) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    val bucketed = proj.withColumn("bucket", bucketBits)
    val skipped = proj.agg(
      sum(when(col("pv").isNull, 1L).otherwise(0L)).as("n_skipped"))
    val sizes = bucketed.filter(col("pv").isNotNull)
      .groupBy(col("bucket")).agg(count(lit(1)).as("sz"))
    sizes.agg(
        sum(col("sz")).as("n_vectors"),
        count(lit(1)).as("n_buckets"),
        max(col("sz")).as("max_size"),
        sum(col("sz") * col("sz")).as("__sumsq"))
      .crossJoin(broadcast(skipped))
      .select(
        col("n_vectors"), col("n_skipped"), col("n_buckets"),
        col("max_size"),
        round(col("n_vectors").cast("double") /
          col("n_buckets").cast("double"), 4).as("mean_size"),
        round(col("max_size").cast("double") * col("n_buckets").cast("double") /
          col("n_vectors").cast("double"), 4).as("imbalance"),
        round(col("__sumsq").cast("double") /
          (col("n_vectors") * col("n_vectors")).cast("double"), 6)
          .as("probe_cost"))
  }

  /** ANN through the projected space: exact cosine in outDim doubles
    * picks a `shortlist`-sized candidate set (TakeOrderedAndProject —
    * never a global sort), then the candidates alone are re-scored with
    * EXACT full-dimension cosine and the top `k` survive. Same
    * completeness gate as [[pqTopK]]'s rerank: `shortlist ≥ |corpus|`
    * degenerates to exact brute force by construction.
    *
    * Scale shape: the scan side touches only the projected column (the
    * inDim/outDim bandwidth cut — with outDim = 16 on a 1536-dim
    * production embedding that is 96× less data per probe); the
    * full-dimension rerank reads `shortlist` rows via a broadcast
    * semi-join on id. Query projected once on the driver (1-row
    * collect), shipped as a literal. Output: (id, sim) — identical
    * contract to [[bruteForceTopK]]. */
  def projectedTopK(
      corpus: DataFrame, id: Column, vec: Column, query: DataFrame,
      inDim: Int, outDim: Int, shortlist: Int, k: Int,
      seed: String = "rp"): DataFrame =
    projectedTopKPrebuilt(corpus, id, vec,
      randomProjection(corpus, id, vec, inDim, outDim, seed),
      query, inDim, outDim, shortlist, k, seed)

  /** [[projectedTopK]] against an ALREADY-MATERIALIZED projected column
    * — the steady-state form the operator exists for: build the
    * (id, pv) frame once, land it as plain parquet beside the corpus
    * (no special layout needed — the probe IS a full scan of outDim
    * doubles, so columnar storage is already optimal; reload is
    * `spark.read.parquet`), probe many times. `projected` must be
    * [[randomProjection]]'s output under the same seed/dims. */
  def projectedTopKPrebuilt(
      corpus: DataFrame, id: Column, vec: Column, projected: DataFrame,
      query: DataFrame, inDim: Int, outDim: Int, shortlist: Int, k: Int,
      seed: String = "rp"): DataFrame = {
    require(shortlist >= k, "shortlist must be >= k")
    val c = Dedup.spread(corpus)
      .select(id.cast("long").as("id"), vec.as("v"))
    val qp = randomProjection(
      query.select(lit(0L).as("qid"), col("qv").as("v")),
      col("qid"), col("v"), inDim, outDim, seed)
      .collect()(0).getSeq[Double](1)
    val cand = projected
      .withColumn("psim", dcos(col("pv"), typedLit(qp)))
      .orderBy(desc("psim"), asc("id"))
      .limit(shortlist)
      .select(col("id"))
    scoreQuery(c.join(broadcast(cand), "id"), query, k, nrm = norm(col("v")))
  }
}
