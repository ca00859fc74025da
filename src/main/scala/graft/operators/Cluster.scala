package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Deterministic embedding clustering + SemDeDup-style semantic dedup.
  *
  * [[lloydKMeans]] is a from-scratch Lloyd iteration designed for two
  * properties MLlib's KMeans cannot give:
  *
  *   1. '''Cross-engine determinism''' — the init is the `k`
  *      smallest-id vectors (not a seeded sample), every centroid
  *      component is rounded to 6 dp after each recompute, and
  *      assignment compares cosines rounded to 6 dp with centroid-index
  *      tie-break, so a DuckDB oracle that unrolls the same iterations
  *      reproduces the assignment bit-for-bit (same discipline as
  *      [[Similarity.groupCentroids]]).
  *   2. '''Shuffle-free assignment''' — centroids are a k·d literal
  *      (k·d is a constant; 8×64 doubles here), so each assignment pass
  *      is one embarrassingly-parallel codegen'd scan: a `transform`
  *      over the centroid array + `array_min` over (−cos, idx) structs
  *      picks the argmax WITHOUT a cross join, a window, or any
  *      exchange. Per iteration the only shuffle is the (cluster, dim)
  *      partial aggregation for the recompute — ≤ k·d rows per input
  *      partition regardless of corpus size — and the only driver
  *      collect is the k·d centroid table itself.
  *
  * At 100 TB: `iters`+1 full scans (Lloyd is inherently iterative; cap
  * `iters` low, or fit on a sample via [[Similarity.ivfIndex]]'s
  * FAISS-convention sample-fit when centroid QUALITY, not a
  * deterministic contract, is the goal). Clusters that lose every
  * member simply drop out of the next literal (both engines recompute
  * centroids from surviving groups only).
  *
  * [[semanticDedup]] is the SemDeDup shape (Abbas et al. 2023): k-means
  * buckets bound the quadratic pair search — candidate pairs are
  * generated per cluster, so the pair volume is Σ|cluster|² instead of
  * n², with `k` chosen so clusters stay partition-sized. Within-cluster
  * cosine ≥ `threshold` edges resolve to connected components
  * ([[Dedup.resolveClusters]]); the survivor is the min id.
  *
  * Operating envelope (measured, `Q87Sweep` / BASELINE.md round 11):
  * k must SCALE with the corpus — fixed k=8 at 64× the corpus hit the
  * Σ|cluster|² wall (16× data from the prior point → 50× time). And
  * because the flat assignment is n·k·d per scan (and the plan grows
  * with k), past a few hundred centroids don't raise k further here:
  * coarse-quantize first ([[Similarity.ivfIndex]]'s sample-fit
  * two-level shape) and run this operator's deterministic machinery
  * within each posting list. The flat literal is the oracle-checkable
  * contract at moderate k, not the large-k fit.
  */
object Cluster {

  /** Cosine of a float-array column `v` against a double-array centroid
    * `c`: widen-to-double then sequential index-order folds — the exact
    * association of [[Similarity.centroidCosineScores]]'s scoring and
    * its oracle SQL. */
  private def cosVD(v: Column, c: Column): Column = {
    val dot = aggregate(zip_with(v, c, (a, b) => a.cast("double") * b),
      lit(0.0d), (acc, x) => acc + x)
    val vn = aggregate(transform(v, a => a.cast("double") * a.cast("double")),
      lit(0.0d), (acc, x) => acc + x)
    val cn = aggregate(transform(c, b => b * b), lit(0.0d), (acc, x) => acc + x)
    dot / (sqrt(vn) * sqrt(cn))
  }

  /** Row-local argmax over a column holding array&lt;struct(cl, c)&gt;
    * candidates: min over (−round(cos, 6), cl) structs — max cosine,
    * ties to the smaller cluster index. */
  private def assignOver(centArr: Column): Column = {
    val scored = transform(centArr, ct => struct(
      (-round(cosVD(col("v"), ct.getField("c")), 6)).as("nc"),
      ct.getField("cl").as("cl")))
    array_min(scored).getField("cl")
  }

  /** [[assignOver]] against a centroid LITERAL: zero shuffle, zero
    * join. */
  private def assignExpr(cents: Seq[(Int, Array[Double])]): Column =
    assignOver(array(cents.map { case (cl, c) =>
      struct(lit(cl).as("cl"), typedLit(c.toSeq).as("c"))
    }: _*))

  /** Fit centroids: init from the k smallest ids, then `iters` Lloyd
    * recomputes. Expects (id: long, v: array&lt;float&gt;). Each
    * recompute collects exactly k·d (cluster, dim, mean) rows. */
  private def fitCentroids(
      v: DataFrame, k: Int, iters: Int): Seq[(Int, Array[Double])] = {
    val initRows = v.orderBy(col("id")).limit(k).collect()
    var cents: Seq[(Int, Array[Double])] = initRows.toSeq.zipWithIndex.map {
      case (r, i) => (i, r.getSeq[Float](1).map(_.toDouble).toArray)
    }
    for (_ <- 1 to iters) {
      val rows = v.withColumn("cluster", assignExpr(cents))
        .select(col("cluster"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("cluster"), col("dim"))
        .agg(round(sum(col("x").cast("double")) / count(lit(1)), 6).as("m"))
        .collect()
      cents = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map {
        case (cl, dims) =>
          (cl, dims.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray)
      }
    }
    cents
  }

  /** Deterministic Lloyd k-means over an embedding column.
    * Output: (id, cluster) — cluster ∈ [0, k), the index of the init
    * centroid lineage the row finally lands in. */
  def lloydKMeans(
      emb: DataFrame, id: Column, vec: Column,
      k: Int, iters: Int): DataFrame = {
    // Persist across the fit's per-iteration scans + the final
    // assignment (init + iters + 1 consumers — round 21, guide §5:
    // the corpus was re-scanned per iteration), release via the
    // standing [[Materialize.over]] discipline (the output is the
    // narrow (id, cluster) frame — the pin-sized class).
    Materialize.over(Dedup.spread(emb).select(id.cast("long").as("id"), vec.as("v"))) { v =>
      v.withColumn("cluster", assignExpr(fitCentroids(v, k, iters)))
        .select(col("id"), col("cluster").cast("int").as("cluster"))
    }
  }

  /** Per-cell fine centroids for the two-level path. Input: (id, v,
    * cell). Init = the k2 smallest ids WITHIN each cell (bounded-heap
    * [[graft.plans.TopKPerGroup]] — ≤ k2 rows per cell per partition
    * shuffle), fl = 0-based id-rank within the cell; then `iters`
    * Lloyd recomputes keyed by (cell, fl). Each recompute collects
    * ≤ k1·k2·d (cell, fl, dim, mean) rows — bounded by parameters, not
    * the corpus. With ONE cell this schedule is definitionally
    * [[fitCentroids]] (pinned by ClusterSpec's equivalence gate). */
  private def fitFineCentroids(
      assigned: DataFrame, k2: Int, iters: Int): Seq[(Int, Int, Array[Double])] = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val initRows = graft.plans.GroupTopK.topK(assigned,
        Seq(col("cell")), Seq(col("id").asc), k2)
      .select(col("cell"), col("id"), col("v")).collect()
    var cents: Seq[(Int, Int, Array[Double])] = initRows
      .groupBy(_.getInt(0)).toSeq.flatMap { case (cell, rows) =>
        rows.sortBy(_.getLong(1)).zipWithIndex.map { case (r, fl) =>
          (cell, fl, r.getSeq[Float](2).map(_.toDouble).toArray)
        }
      }
    // Candidate sets ride as a broadcast (cell → array<struct(cl, c)>)
    // join — array order is irrelevant: the argmax is a struct MIN over
    // (−rounded-cos, cl), order-independent by construction.
    def centDf(cs: Seq[(Int, Int, Array[Double])]): DataFrame =
      cs.map { case (cell, fl, c) => (cell, fl, c.toSeq) }
        .toDF("cell", "fl", "c")
        .groupBy(col("cell"))
        .agg(collect_list(struct(col("fl").as("cl"), col("c"))).as("cands"))
    for (_ <- 1 to iters) {
      val rows = assigned.join(broadcast(centDf(cents)), "cell")
        .withColumn("fl", assignOver(col("cands")))
        .select(col("cell"), col("fl"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("cell"), col("fl"), col("dim"))
        .agg(round(sum(col("x").cast("double")) / count(lit(1)), 6).as("m"))
        .collect()
      cents = rows.groupBy(r => (r.getInt(0), r.getInt(1))).toSeq
        .sortBy(_._1).map { case ((cell, fl), dims) =>
          (cell, fl, dims.sortBy(_.getInt(2)).map(_.getDouble(3)).toArray)
        }
    }
    cents
  }

  /** Two-level deterministic k-means — the large-k scale path the flat
    * literal can't be (see the envelope note above): a coarse pass
    * ([[fitCentroids]], k1 moderate) buckets the corpus into cells,
    * then per-cell fine centroids refine each cell independently.
    * Effective cluster count is Σ_cell |fine(cell)| ≤ k1·k2 at
    * assignment cost n·(k1 + k2)·d per scan instead of n·k1·k2·d —
    * the IVF trick, kept fully deterministic (same init rule, same
    * 6-dp rounding, same tie-breaks at both levels).
    *
    * Output: (id, cluster) with cluster = cell·k2 + fl — stable,
    * disjoint labels across cells (sparse when cells have fewer than
    * k2 members). With k1 = 1 the output is EXACTLY
    * `lloydKMeans(k = k2)` relabeled 1:1 (ClusterSpec pins it). */
  def lloydKMeansTwoLevel(
      emb: DataFrame, id: Column, vec: Column,
      k1: Int, k2: Int, iters: Int): DataFrame =
    assignTwoLevel(emb, id, vec, k1, k2, iters)
      .select(col("id"), col("cluster"))

  private def assignTwoLevel(
      emb: DataFrame, id: Column, vec: Column,
      k1: Int, k2: Int, iters: Int): DataFrame = {
    val v = Dedup.spread(emb).select(id.cast("long").as("id"), vec.as("v"))
    val coarse = fitCentroids(v, k1, iters)
    val assigned = v.withColumn("cell", assignExpr(coarse).cast("int"))
    val fine = fitFineCentroids(assigned, k2, iters)
    val spark = emb.sparkSession
    import spark.implicits._
    val centDf = fine.map { case (cell, fl, c) => (cell, fl, c.toSeq) }
      .toDF("cell", "fl", "c")
      .groupBy(col("cell"))
      .agg(collect_list(struct(col("fl").as("cl"), col("c"))).as("cands"))
    assigned.join(broadcast(centDf), "cell")
      .withColumn("fl", assignOver(col("cands")))
      .withColumn("cluster",
        (col("cell") * lit(k2) + col("fl")).cast("int"))
      .select(col("id"), col("v"), col("cluster"))
  }

  /** SemDeDup: k-means-bucketed near-dup resolution over embeddings.
    * Candidate pairs are generated WITHIN each final cluster (the
    * quadratic blowup is bounded by the largest cluster, not the
    * corpus); pairs with exact cosine ≥ `threshold` become edges;
    * connected components resolve via [[Dedup.resolveClusters]].
    *
    * Output, one row per input vector:
    * (id, cluster, root, keep) — `root` = min id of the vector's dup
    * component (its own id if it has no duplicate in its cluster),
    * `keep` = (root == id): the canonical keep-one-representative flag.
    *
    * Cross-cluster near-dups are NOT detected — that miss is the
    * SemDeDup trade by design (recall is bounded by clustering
    * locality; raise `k` quality via more iters, or run
    * [[Dedup.embeddingPairsLsh]] when full recall matters). */
  def semanticDedup(
      emb: DataFrame, id: Column, vec: Column,
      k: Int, iters: Int, threshold: Double): DataFrame = {
    // Persist across the fit iterations AND the dedup tail's self-join
    // (init + iters + 2 join sides + the survivor join — round 21,
    // guide §5); the released output is one narrow row per vector.
    Materialize.over(Dedup.spread(emb).select(id.cast("long").as("id"), vec.as("v"))) { v =>
      dedupWithin(v.withColumn("cluster", assignExpr(fitCentroids(v, k, iters))), threshold)
    }
  }

  /** [[semanticDedup]] over the two-level clustering — the same pair /
    * component / survivor contract, with candidate pairs bounded by the
    * FINE cluster sizes (k1·k2 effective clusters at n·(k1+k2)·d
    * assignment cost). Output labels as [[lloydKMeansTwoLevel]]. */
  def semanticDedupTwoLevel(
      emb: DataFrame, id: Column, vec: Column,
      k1: Int, k2: Int, iters: Int, threshold: Double): DataFrame =
    dedupWithin(assignTwoLevel(emb, id, vec, k1, k2, iters), threshold)

  /** Shared dedup tail: within-cluster pairs → components → keep
    * flags. Input: (id, v, cluster). Exact cosine (FloatVecDot
    * association, mirrored in oracle SQL) on the unrounded values; the
    * threshold compare is pre-round, like the q23 brute-force pair
    * contract. */
  private def dedupWithin(assigned: DataFrame, threshold: Double): DataFrame = {
    val pairs = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.id") < col("b.id"))
      .withColumn("cosine", VectorFunctions.cosine(col("a.v"), col("b.v")))
      .filter(col("cosine") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val comps = Dedup.resolveClusters(pairs)
      .withColumnRenamed("cluster", "root")
    assigned.select(col("id"), col("cluster").cast("int").as("cluster"))
      .join(comps, Seq("id"), "left")
      .withColumn("root", coalesce(col("root"), col("id")))
      .withColumn("keep", col("root") === col("id"))
  }
}
