package graft

import org.apache.spark.sql.functions._

/** Whole-surface plan tripwire: the scale-critical physical-plan
  * properties the engine's design leans on, asserted so a refactor that
  * silently degrades a plan (a lost pushdown, an accidental cartesian, a
  * global sort where a top-k belongs) fails CI instead of surfacing as a
  * 100 TB incident. Plans are built at sf0.001 — plan shape, not data,
  * is under test. */
class PlanDisciplineSpec extends SparkSpec {

  // Memoized: some builders run eager driver jobs at construction (q40's
  // counting pass, q36's cluster resolution), so each query is built at
  // most once across the whole suite.
  private val planCache = scala.collection.mutable.Map.empty[String, String]
  private def planOf(name: String): String = planCache.getOrElseUpdate(name,
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString)

  /** The plans `op` executes while it is built and collected. The
    * curation operators pin their output ([[graft.operators.Materialize]]),
    * so a returned frame's own plan ends in an RDD scan; the pin's
    * captured execution is the plan the operator ran. */
  private def executedPlans(op: => org.apache.spark.sql.DataFrame): Seq[String] = {
    val (_, plans) = ExecutedPlans(spark)(op.collect())
    assert(plans.nonEmpty, "no executed plan captured")
    plans
  }

  /** The only queries allowed a BroadcastNestedLoopJoin, each with a
    * one-row (or documented-baseline) broadcast side:
    *   - q9/q10/q32/q33: broadcast-SCALAR stats frames (1-row aggregate
    *     joined keylessly under the whole input — constant-size broadcast),
    *   - q22: the single query vector (1 row),
    *   - q65: the broadcast batch-query set (5 rows; the corpus side
    *     streams once past it, then the custom GroupTopK bounds what
    *     survives),
    *   - q23: the brute-force exact pair baseline (quadratic BY DESIGN;
    *     `embeddingPairsLsh` is the scale path, measured 37× faster at
    *     32 k vectors in BASELINE.md). */
  /**   - q67/q68/q70/q96: broadcast-scalar corpus frames (1-row N / avgdl
    *     aggregates; q70's and q96's rate builds cross the ≤|strata|-row
    *     count frame with its 1-row total) — constant-size broadcasts again,
    *   - q72/q75/q110: the 1-row total-token-count broadcast of the
    *     corpus LM (term/marginal joins themselves are hash joins),
    *   - q78/q79/q89: the recall gates — the exact baselines they measure
    *     against are q22/q23's broadcast shapes, and the final result is
    *     a cross of 1-row recallStats aggregates,
    *   - q81: the 1-row token-budget scalar broadcast under the
    *     cumulative-sum frame,
    *   - q101/q104/q118/q122: the 1-row step-1 entity count crossed
    *     under the |steps|-row funnel summary for the rate column,
    *   - q120: q96's mix-rate build inside the composed curation
    *     pipeline (the ≤|strata|-row count frame crossed with its 1-row
    *     total — same constant-size broadcast, one stage later). */
  private val allowedNestedLoop = Set(
    "q9_peak_flag", "q10_outliers", "q32_histogram", "q33_minmax_norm",
    "q22_knn_cosine", "q23_embed_neardup", "q65_batch_knn",
    "q67_tfidf", "q68_bm25", "q70_temperature_sample", "q96_target_mix",
    "q114_benford", "q115_rfm",
    "q72_unigram_logprob", "q75_source_kl", "q110_collocations",
    "q78_ivf_recall", "q79_lsh_recall", "q89_pq_recall", "q81_token_budget",
    "q101_funnel", "q104_windowed_funnel", "q118_session_funnel",
    "q120_curation_pipeline", "q122_anytouch_funnel",
    // q128: the projected-ANN recall gate — q78/q89's shape (1-row
    // query-vector broadcast under the scans, 1-row recallStats
    // aggregates crossed for the contract columns).
    "q128_rp_recall",
    // q191: q78's recall contract verbatim, run against the appended
    // durable IVF index — same 1-row query-vector and recallStats
    // crosses, nothing corpus-sized on a nested-loop side.
    "q191_ivf_append_probe",
    // q193: the same contract through the LSH lifecycle — q79's 1-row
    // query-vector cross under the bucketed scan plus the 1-row
    // recallStats crosses.
    "q193_lsh_reload_probe",
    // q129: aggregates q120's stage frames, so its plan carries the
    // same mix-rate build (≤|strata|-row count frame crossed with its
    // 1-row total).
    "q129_curation_funnel",
    // q140: q65's batch shape — the 10-row anchor batch broadcast under
    // the corpus scan; GroupTopK bounds what survives the cross.
    "q140_hard_negatives",
    // q186: q140's anchor-batch cross in the projected space (GroupTopK
    // bounds the survivors) plus q128's 1-row recallStats aggregates
    // crossed for the contract columns.
    "q186_hard_negatives_ann",
    // q195: q186's contract with the shortlist served by the durable
    // IVF index — the exhaustive EXACT side keeps q140's anchor-batch
    // cross, and the contract columns keep the 1-row recallStats
    // crosses; the index path itself is hash/broadcast equi-joins.
    "q195_hard_negatives_ann_ivf",
    // q198: q195's mining contract through the composed IVF+PQ index —
    // the exhaustive EXACT side keeps q140's anchor-batch cross and
    // the contract columns keep the 1-row recallStats crosses; the
    // code-stripe shortlist path is hash/broadcast equi-joins.
    "q198_hard_negatives_ann_pq",
    // q196: q78's recall contract through the composed IVF+PQ index —
    // the same 1-row query-vector cross under the exact side and the
    // rerank tail, plus the 1-row recallStats crosses; the ADC scan
    // side is a pruned projection, no join at all.
    "q196_ivfpq_reload_probe",
    // q199: q196's crosses verbatim under the forced-residual encoding
    // (same exact side, same 1×1 recallStats joins).
    "q199_ivfpq_residual_probe",
    // q141: the data card's token-share denominator — the 1-row corpus
    // totals broadcast crossed under the ≤|langs|-row share frame.
    "q141_data_card",
    // q142: q22's shape per probed dimension — the 1-row query vector
    // broadcast under each prefix-slice scan.
    "q142_truncated_recall",
    // q143: the |labels|-row centroid table broadcast crossed under the
    // corpus scan (10 rows; the argmax aggregation bounds what
    // survives).
    "q143_label_noise",
    // q144: two data cards — q141's 1-row token-share denominator
    // broadcast, once per snapshot.
    "q144_card_diff",
    // q147: the 1-row smoothing-scalar frame (T_tgt, T_all, V)
    // broadcast under the vocabulary-sized weight build.
    "q147_dsir_weights",
    // q148: curriculumShards' 1-row corpus count broadcast under the
    // ranked frame (the shard-arithmetic denominator).
    "q148_curriculum_shards",
    // q149: skewProfile's 1-row totals broadcast under the
    // key-cardinality count frame.
    "q149_skew_profile",
    // q150: the 1-row skipped-count frame broadcast under the 1-row
    // bucket-census summary.
    "q150_rp_bucket_audit",
    // q154: termDrift's 1-row totals broadcast under the
    // vocabulary-sized drift build (q147's shape).
    "q154_term_drift",
    // q157: the 1-row session-total broadcast under the
    // |types|²-bounded pair frame.
    "q157_session_lift",
    // q164: psiDrift's 1-row min/max and 1-row corpus-total broadcasts
    // under the raw scan / the |units|·B grid.
    "q164_psi_drift",
    // q167: the complete R×C grid — the |levels_b|-row frame broadcast
    // under the |levels_a|-row frame (bounded by level cardinalities),
    // plus the 1-row level-count/total crosses.
    "q167_chi_square",
    // q168: the 1-row Neyman weight-total broadcast under the
    // |strata|-row frame.
    "q168_neyman_alloc",
    // q170: four 1-row cohort-count frames crossed into the single
    // z-test evidence row.
    "q170_ab_test",
    // q171: the 1-row session-total broadcast under the
    // |types|²-bounded entry/exit frame (q157's shape).
    "q171_entry_exit",
    // q174: the 1-row onboarded-user denominator broadcast under the
    // ≤ maxDays+1-row offset frame.
    "q174_ltv_curve",
    // q175: driver-side iteration plans no joins at all; the
    // above-cap distributed fallback carries the 1-row state-count
    // broadcast building the uniform v0 over the |types|-row frame.
    "q175_stationary",
    // q177: the 1-row pooled-percentile frame broadcast under each
    // |units|-row quantile slice.
    "q177_quantile_map",
    // q178: the 1-row totals/cutoff frame broadcast under the
    // |users|-row revenue frame, once per requested percentile.
    "q178_revenue_concentration",
    // q180: the 1-row type-count broadcast (the hmax denominator)
    // under the |users|-row entropy frame.
    "q180_diversity_histogram",
    // q185: two 1-row crosses — the train-mean cutoff broadcast under
    // the held-out scoring frame, and the 1-row train-count frame
    // crossed into the 1-row confusion row.
    "q185_eval_quality_lr")

  test("no CartesianProduct anywhere; BroadcastNestedLoopJoin only where justified") {
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val plan = planOf(name)
      assert(!plan.contains("CartesianProduct"), s"$name plans a cartesian product")
      if (!allowedNestedLoop(name))
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name plans an unexpected nested-loop join")
    }
  }

  test("top-k queries plan TakeOrderedAndProject, not a global sort") {
    for (name <- Seq("q1_top_suppliers", "q4_top_dates")) {
      val plan = planOf(name)
      assert(plan.contains("TakeOrderedAndProject"), s"$name: $plan")
    }
  }

  test("q65 batch KNN runs through the custom GroupTopK physical operator") {
    // The oracle-gated batch-KNN row must exercise the custom plan: both
    // the map-side bounded heap and the post-shuffle final heap.
    val plan = planOf("q65_batch_knn")
    assert(plan.contains("TopKPerGroupPartial"), plan)
    assert(plan.contains("TopKPerGroupFinal"), plan)
  }

  test("q71 stratum cap runs through the custom GroupTopK physical operator") {
    val plan = planOf("q71_stratum_cap")
    assert(plan.contains("TopKPerGroupPartial"), plan)
    assert(plan.contains("TopKPerGroupFinal"), plan)
  }

  test("q111 inverted-index posting cap runs through GroupTopK") {
    val plans = executedPlans(graft.operators.Ranking.invertedIndex(
      graft.sources.Tables.documents(spark, sf),
      col("doc_id"), col("text"), maxPostings = 10))
    assert(plans.exists(p =>
      p.contains("TopKPerGroupPartial") && p.contains("TopKPerGroupFinal")),
      plans.mkString("\n"))
  }

  test("q140 hard negatives runs through GroupTopK; q139's rerank joins " +
      "broadcast; q138 plans no single-partition window") {
    val p140 = planOf("q140_hard_negatives")
    assert(p140.contains("TopKPerGroupPartial"), p140)
    assert(p140.contains("TopKPerGroupFinal"), p140)
    // q139: the exact rerank probes the candidate list as a broadcast
    // semi-join — the vocabulary-sized shuffle the screen exists to
    // avoid must not reappear in the rerank.
    val p139 = planOf("q139_frequent_terms")
    assert(p139.contains("BroadcastHashJoin") ||
      p139.contains("BroadcastExchange"), p139)
    // q138: the global block position must come from the two-phase
    // ScalableWindow (range partition + per-partition window), never a
    // Window over an Exchange SinglePartition.
    val p138 = planOf("q138_zorder_layout")
    assert(!p138.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      s"q138 plans a single-partition window exchange:\n$p138")
    assert(p138.contains("RangePartitioning") ||
      p138.contains("rangepartitioning"), p138)
  }

  test("q68 BM25 top-N plans TakeOrderedAndProject, not a global sort") {
    assert(planOf("q68_bm25").contains("TakeOrderedAndProject"),
      planOf("q68_bm25"))
  }

  test("q77/q80 substring dedup: reused scan, partial distinct agg, doc-partitioned window, broadcast span join") {
    // Final (adaptive) plans — these properties only exist post-execution.
    val q77 = SparkEntry.queries("q77_repeated_spans")(spark, sf)
    q77.collect()
    val p77 = q77.queryExecution.executedPlan.toString
    // both explode sides re-read ONE scan+spread exchange, not two scans
    assert(p77.contains("ReusedExchange"), p77.take(3000))
    // distinct-doc count is partial+final (one row per (hash,doc) per
    // partition reaches the shuffle, never one per occurrence)
    assert(p77.contains("partial_count(distinct"), p77.take(3000))
    // islands window is per-doc, never a global window
    assert(p77.contains("windowspecdefinition(doc_id"), p77.take(3000))
    val q80 = SparkEntry.queries("q80_span_removal")(spark, sf)
    q80.collect()
    val p80 = q80.queryExecution.executedPlan.toString
    // per-doc span arrays broadcast back onto the corpus (hash join on
    // doc_id; AQE would shuffle-join if spans ever outgrew broadcast)
    assert(p80.contains("BroadcastHashJoin") && p80.contains("LeftOuter"),
      p80.take(3000))
  }

  test("q73 vocab selection is a top-V, not a global sort of the vocabulary") {
    val plans = executedPlans(graft.operators.Ranking.oovRate(
      graft.sources.Tables.documents(spark, sf),
      col("doc_id"), col("text"), vocabSize = 20))
    assert(plans.exists(_.contains("TakeOrderedAndProject")), plans.mkString("\n"))
  }

  test("operator-internal plans (lazy forms) stay cartesian-free") {
    // The pin discipline (round 9) ends the PUBLIC plans of
    // the dedup/ranking operators in an RDD scan, which would blind the
    // whole-surface cartesian tripwire to their internals. Assert the
    // discipline on the plans each operator executes instead. (The
    // capped containment path's broadcast(hotArr) crossJoin is a
    // deliberate 1-row scalar broadcast, BroadcastNestedLoopJoin — not a
    // CartesianProduct — so the assertion below still holds for it.)
    import graft.operators.{Dedup, Ranking}
    import graft.sources.Tables
    val docs = Tables.documents(spark, sf)
    val operators = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "ngramJaccardPairs" -> (() => Dedup.ngramJaccardPairs(
        docs, col("doc_id"), col("text"), 3, 0.8)),
      "ngramJaccardPairs capped" -> (() => Dedup.ngramJaccardPairs(
        docs, col("doc_id"), col("text"), 3, 0.8, maxShingleFreq = Some(500))),
      "minhashLshPairs" -> (() => Dedup.minhashLshPairs(
        docs, col("doc_id"), col("text"))),
      "minhashLshVerifiedPairs" -> (() => Dedup.minhashLshVerifiedPairs(
        docs, col("doc_id"), col("text"))),
      "containmentPairs" -> (() => Dedup.containmentPairs(
        docs, col("doc_id"), col("text"), 3, 0.9)),
      "containmentPairsLsh" -> (() => Dedup.containmentPairsLsh(
        docs, col("doc_id"), col("text"), 3, 0.9)),
      "tfIdfTopTerms" -> (() => Ranking.tfIdfTopTerms(
        docs, col("doc_id"), col("text"), 3)),
      "bm25" -> (() => Ranking.bm25(
        docs, col("doc_id"), col("text"), Seq("spark"), 10)),
      "unigramLogProb" -> (() => Ranking.unigramLogProb(
        docs, col("doc_id"), col("text"))),
      "oovRate" -> (() => Ranking.oovRate(
        docs, col("doc_id"), col("text"), 20)),
      "klDivergence" -> (() => Ranking.klDivergence(
        docs, col("source"), col("text"))),
      "hashedLinearScore" -> (() => Ranking.hashedLinearScore(
        docs, col("doc_id"), col("text"), nBuckets = 8, seed = "s",
        bias = 0.0, threshold = 0.5)))
    for ((name, op) <- operators; plan <- executedPlans(op()))
      assert(!plan.contains("CartesianProduct"), s"$name plans a cartesian:\n$plan")
  }

  test("executed-plan capture sees a non-broadcast cross join as a CartesianProduct") {
    // The operator-plan checks above stand on the capture: `executedPlans`
    // fails a call that yields no plan, and a cartesian the operators
    // must not plan has to read as the string the tripwire looks for.
    val cross = executedPlans(spark.range(3).hint("shuffle_replicate_nl")
      .crossJoin(spark.range(3).withColumnRenamed("id", "id2")))
    assert(cross.exists(_.contains("CartesianProduct")), cross.mkString("\n"))
  }

  test("q74 joins centroids back by broadcast — the corpus is not shuffled") {
    assert(planOf("q74_centroid_scores").contains("BroadcastHashJoin"),
      planOf("q74_centroid_scores"))
  }

  test("dimension join broadcasts the small side (q16)") {
    val plan = planOf("q16_join_agg")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("scan-level filter pushdown reaches parquet (q6)") {
    val plan = planOf("q6_latest_day_clicks")
    assert("PushedFilters: \\[[^\\]]*event_type".r.findFirstIn(plan).isDefined,
      s"event_type filter not pushed:\n$plan")
  }

  test("q127 random projection is a pure map: no join, no key shuffle, " +
    "and the 16-fold projection is evaluated exactly once per row") {
    val plan = planOf("q127_random_projection")
    assert(!plan.contains("Join"), s"projection must not join:\n$plan")
    // Only the spread's round-robin rebalance and the output-order
    // range exchange — never a hashpartitioning (nothing keys).
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 2, s"expected rebalance + output sort only:\n$plan")
    assert(!plan.contains("hashpartitioning"), plan)
    // The posexplode_outer + null-filter shape: no inferred pre-Generate
    // filter re-evaluating the projection folds (2x map cost otherwise).
    assert(!"Filter [^\\n]*zip_with".r.findFirstIn(plan).isDefined,
      s"projection folds re-evaluated inside a filter:\n$plan")
  }

  test("q130 classifier scores through a broadcast weight join — the " +
    "feature frame is not sort-merged against the model") {
    // The public q130 plan ends in the pin's RDD scan; assert on the
    // lazy form, the plan StreamingScore runs per micro-batch.
    val plan = graft.operators.Ranking.hashedLinearScore(
        graft.sources.Tables.documents(spark, sf), col("doc_id"),
        col("text"), nBuckets = 8, seed = "s", bias = 0.0,
        threshold = 0.5, materialize = false)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("column pruning reaches parquet: q2 reads only its two columns") {
    val plan = planOf("q2_by_priority")
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(plan)
      .map(_.group(1)).getOrElse(fail(s"no ReadSchema in:\n$plan"))
    val cols = read.split(",").map(_.split(":")(0).trim).toSet
    assert(cols == Set("o_orderpriority", "o_totalprice"), s"read: $cols")
  }

  /** The WHITELIST of unpartitioned windows (`Window.orderBy` with no
    * `partitionBy` — a single-task sort, safe ONLY over an
    * aggregate/distinct-sized frame, a 100 TB incident over anything
    * data-sized). Every site below was audited: its window input is a
    * distinct/aggregate/parameter-class frame, never per-row data.
    *
    *   - AdvancedQueries (q55 moving window): over the per-date daily
    *     aggregate (calendar-bounded, ≤ |dates| rows).
    *   - FunctionQueries (q34 running total): the same per-date
    *     aggregate class.
    *   - Funnel: over the ≤ maxDays+1-row day-offset aggregate.
    *   - Split (stratified rates): row_number over the |strata|-sized
    *     count frame.
    *   - Subword (vocab selection): row_number over the top-V frame a
    *     GroupTopK already bounded.
    *
    * The bench tail's "No Partition Defined for Window operation"
    * warnings all come from these sites and are noise — this test turns
    * the whitelist from a judge-audit into CI: a NEW unpartitioned
    * window (or a moved one) changes the per-file census and fails here,
    * forcing the same audit on the 6th site. Data-sized ordered work
    * must go through [[graft.operators.ScalableWindow]]'s two-phase
    * form instead. */
  test("unpartitioned windows: census pinned to the five audited aggregate-sized sites") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val sites = for {
      f <- files
      (line, _) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      t = line.trim
      // code sites only: scaladoc/comment mentions are documentation
      if t.contains("Window.orderBy") &&
        !t.startsWith("*") && !t.startsWith("//") && !t.startsWith("/**")
    } yield f.getFileName.toString
    val census = sites.groupBy(identity).view.mapValues(_.size).toMap
    val audited = Map(
      "AdvancedQueries.scala" -> 1, "FunctionQueries.scala" -> 1,
      "Funnel.scala" -> 1, "Split.scala" -> 1, "Subword.scala" -> 1)
    assert(census === audited,
      s"unpartitioned-window census changed — audit the new/moved site " +
        s"(is its input aggregate-sized?) and update the whitelist.\n" +
        s"found: $census\naudited: $audited")
  }
}
