package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line (stdout) carrying the
  * FULL per-query `queries` map (round 21: the r20 VERDICT confirmed
  * the driver parses the ~13 KB line fine, and the compact summary
  * that replaced it left the driver per-query-blind — PERF_r20
  * `n_common: 0`, null geomean, empty scaling block). The same record
  * is also written to `bench_full.json` (and incrementally to
  * `bench_partial.json`) so a SIGKILL still leaves the evidence; a run
  * narrowed to named queries writes neither file.
  *
  * Methodology (round 10): one warmup execution per query (JVM/codegen +
  * OS page cache), then TWO timed cold-cache executions; the reported
  * time is the MIN of the two. This mirrors `tools/bench_oracle.py`
  * (warmup + min-of-2) and makes a single transient sandbox-load spike
  * invisible to the reported number — round 9's official bench read
  * 2.6x the oracle while the same binary measured 1.6x on an idle box,
  * purely because single timed passes sampled a loaded scheduler.
  * `spark.catalog.clearCache()` runs before EACH timed pass — every
  * timed run pays for its own persisted intermediates (DuckDB pays for
  * its CTE materializations every run) — and again after each query, so
  * the full query surface never accumulates dead MEMORY_AND_DISK
  * entries across queries.
  *
  * The timed action is a NOOP-SINK WRITE, not `count()` (round 10):
  * DuckDB's comparator times `fetchall()`, and under a count action
  * Catalyst may prune result-only projections above the last
  * aggregation (expensive `round`/`log` output columns would never
  * execute), flattering the Spark side. The noop sink consumes every
  * output column — same honesty as a `collect()` — without shipping
  * rows to the driver, which matters because a third of the surface is
  * per-document output (q46/q72/q77/q80/…): at a larger SF a collect
  * would OOM the driver where the noop write still completes.
  *
  * Load evidence: the output JSON carries `loadavg_start`/`loadavg_now`
  * (three-field /proc/loadavg samples) AND a per-query `load` map
  * (round 11) — the 1-minute loadavg sampled the moment each query's
  * timed passes finish — so a contended run is discountable PER ENTRY
  * from the artifact alone: a judge (or script) can mechanically flag
  * the queries that ran under load instead of cross-referencing a
  * same-session pair.
  *
  * Flake evidence (round 11): a query whose first or second timed pass
  * fails while the other survives is still a measurement (the surviving
  * pass), but the JSON now carries a `flaky` map (name -> pass reason)
  * so the committed artifact surfaces the instability the methodology
  * exists to surface — previously the flake was visible only on stderr.
  *
  * Composed-query semantics (round 9): q64 and q66 are END-TO-END
  * compositions, timed as such. q64 is the full dedup pipeline (pairs →
  * clusters → survivors) — there is nothing to amortize. q66's time
  * INCLUDES the one-time corpus-index build that the operator exists to
  * amortize across many shard lookups: measured split at sf0.1
  * (Q66Split, retired: BASELINE.md "Retired reproducers"; same
  * warmup+cold-cache methodology) is ~1.3 s build
  * + ~1.0 s per warm probe, so steady-state incremental cost is the
  * probe number, not the benched cold number. The bench keeps the
  * composed time because the oracle-gated query is the composition.
  *
  * Robustness contract (round-7 rc 124 post-mortem):
  *   - Per-query wall budget (`SPARK_GRAFT_BENCH_BUDGET` seconds,
  *     default 120): a watchdog cancels the query's job group at the
  *     deadline and the query is recorded in `"failed"` as
  *     `name:reason` — one pathological query can no longer hang the
  *     whole run. The watchdog only cancels SUBMITTED Spark jobs; a
  *     query that hangs driver-side (analysis/codegen, before any job)
  *     is not interrupted — the driver's outer timeout is the backstop
  *     for that class.
  *   - Incremental evidence: each finished query appends a line to
  *     stderr and rewrites `bench_partial.json` (cwd) with everything
  *     measured so far, so even a SIGKILL leaves per-query data.
  *   - stdout stays exactly one JSON line, as the driver parses it.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val budgetSec = sys.env.get("SPARK_GRAFT_BENCH_BUDGET")
      .flatMap(_.toDoubleOption).getOrElse(120.0)
    val spark = GraftSession.local()
    val sc = spark.sparkContext

    def loadavg(): String =
      try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
        .split("\\s+").take(3).mkString(" ")
      catch { case _: Throwable => "unavailable" }

    // A run yields Right(seconds) or Left(reason). A cancelled (budget)
    // or throwing run is excluded from the total and surfaced in an
    // explicit "failed" list — never a sentinel time that could shrink
    // or pad the total.
    def runOnce(name: String): Either[String, Double] = {
      val group = s"bench-$name-${System.nanoTime()}"
      sc.setJobGroup(group, name, interruptOnCancel = true)
      // Classification is by whether the watchdog actually FIRED, not by
      // comparing elapsed time to the budget: timer scheduling and
      // cancellation latency would otherwise mislabel a near-deadline
      // genuine failure as budget_exceeded (and vice versa).
      @volatile var timedOut = false
      val watchdog = new java.util.Timer("bench-watchdog", true)
      watchdog.schedule(new java.util.TimerTask {
        override def run(): Unit = { timedOut = true; sc.cancelJobGroup(group) }
      }, (budgetSec * 1000).toLong)
      val t0 = System.nanoTime()
      try {
        // Noop-sink write: forces every output column (no projection
        // pruning) without collecting rows to the driver — see the
        // methodology scaladoc.
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        Right((System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable =>
          // Snapshot the flag ONCE before classifying: the timer can fire
          // during exception propagation, and reading the volatile twice
          // (guard + branch) could label a genuine failure thrown
          // milliseconds before the deadline as budget_exceeded.
          val wasTimeout = timedOut
          if (wasTimeout) Left("budget_exceeded")
          else Left(e.getClass.getSimpleName)
      } finally {
        watchdog.cancel()
        sc.clearJobGroup()
      }
    }

    // Optional args narrow the run to the named queries (local iteration
    // aid; the driver invokes with no args = full surface). A narrowed
    // run's one stdout line is its whole result: it skips the probes and
    // writes neither `bench_full.json` nor `bench_partial.json`, so it
    // never overwrites a full run's artifacts. `--probes` runs ONLY the
    // warm-probe block (queries map empty) — the artifact repair path
    // when a full run's probe block failed. Unknown names fail fast —
    // otherwise a typo would masquerade as a crashed query.
    val probesOnly = args.toSeq == Seq("--probes")
    val qArgs = if (probesOnly) Seq.empty else args.toSeq
    val narrowed = qArgs.nonEmpty
    val unknown = qArgs.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val names =
      if (probesOnly) Seq.empty
      else if (qArgs.nonEmpty) qArgs.sorted
      else SparkEntry.queries.keys.toSeq.sorted

    // Co-load self-DEFENSE (round-15, on top of round-13's annotation):
    // a run that would start on a busy machine first WAITS, bounded, for
    // the 1-minute loadavg to drop under the gate (poll every 15 s, max
    // SPARK_GRAFT_LOAD_WAIT_MAX seconds, default 600) — so the driver's
    // headline artifact stops being a co-load lottery. The wait happens
    // BEFORE loadStart is sampled: a run that recovered is a clean run
    // and documents the wait; a run whose wait timed out proceeds and
    // self-documents as co-loaded, exactly as before (the driver's
    // contract is one JSON line with rc 0 — annotation, never refusal).
    // NOTE the known blind spot: HOST-level contention is invisible to
    // the guest's /proc/loadavg (a run 2× slower than its pair has been
    // observed at LOWER guest loadavg), so "ok" here never overrides a
    // regressed-looking pair — it only flags the guest-visible case.
    val loadGateThreshold = sys.env.get("SPARK_GRAFT_LOAD_GATE")
      .flatMap(_.toDoubleOption).getOrElse(2.0)
    val loadWaitMax = sys.env.get("SPARK_GRAFT_LOAD_WAIT_MAX")
      .flatMap(_.toDoubleOption).getOrElse(600.0)
    def load1Now(): Option[Double] =
      loadavg().split("\\s+").head.toDoubleOption
    val waitT0 = System.nanoTime()
    var waitedSec = 0.0
    var waitTimedOut = false
    var gateSample = load1Now()
    while (gateSample.exists(_ > loadGateThreshold) && !waitTimedOut) {
      waitedSec = (System.nanoTime() - waitT0) / 1e9
      if (waitedSec >= loadWaitMax) waitTimedOut = true
      else {
        // One sample per iteration: the logged loadavg IS the value
        // that gated (re-sampling for the log could print a number
        // that would have passed).
        System.err.println(f"[bench] co-loaded (1-min ${gateSample.getOrElse(-1.0)}%.2f > " +
          f"$loadGateThreshold%.1f), waiting (${waitedSec.toInt}s/${loadWaitMax.toInt}s)")
        Thread.sleep(15000)
        gateSample = load1Now()
        // Re-stamp AFTER the sleep: waitedSec is the artifact's
        // load_wait_s, and stamping only at loop top under-reported
        // every wait by one 15 s interval (a single-sleep wait printed
        // load_wait_s: 0).
        waitedSec = (System.nanoTime() - waitT0) / 1e9
      }
    }
    val loadStart = loadavg()
    // The wait is its own JSON fields (`load_wait_s`/`load_wait_timeout`)
    // so `load_gate` keeps its stable ok/co_loaded/unknown vocabulary —
    // round 15's `ok_after_wait_30s` suffix broke exact-match consumers.
    val loadWaitSec = waitedSec.toInt
    val loadGate = loadStart.split("\\s+").head.toDoubleOption match {
      case Some(l1) if l1 > loadGateThreshold =>
        f"co_loaded:start_1min_$l1%.2f_over_$loadGateThreshold%.1f"
      case Some(_) => "ok"
      case None => "unknown"
    }
    // 1-minute loadavg only for the per-query field: the 5/15-minute
    // figures lag minutes behind and would smear one query's spike over
    // its neighbours.
    def load1(): String = loadavg().split("\\s+").head
    def resultsJson(done: Seq[(String, Double)], failed: Seq[String],
                    flaky: Seq[(String, String)], load: Seq[(String, String)],
                    probes: Seq[(String, Double)] = Seq.empty): String = {
      // 4-dp per-query values (0.1 ms grain — far under run-to-run
      // noise): the full 199-entry map now rides the stdout line, and
      // raw Double.toString's 17 significant digits would double its
      // size for no measurement content. Locale-safe (no %f).
      def r4(v: Double): String = (math.round(v * 1e4) / 1e4).toString
      val qs = done.map { case (k, v) => "\"" + k + "\":" + r4(v) }
        .mkString("{", ",", "}")
      val probesJson = probes.map { case (k, v) => "\"" + k + "\":" + r4(v) }
        .mkString("{", ",", "}")
      val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
      val flakyJson = flaky.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
        .mkString("{", ",", "}")
      // Values are numeric loadavg strings; quote anything that isn't
      // parseable (the "unavailable" fallback) so the line stays JSON.
      val loadJson = load.map { case (k, v) =>
        val lit = if (v.toDoubleOption.isDefined) v else "\"" + v + "\""
        "\"" + k + "\":" + lit
      }.mkString("{", ",", "}")
      val total = done.map(_._2).sum
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"flaky":$flakyJson,"load":$loadJson,"probes":$probesJson,"sf":"$sfDir","loadavg_start":"$loadStart","loadavg_now":"${loadavg()}","load_gate":"$loadGate","load_wait_s":$loadWaitSec,"load_wait_timeout":$waitTimedOut}"""
    }

    val partialPath = Paths.get("bench_partial.json")
    var done = Vector.empty[(String, Double)]
    var failed = Vector.empty[String]
    var flaky = Vector.empty[(String, String)]
    var load = Vector.empty[(String, String)]
    names.foreach { n =>
      runOnce(n) match {            // warmup: codegen + OS page cache
        case Left(reason) =>
          // A query whose warmup died gets no measured run — record it.
          failed :+= s"$n:$reason"
          System.err.println(s"[bench] $n FAILED warmup: $reason")
        case Right(_) =>
          // Two cold-cache timed passes, min reported (oracle parity;
          // one transient load spike cannot inflate the number).
          def coldPass(): Either[String, Double] = {
            spark.catalog.clearCache()
            runOnce(n)
          }
          (coldPass(), coldPass()) match {
            case (Right(a), Right(b)) =>
              val sec = math.min(a, b)
              done :+= (n -> sec)
              System.err.println(f"[bench] $n $sec%.3f s (passes: $a%.3f, $b%.3f)")
            case (Right(a), Left(reason)) =>
              // One good pass is still a measurement; the flake goes in
              // the artifact (not just stderr) so a committed bench
              // self-reports its instability.
              done :+= (n -> a)
              flaky :+= (n -> s"pass2:$reason")
              System.err.println(f"[bench] $n $a%.3f s (second pass failed: $reason)")
            case (Left(reason), Right(b)) =>
              done :+= (n -> b)
              flaky :+= (n -> s"pass1:$reason")
              System.err.println(f"[bench] $n $b%.3f s (first pass failed: $reason)")
            case (Left(r1), Left(r2)) =>
              // Record BOTH reasons when they differ — a budget timeout
              // on one pass and an OOM on the other are different
              // diagnoses, and this artifact exists to be read, not
              // re-run.
              val reason = if (r1 == r2) r1 else s"$r1+$r2"
              failed :+= s"$n:$reason"
              System.err.println(s"[bench] $n FAILED measured: $reason")
          }
      }
      // Per-query load sample taken as the query finishes: the 1-minute
      // loadavg here reflects the machine state DURING this query's
      // passes (the window it averages is roughly the passes' duration),
      // making a contended entry discountable without a paired re-run.
      load :+= (n -> load1())
      spark.catalog.clearCache()    // no cross-query cache accumulation
      if (!narrowed)
        Files.write(partialPath, (resultsJson(done, failed, flaky, load) + "\n").getBytes,
          StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING,
          StandardOpenOption.WRITE)
    }
    // Steady-state ANN probe rows (round-12 item): the benched
    // q78/q79/q89 entries time whole recall CONTRACTS — exact baseline
    // + index build + probes — so a regression in the PROBE path alone
    // hides inside the contract's build noise. The operators' premise
    // is build once / probe many; the artifact therefore also records
    // each family's WARM-PROBE time (index built once and persisted,
    // one warm pass, then min of three timed probes) under the same
    // geometry as the gating queries. Extra artifact keys under
    // "probes" — deliberately NOT in "queries": they pair with no
    // oracle and must not enter the total or the regression diff.
    val probeTimes: Vector[(String, Double)] =
      if (narrowed) Vector.empty
      else try {
        import org.apache.spark.sql.functions._
        import graft.operators.Similarity
        val emb = graft.sources.Tables.embeddings(spark, sfDir)
        val corpus = emb.filter(col("vec_id") =!= 0)
        val q = emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv"))
        val qv = q.collect().head.getSeq[Float](0).toArray
        def minOf3(probe: => Unit): Double = {
          probe                       // warm: codegen + broadcast reuse
          (1 to 3).map { _ =>
            val t0 = System.nanoTime(); probe
            (System.nanoTime() - t0) / 1e9
          }.min
        }
        def noop(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.format("noop").mode("overwrite").save()
        val (centroids, idx0) = Similarity.ivfIndex(
          corpus, col("vec_id"), col("embedding"), nLists = 8)
        val indexed = idx0.persist(); indexed.count()
        val p78 = minOf3(noop(Similarity.ivfTopK(
          centroids, indexed, qv, k = 10, nProbe = 3)))
        val bucketed = Similarity.bucketize(
          corpus, col("vec_id"), col("embedding"), nBits = 16).persist()
        bucketed.count()
        val p79 = minOf3(noop(Similarity.lshTopK(
          bucketed, q, k = 10, nBits = 16, probeHamming = 6)))
        val (cbs, enc0) = Similarity.pqIndex(
          corpus, col("vec_id"), col("embedding"), m = 16, ksub = 16,
          iters = 2)
        val encoded = enc0.persist(); encoded.count()
        val p89 = minOf3(noop(Similarity.pqTopK(cbs, encoded, corpus,
          col("vec_id"), col("embedding"), qv, k = 10, rerankN = 100)))
        // q128's family: the projected column is the build artifact —
        // persist it, then a warm probe is shortlist (narrow scan) +
        // exact rerank of the shortlist.
        val projected = Similarity.randomProjection(
          corpus, col("vec_id"), col("embedding"),
          inDim = 64, outDim = 16).persist()
        projected.count()
        val nCorpus = corpus.count()
        val p128 = minOf3(noop(Similarity.projectedTopKPrebuilt(
          corpus, col("vec_id"), col("embedding"), projected, q,
          inDim = 64, outDim = 16,
          shortlist = math.max(50L, nCorpus * 3 / 10).toInt, k = 10)))
        indexed.unpersist(); bucketed.unpersist(); encoded.unpersist()
        projected.unpersist()
        // Durable-lifecycle steady-state rows (round-15): q189's benched
        // entry times build + bucketed WRITE + reload + probe composed;
        // these two time what a later session actually pays — the probe
        // against the already-landed index (MinHash bucketed tables, IVF
        // partitioned posting lists). Build/write cost is the composed
        // q189 entry; probe cost is here, separated. The index lands
        // under a prefix of this run's own and is dropped afterwards, so
        // two runs against one metastore never share it.
        import graft.operators.Dedup
        val docs = graft.sources.Tables.documents(spark, sfDir)
        val idxPrefix = "graft_bench_reload_" +
          java.util.UUID.randomUUID.toString.replace("-", "").take(12)
        val (p189, p189point) = try {
          val builtIdx = Dedup.corpusIndex(
            docs.filter(col("source") =!= "src0"), col("doc_id"), col("text"))
          Dedup.writeCorpusIndex(builtIdx, idxPrefix)
          builtIdx.unpersist()
          val loadedIdx = Dedup.loadCorpusIndex(spark, idxPrefix)
          val shard = docs.filter(col("source") === "src0").persist()
          shard.count()
          val p189 = minOf3(noop(Dedup.nearDupAgainstIndex(
            shard, col("doc_id"), col("text"), loadedIdx, threshold = 0.8,
            persistNewRel = false)))
          shard.unpersist()
          // The interactive form: ONE document, already on the driver, is
          // a point probe that reads the index by key.
          val doc = docs.filter(col("source") === "src0")
            .select(col("doc_id"), col("text")).head()
          val one = spark.createDataFrame(Seq((doc.getLong(0), doc.getString(1))))
            .toDF("doc_id", "text")
          (p189, minOf3(Dedup.nearDupAgainstIndex(
            one, col("doc_id"), col("text"), loadedIdx, threshold = 0.8).collect()))
        } finally Dedup.dropCorpusIndex(spark, idxPrefix)
        // The landed IVF and IVF+PQ indexes live in temp directories of
        // this run's own, removed when their probes finish or fail.
        val (p78r, p192) = graft.queries.PipelineQueries.withScratchDir("bench_ivf") {
          ivfDir =>
            Similarity.writeIvfIndex(centroids, idx0, ivfDir)
            val (rcents, rlists) = Similarity.loadIvfIndex(spark, ivfDir)
            val p78r = minOf3(noop(Similarity.ivfTopK(
              rcents, rlists, qv, k = 10, nProbe = 3)))
            // q192's steady state (round-16): the MANY-queries batch probe
            // against the already-landed IVF index — one equi-join plan for
            // the whole batch; the composed q192 entry carries the one-time
            // build + write + reload.
            (p78r, minOf3(noop(Similarity.ivfTopKBatch(rcents, rlists,
              graft.sources.Tables.embeddings(spark, sfDir)
                .filter(col("vec_id") < 5),
              col("vec_id"), col("embedding"), k = 5, nProbe = 3))))
        }
        // q196's steady state (round-18): the composed IVF+PQ probe
        // against the already-landed index — a partition-pruned scan
        // of (id, codes) + ADC + a 100-row exact rerank by id; the
        // composed q196 entry carries both fits + write + append +
        // the exact side.
        val p196 = graft.queries.PipelineQueries.withScratchDir("bench_ivfpq") { ivfPqDir =>
          val ivfPqCbs = Similarity.ivfPqFitCodebooks(
            corpus, col("vec_id"), col("embedding"), centroids,
            m = 16, ksub = 16, iters = 2)
          Similarity.writeIvfPqIndex(centroids, ivfPqCbs,
            Similarity.ivfPqEncode(
              corpus, col("vec_id"), col("embedding"), centroids, ivfPqCbs),
            ivfPqDir)
          val (pqcents, pqcbs, pqcodes) = Similarity.loadIvfPqIndex(
            spark, ivfPqDir)
          minOf3(noop(Similarity.ivfPqTopK(pqcents, pqcbs,
            pqcodes, corpus, col("vec_id"), col("embedding"), qv,
            k = 10, nProbe = 3, rerankN = 100)))
        }
        Vector("q78_probe" -> p78, "q79_probe" -> p79, "q89_probe" -> p89,
          "q128_probe" -> p128,
          "q189_reload_probe" -> p189, "q189_point_probe" -> p189point,
          "q78_reload_probe" -> p78r,
          "q192_batch_probe" -> p192, "q196_ivfpq_probe" -> p196)
      } catch {
        case e: Throwable =>
          // Probe failure must not cost the run its full-query artifact,
          // but it must be diagnosable from stderr alone (round 12: a
          // class-name-only log hid which call threw).
          System.err.println(
            s"[bench] ANN probes failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
          e.getStackTrace.take(8).foreach(f => System.err.println(s"  at $f"))
          Vector.empty
      }
    probeTimes.foreach { case (n, s) =>
      System.err.println(f"[bench] $n $s%.3f s (warm, min of 3)")
    }
    // The stdout line carries the FULL per-query map (round 21): the
    // r20 VERDICT confirmed the driver parses a 13 KB line fine, and
    // the compact `queries:{}` summary this replaced left the driver's
    // per-query diff, geomean and scaling block EMPTY two rounds
    // running (PERF_r20 `n_common: 0`) — structurally blinding every
    // optimization round. The same record still lands in
    // bench_full.json (and incrementally in bench_partial.json) as the
    // crash-surviving artifact.
    val full = resultsJson(done, failed, flaky, load, probeTimes)
    if (!narrowed)
      Files.write(Paths.get("bench_full.json"), (full + "\n").getBytes,
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING,
        StandardOpenOption.WRITE)
    println(full)
    spark.stop()
  }
}
