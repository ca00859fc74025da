package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** A workload: seeded inputs, then the timed calls into the engine. */
trait Workload {
  type Inputs
  /** Input sizes, recorded beside the metrics. */
  def sizes: Map[String, Any]
  /** Generate this run's inputs under `dir` (part of set-up time). */
  def prepare(run: Run, dir: String): Inputs
  /** Batch pass, closed loop and checks; sets `batch_s` and `op_s`, and
    * in a traced run the per-layer metrics of the layers it drives. */
  def execute(run: Run, in: Inputs): Unit
}

/** Every metric the benchmark reports, with its unit. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "batch_s" -> "s", "op_s" -> "s", "retained_mb" -> "MB")

  val Analyses: Seq[String] = Seq("correlation_heatmap", "busiest_streets",
    "traffic_by_date", "busiest_dates", "peak_hours", "directional_traffic", "borough_traffic")

  val Queries: Seq[String] = Seq("q64_dedup_corpus")

  val Families: Seq[String] = Seq("ivf", "minhash")

  val Expressions: Seq[String] = Seq("minhash_sig", "simhash64", "l2_argmin_code",
    "hyperplane_bucket64", "pq_adc_score")

  val PerLayer: Seq[(String, String)] =
    Seq("sources.pagedjson.scan_s" -> "s", "sources.pagedjson.tasks" -> "count",
      "sources.pagedjson.rows_per_s" -> "1/s",
      "traffic.first_pass_s" -> "s", "traffic.normalize_s" -> "s", "traffic.analyses_s" -> "s") ++
    Analyses.map(a => s"traffic.analysis.${a}_s" -> "s") ++
    Seq("traffic.dashboard.prepare_s" -> "s", "traffic.dashboard.figures_s" -> "s",
      "ml.rf_regression_s" -> "s", "ml.rf_classification_s" -> "s", "ml.jobs" -> "count",
      "queries.builder_s" -> "s", "queries.action_s" -> "s",
      "queries.builder_jobs" -> "count", "queries.action_jobs" -> "count") ++
    Queries.flatMap(q => Seq(s"queries.$q.builder_s" -> "s", s"queries.$q.action_s" -> "s")) ++
    Families.flatMap(f =>
      Seq("fit", "write", "append", "load", "probe", "delete", "compact")
        .map(v => s"operators.$f.${v}_s" -> "s") ++
      Seq(s"operators.$f.files" -> "count", s"operators.$f.bytes" -> "bytes",
        s"operators.$f.recall_at_10" -> "ratio")) ++
    Seq("operators.space_ratio" -> "ratio") ++
    Expressions.map(e => s"expressions.${e}_ns_per_row" -> "ns/row") ++
    Seq("spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.shuffle_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
      "spark.input_bytes" -> "bytes", "spark.core_utilization" -> "ratio",
      "setup.session_s" -> "s", "setup.inputs_s" -> "s", "jvm.peak_rss_mb" -> "MB")
}

/** Benchmark entry point. Runs one workload in this JVM and writes its result
  * (and, when traced, its spans) as JSON.
  *
  * Usage: `perfbench.Main --workload <traffic|corpus> --seed <n>
  *   --seconds <s> --trace <0|1> --dir <scratch dir> --out <result.json>
  *   [--trace-out <spans.json>]`
  *
  * Everything the run writes goes under `--dir`, which the caller owns. */
object Main {
  val Workloads: Map[String, Workload] = Map(
    "traffic" -> TrafficWorkload, "corpus" -> CorpusWorkload)

  /** Set-up is repeated this many times (session start + inputs) and its
    * median reported; the first one counts from JVM start. */
  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val workload = Workloads.getOrElse(name, sys.error(s"unknown workload '$name'"))
    val dir = opts("dir")
    val trace = new Trace(opts("trace") == "1", java.util.UUID.randomUUID().toString)
    val run = new Run(name, opts("seed").toLong, opts("seconds").toDouble, trace, dir)
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

    def session(): SparkSession = {
      val s = GraftSession.builder(cores, cores)
        .config("spark.local.dir", s"$dir/spark-local")
        .config("spark.sql.warehouse.dir", s"$dir/warehouse")
        .config("graft.landing.dir", s"$dir/landing")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }

    // Set-up, repeated: the JVM's own start counts toward the first.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    var inputs: workload.Inputs = null.asInstanceOf[workload.Inputs]
    val setups = (0 until SetupRepeats).map { i =>
      val t0 = if (i == 0) System.nanoTime() - (System.currentTimeMillis() - jvmStartMs) * 1000000L
               else System.nanoTime()
      run.spark = session()
      val t1 = System.nanoTime()
      val inDir = s"$dir/inputs$i"
      Files.createDirectories(Paths.get(inDir))
      inputs = workload.prepare(run, inDir)
      val t2 = System.nanoTime()
      if (i < SetupRepeats - 1) {
        run.spark.stop()
        deleteTree(inDir)
      }
      System.err.println(f"perfbench: set-up $i: session ${(t1 - t0) / 1e9}%.2f s, inputs ${(t2 - t1) / 1e9}%.2f s")
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }
    run.metric("setup_s", Stats.median(setups.map(s => s._1 + s._2)), "s")
    run.metric("setup.session_s", Stats.median(setups.map(_._1)), "s")
    run.metric("setup.inputs_s", Stats.median(setups.map(_._2)), "s")

    trace.attach(run.spark)
    val t0 = System.nanoTime()
    try workload.execute(run, inputs)
    catch {
      case e: Throwable =>
        run.check("workload.completed", ok = false, s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    }
    val wall = (System.nanoTime() - t0) / 1e9
    System.err.println(f"perfbench: workload ran $wall%.2f s")
    run.metric("jvm.peak_rss_mb", peakRssMb(), "MB")

    if (trace.enabled) {
      trace.drain()
      val c = trace.total
      run.metric("spark.jobs", c.jobs.toDouble, "count")
      run.metric("spark.stages", c.stages.toDouble, "count")
      run.metric("spark.tasks", c.tasks.toDouble, "count")
      run.metric("spark.shuffle_bytes", c.shuffleBytes.toDouble, "bytes")
      run.metric("spark.spill_bytes", c.spillBytes.toDouble, "bytes")
      run.metric("spark.input_bytes", c.inputBytes.toDouble, "bytes")
      run.metric("spark.core_utilization", c.runMs / 1000.0 / (wall * cores), "ratio")
      opts.get("trace-out").foreach(p => write(p, trace.toJson(Map(
        "workload" -> name, "seed" -> run.seed, "cores" -> cores))))
    }

    val declared = if (trace.enabled) Metrics.PerLayer else Metrics.EndToEnd
    // A layer this workload never calls did no work: it reports zero.
    val metrics = declared.map { case (m, unit) =>
      m -> Map("value" -> run.metrics.get(m).map(_._1).getOrElse(0.0), "unit" -> unit)
    }.toMap
    val extra = run.metrics.filter { case (m, _) => !declared.exists(_._1 == m) }
      .map { case (m, (v, u)) => m -> Map("value" -> v, "unit" -> u) }.toMap
    write(opts("out"), Json(Map(
      "workload" -> name, "seed" -> run.seed, "cores" -> cores, "sizes" -> workload.sizes,
      "attempted" -> run.samples.size, "failed" -> run.samples.count(_.error.nonEmpty),
      "errors" -> run.samples.flatMap(_.error).groupBy(identity).map { case (k, v) => k -> v.size },
      "checks" -> run.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "metrics" -> metrics, "other_metrics" -> extra,
      "operations" -> run.samples.groupBy(_.name).map { case (n, ss) =>
        n -> Map("count" -> ss.size, "median_s" -> run.median(n), "total_s" -> ss.map(_.seconds).sum,
          "samples_s" -> ss.map(_.seconds))
      },
      "oracle_tables" -> run.oracleTables,
      "oracle" -> run.oracle.map { case (q, p, sql) => Map("query" -> q, "path" -> p, "sql" -> sql) })))
    run.spark.stop()
  }

  private def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), StandardCharsets.UTF_8)
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  private def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }
  }
}
