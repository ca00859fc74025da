package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.storage.StorageLevel

import graft.traffic.{Dashboard, Normalize, TrafficAnalytics, TrafficPipeline}
import graft.ml.TrafficModels

/** The paper's own pipeline on a seeded JSONL landing: one batch pass
  * (paged ingest → normalize → 7 analyses), then a closed loop of
  * dashboard refreshes, each doing what one `SnapshotRefresh.pollSnapshot`
  * tick does: re-read the landing, run `Dashboard.prepare`, collect all
  * six figures. The model battery's random forests cost ~100 ms per Spark
  * job and dozens of jobs per fit, so they run in the traced run only
  * (`ml.*`), at a reduced tree count. */
object TrafficWorkload extends Workload {
  val Rows = 5000
  val PageSize = 1000
  val Trees = 3
  val RefreshWarmup = 5
  val MinRefreshes = 4

  final case class Inputs(landing: String, expected: Gen.TrafficExpected)

  def sizes: Map[String, Any] = Map("landing_rows" -> Rows, "page_size" -> PageSize,
    "rf_trees" -> Trees)

  def prepare(run: Run, dir: String): Inputs = {
    val path = s"$dir/landing.jsonl"
    Inputs(path, Gen.trafficLanding(path, Rows, run.seed))
  }

  private def boroughRows(rows: Seq[Row]): Seq[(String, Long)] =
    rows.map(r => (r.getString(0), r.getLong(1)))

  def execute(run: Run, in: Inputs): Unit = {
    val spark = run.spark
    val exp = in.expected
    val t = run.trace
    def read(): DataFrame = spark.read.format("paged-json")
      .option("pageSize", PageSize).option("path", in.landing).load()

    // Batch pass: load → normalize (persisted, as `TrafficPipeline.main`
    // does) → the seven analyses collected.
    def pipeline(): (Long, Map[String, Seq[Row]]) = {
      val norm = t.span("traffic.load")(TrafficPipeline.load(spark, in.landing, PageSize))
        .persist()
      try {
        val n = t.span("traffic.load.count")(norm.count())
        (n, t.span("traffic.analyses") {
          TrafficPipeline.analyses(norm).map { case (name, df) =>
            name -> t.span(s"traffic.analysis.$name")(df.collect().toSeq)
          }.toMap
        })
      } finally norm.unpersist(blocking = true)
    }
    // Dashboard refresh: what one `SnapshotRefresh.pollSnapshot` tick does.
    def refresh(): Seq[(String, Long)] = {
      val snap = t.span("traffic.dashboard.prepare")(Dashboard.prepare(read()))
      val figs = t.span("traffic.dashboard.figures") {
        Dashboard.figures(snap, exp.topStreet).map { case (name, df) => name -> df.collect().toSeq }
      }.toMap
      boroughRows(figs("borough_pie"))
    }

    // The batch is timed as the user pays it: the first pass after
    // set-up, cold JIT and codegen included.
    val (firstS, (rows, analyses)) = run.step("traffic.pipeline")(pipeline())
    run.metric("batch_s", firstS, "s")
    run.metric("traffic.first_pass_s", firstS, "s")
    run.metric("retained_mb", run.retainedHeapMb(), "MB")
    run.note("batch done")

    // Closed loop of refreshes, after warm-up ones that leave the figure
    // queries' JIT and codegen warm.
    val published = mutable.ArrayBuffer[Seq[(String, Long)]]()
    for (_ <- 1 to RefreshWarmup) run.op("traffic.refresh.warmup")(published += refresh())
    run.note("refresh warm")
    run.loop("traffic.refresh", run.seconds, MinRefreshes)(published += refresh())
    run.note("refresh loop done")
    run.metric("op_s", run.median("traffic.refresh"), "s")

    run.check("traffic.normalized_rows", rows == exp.rows,
      s"got $rows, generator says ${exp.rows}")
    val boroughs = boroughRows(analyses("borough_traffic"))
    run.check("traffic.borough_totals", boroughs == exp.boroughTotals,
      s"got $boroughs, generator says ${exp.boroughTotals}")
    val top = analyses("busiest_streets").headOption.map(_.getString(0)).orNull
    run.check("traffic.top_street", top == exp.topStreet,
      s"got $top, generator says ${exp.topStreet}")
    run.check("traffic.refresh_totals", published.forall(_ == exp.boroughTotals),
      s"${published.count(_ != exp.boroughTotals)} of ${published.size} refreshes published other totals")

    if (run.traced) {
      val norm = TrafficPipeline.load(spark, in.landing, PageSize).persist()
      layerProbes(run, read(), norm)
      norm.unpersist(blocking = true)
      Expressions.probe(run)
    }
  }

  /** Traced run only, after the measured window: split the lazily fused
    * scan → normalize → prepare chain at materialized boundaries, and
    * time one regression and one classification fit of the battery. */
  private def layerProbes(run: Run, raw: DataFrame, norm: DataFrame): Unit = {
    val t = run.trace
    t.span("sources.pagedjson.scan")(run.noop(raw))
    val scan = t.named("sources.pagedjson.scan").last
    t.drain()
    run.metric("sources.pagedjson.scan_s", scan.seconds, "s")
    run.metric("sources.pagedjson.tasks", t.inclusive(scan).tasks.toDouble, "count")
    run.metric("sources.pagedjson.rows_per_s", Rows / scan.seconds, "1/s")

    val rawP = raw.persist(StorageLevel.MEMORY_ONLY)
    rawP.count()
    run.metric("traffic.normalize_s",
      run.spanSeconds("traffic.normalize")(run.noop(Normalize(rawP))), "s")
    run.metric("traffic.dashboard.prepare_s",
      run.spanSeconds("traffic.dashboard.prepare.probe")(run.noop(Dashboard.prepare(rawP))), "s")
    val snap = Dashboard.prepare(rawP).persist(StorageLevel.MEMORY_ONLY)
    snap.count()
    run.metric("traffic.dashboard.figures_s", run.spanSeconds("traffic.dashboard.figures.probe") {
      Dashboard.figures(snap, "unused").foreach { case (_, df) => df.collect() }
    }, "s")
    snap.unpersist(blocking = true); rawP.unpersist(blocking = true)

    def median(span: String): Double = Stats.median(t.named(span).map(_.seconds))
    run.metric("traffic.analyses_s", median("traffic.analyses"), "s")
    Metrics.Analyses.foreach(a => run.metric(s"traffic.analysis.${a}_s", median(s"traffic.analysis.$a"), "s"))

    val labeled = TrafficAnalytics.withTrafficCategory(TrafficAnalytics.withPeakFlag(
      TrafficAnalytics.withAbnormalFlag(norm.na.drop(Seq("volume", "hour", "segment_id")))))
    val (train, test) = TrafficModels.split(labeled)
    run.metric("ml.rf_regression_s", run.spanSeconds("ml.rf_regression") {
      TrafficModels.rfRegression(train, test, Seq("segment_id", "hour"), "volume", Trees)._2.count()
    }, "s")
    run.metric("ml.rf_classification_s", run.spanSeconds("ml.rf_classification") {
      TrafficModels.rfClassification(train, test, Seq("volume", "hour", "day_of_week"),
        "traffic_category", Trees)._2.count()
    }, "s")
    t.drain()
    val ml = Seq("ml.rf_regression", "ml.rf_classification").map(n => t.named(n).head)
    run.metric("ml.jobs", ml.map(s => t.inclusive(s).jobs).sum.toDouble, "count")
  }
}
