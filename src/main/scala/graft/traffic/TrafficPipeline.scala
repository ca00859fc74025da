package graft.traffic

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession
import graft.ml.TrafficModels
import graft.operators.Similarity

/** The reference's `TrafficAnalysis.main()` equivalent, end-to-end
  * (`TrafficAnalysis.py:441-497`): acquire → normalize → the seven
  * analyses → the model battery — what a user of the reference runs
  * today, re-expressed on the engine. Chart rendering is out of scope;
  * each analysis returns (and `main` prints) the exact table the
  * reference's matplotlib figures consume.
  *
  * Usage: `runMain graft.traffic.TrafficPipeline <source> [--ml]` —
  * `source` is an `http(s)://` endpoint speaking the Socrata paging
  * dialect (the reference's live mode, `TrafficAnalysis.py:31-53`) or a
  * local JSONL landing file (SURVEY.md A1).
  */
object TrafficPipeline {

  /** Stage 1-2: acquire via the paged source + normalize. An
    * `http(s)://` source selects the HTTP page endpoint (live Socrata
    * mode); anything else is read as a local JSONL landing file. */
  def load(spark: SparkSession, source: String, pageSize: Int = 1000): DataFrame = {
    val reader = spark.read.format("paged-json").option("pageSize", pageSize)
    val bound =
      if (source.startsWith("http://") || source.startsWith("https://"))
        reader.option("url", source)
      else reader.option("path", source)
    Normalize(bound.load())
  }

  /** Stage 4: the seven batch analyses (TA:455-468 order), run eagerly
    * and returned as local tables (reading one runs no Spark job), each
    * equal to its lazy [[TrafficAnalytics]] query row for row. The six
    * grouped analyses come from ONE grouping-sets aggregate
    * ([[TrafficAnalytics.fused]]; `traffic_by_date` and `busiest_dates`
    * share its per-date set); the correlation heatmap is its own one-row
    * aggregate (see [[TrafficAnalytics.correlationMatrix]] for why it
    * cannot join the grouping sets). The two run concurrently; the first
    * failing one's error fails the call. */
  def analyses(norm: DataFrame): Seq[(String, DataFrame)] = {
    val grouped = Seq(
      "busiest_streets" -> TrafficAnalytics.busiest(10),
      "traffic_by_date" -> TrafficAnalytics.ByDate,
      "busiest_dates" -> TrafficAnalytics.busiestDays(10),
      "peak_hours" -> TrafficAnalytics.ByHour,
      "directional_traffic" -> TrafficAnalytics.ByDirection,
      "borough_traffic" -> TrafficAnalytics.ByBorough)
    val heatmap +: tables = Similarity.inParallel(
      () => Seq(TrafficAnalytics.collected(TrafficAnalytics.correlationMatrix(norm,
        Seq("volume", "hour", "day_of_week", "is_weekend")))),
      () => TrafficAnalytics.fused(norm, grouped.map(_._2))).flatten
    ("correlation_heatmap" -> heatmap) +: grouped.map(_._1).zip(tables)
  }

  /** Stage 5: the model battery (TA:473-491) — regression on
    * (segment_id, hour), three classifiers on the derived labels. */
  def models(norm: DataFrame, numTrees: Int = 100): Seq[(String, String)] = {
    val labeled = TrafficAnalytics.withTrafficCategory(
      TrafficAnalytics.withPeakFlag(TrafficAnalytics.withAbnormalFlag(
        norm.na.drop(Seq("volume", "hour", "segment_id")))))
    val (train, test) = TrafficModels.split(labeled)
    val (_, regPred) = TrafficModels.rfRegression(
      train, test, Seq("segment_id", "hour"), "volume", numTrees)
    val (mse, r2) = TrafficModels.regressionMetricsSql(regPred, "volume")
    val clfReports = Seq(
      "traffic_category" -> "traffic_category",
      "peak_hours" -> "is_peak_hour",
      "abnormal_traffic" -> "is_abnormal").map { case (name, label) =>
      val (_, pred) = TrafficModels.rfClassification(
        train, test, Seq("volume", "hour", "day_of_week"),
        label, numTrees)
      val acc = pred.filter(org.apache.spark.sql.functions.col("prediction") ===
        org.apache.spark.sql.functions.col("__label")).count().toDouble / pred.count()
      name -> f"accuracy=$acc%.3f"
    }
    (("rf_regression", f"mse=$mse%.2f r2=$r2%.3f")) +: clfReports
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: TrafficPipeline <http(s)://endpoint | landing.jsonl> [--ml]")
    val spark = GraftSession.local()
    val norm = load(spark, args(0)).persist()
    println(s"normalized rows: ${norm.count()}")
    analyses(norm).foreach { case (name, df) =>
      println(s"\n== $name ==")
      df.show(10, truncate = false)
    }
    if (args.contains("--ml"))
      models(norm).foreach { case (n, m) => println(s"$n: $m") }
    spark.stop()
  }
}
