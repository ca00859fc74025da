package graft.traffic

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.traffic.Normalize.{directionLabel, volumeBin}

/** The reference's analysis battery over the normalized long traffic
  * table — seven batch analyses (`TrafficAnalysis.py:220-349`), the six
  * dashboard queries (`Dash.py:148-252`) and the anomaly/labeling layer
  * (`TrafficAnalysis.py:352-433`), each as a lazy DataFrame builder the
  * caller collects (chart rendering is out of engine scope; the engine's
  * deliverable is the result table each chart consumes — SURVEY.md §7.5).
  *
  * All are hash group-bys over low-cardinality keys → partial+final
  * HashAggregate, TakeOrderedAndProject for top-k; nothing here shuffles
  * more than |distinct keys| rows. Full (non-top-k) outputs are ordered
  * in ONE task (`ordered`), not by a global sort.
  */
object TrafficAnalytics {

  /** pandas `groupby` drops NaN keys (dropna=True default); Spark keeps a
    * null group. Every analysis filters null keys for exact reference
    * parity (SURVEY.md §5.2 adversarial note). */
  private def byKey(df: DataFrame, key: Column): DataFrame =
    df.where(key.isNotNull)

  /** pandas `sum()` over an all-NaN group returns 0 (min_count=0); SQL
    * returns NULL — coalesce for parity (SURVEY.md §7.4.3). */
  private def sum0(c: String): Column = coalesce(sum(c), lit(0L))

  /** Total order for an output bounded by a small key domain (hours,
    * dates, boroughs, directions, one street's timestamps): its size
    * does not grow with the input, so one task sorts it all. A global
    * `orderBy` would plan a range exchange under AQE instead — a
    * bound-sampling job, a shuffle and a result job — which for these
    * outputs costs more than the sort itself. The task also merges the
    * partial aggregates, at most (map tasks × keys) rows (SCALE.md
    * §Aggregations). */
  private def ordered(df: DataFrame, by: Column*): DataFrame =
    df.coalesce(1).sortWithinPartitions(by: _*)

  /** D26/E44 — "busiest streets": top-k by total volume (tie-break on
    * street for determinism; pandas keeps insertion order). */
  def busiestStreets(df: DataFrame, k: Int = 10): DataFrame =
    byKey(df, col("street")).groupBy(col("street"))
      .agg(sum0("volume").as("total_volume"), avg("volume").as("avg_volume"))
      .orderBy(desc("total_volume"), asc("street"))
      .limit(k)

  /** D27 — traffic volume over time (time-series by date). */
  def trafficByDate(df: DataFrame): DataFrame =
    ordered(byKey(df, col("date")).groupBy(col("date"))
      .agg(sum0("volume").as("total_volume")), asc("date"))

  /** E44 — busiest dates: top-k days by volume. */
  def busiestDates(df: DataFrame, k: Int = 10): DataFrame =
    byKey(df, col("date")).groupBy(col("date"))
      .agg(sum0("volume").as("total_volume"))
      .orderBy(desc("total_volume"), asc("date"))
      .limit(k)

  /** D28 — peak hours: volume by hour-of-day. */
  def peakHours(df: DataFrame): DataFrame =
    ordered(byKey(df, col("hour")).groupBy(col("hour"))
      .agg(sum0("volume").as("total_volume")), desc("total_volume"), asc("hour"))

  /** F53/D25 — directional traffic: code → compass label then group-sum
    * (unmapped codes → null group, as pandas map). */
  def directionalTraffic(df: DataFrame): DataFrame = {
    val labeled = df.withColumn("direction_label", directionLabel(col("direction_code")))
    ordered(byKey(labeled, col("direction_label"))
      .groupBy(col("direction_label"))
      .agg(sum0("volume").as("total_volume")), asc("direction_label"))
  }

  /** D24 — borough totals. */
  def boroughTraffic(df: DataFrame): DataFrame =
    ordered(byKey(df, col("borough")).groupBy(col("borough"))
      .agg(sum0("volume").as("total_volume")), desc("total_volume"), asc("borough"))

  /** D37 — pairwise Pearson correlation matrix over numeric columns:
    * all n² pairs in ONE aggregate pass (n is small — this is a single
    * row of n² corr aggregates, not n² scans like the reference). */
  def correlationMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = for (a <- cols; b <- cols)
      yield corr(col(a), col(b)).as(s"${a}__$b")
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** D34/D36 — summary statistics per column (describe analog). */
  def summaryStats(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(col): _*)
      .summary("count", "mean", "stddev", "min", "25%", "50%", "75%", "max")

  // ----- dashboard queries (Dash.py:148-252) -----

  /** C19 — per-street time series (dashboard line chart). */
  def streetTimeSeries(df: DataFrame, street: String): DataFrame =
    ordered(byKey(df.filter(col("street") === lit(street)), col("datetime"))
      .groupBy(col("datetime"))
      .agg(sum0("volume").as("volume")), asc("datetime"))

  /** D29/E45 — top-5 streets (dashboard bar chart). */
  def topStreets(df: DataFrame, k: Int = 5): DataFrame =
    busiestStreets(df, k)

  /** C20/D30 — hourly volumes on the latest day in the data. One
    * aggregation by (day, hour), then the latest day's rows picked in
    * the single ordering task: its input is bounded by days × 24. A
    * max-date subquery would be a stage and a broadcast that the main
    * scan waits for — the longest job chain of a dashboard tick. A null
    * `datetime` never equals the max day, so null keys drop as in
    * [[byKey]]. */
  def latestDayHourly(df: DataFrame): DataFrame = {
    val byDayHour = df
      .groupBy(to_date(col("datetime")).as("day"), hour(col("datetime")).as("hour"))
      .agg(sum0("volume").as("volume"))
    // Unpartitioned window over one partition: no exchange.
    val latest = byDayHour.coalesce(1)
      .withColumn("max_day", max(col("day")).over(Window.partitionBy()))
      .where(col("day") === col("max_day"))
    ordered(latest.select(col("hour"), col("volume")), asc("hour"))
  }

  /** Map projection (bounded: the only full-row projection, capped). */
  def mapPoints(df: DataFrame, cap: Int = 100000): DataFrame =
    df.select(col("latitude"), col("longitude"), col("volume"),
        col("street"), col("borough"))
      .where(col("latitude").isNotNull && col("longitude").isNotNull)
      .limit(cap)

  // ----- anomaly / labeling layer (TrafficAnalysis.py:352-433) -----

  /** C21 — 3σ outlier flag (global mean/stddev as 1-row broadcast). */
  def withAbnormalFlag(df: DataFrame): DataFrame = {
    val stats = df.agg(
      avg("volume").as("__mu"), stddev_samp(col("volume")).as("__sigma"))
    df.crossJoin(broadcast(stats))
      .withColumn("is_abnormal",
        when(col("volume") > col("__mu") + lit(3) * col("__sigma") ||
             col("volume") < col("__mu") - lit(3) * col("__sigma"), 1)
          .otherwise(0))
      .drop("__mu", "__sigma")
  }

  /** C22 — peak flag: volume ≥ exact 75th percentile (pandas quantile
    * interpolation = Spark exact `percentile`). */
  def withPeakFlag(df: DataFrame): DataFrame = {
    val thr = df.agg(percentile(col("volume"), lit(0.75)).as("__p75"))
    df.crossJoin(broadcast(thr))
      .withColumn("is_peak_hour",
        when(col("volume") >= col("__p75"), 1).otherwise(0))
      .drop("__p75")
  }

  /** F55 — traffic-condition label column (Low/Medium/High). */
  def withTrafficCategory(df: DataFrame): DataFrame =
    df.withColumn("traffic_category", volumeBin(col("volume")))
}
