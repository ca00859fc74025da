package graft.traffic

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** The dashboard's six figures (`Dash.update_graphs`, `Dash.py:148-252`;
  * SURVEY.md §3.2) over one snapshot frame. Like `update_graphs`, which
  * returns all six figures from one fetched snapshot, one tick is ONE
  * eager pass: [[figures]] answers the four grouped figures from one
  * grouping-sets aggregate ([[TrafficAnalytics.fused]]) and runs it
  * concurrently with the capped map projection, the tick's only other
  * query, and returns their tables already collected. Every consumer
  * reads the immutable published snapshot
  * ([[graft.streaming.SnapshotRefresh.SnapshotStore]]), which removes the
  * reference's reader/writer race by construction.
  *
  * Expects the dashboard-variant normalized frame
  * ([[Dashboard.prepare]]): long table + `datetime` + WGS84 lat/lon.
  */
object Dashboard {

  /** Dash.py's `fetch_and_process_data`: normalize + timestamp + lat/lon
    * (reprojection applied to EVERY snapshot — deliberately fixing the
    * reference bug where only the first snapshot was reprojected,
    * SURVEY.md §7.4.7a). */
  def prepare(raw: DataFrame): DataFrame =
    Normalize.deriveLatLon(Normalize.deriveTimestamp(Normalize(raw)))

  /** Dropdown options (D39). */
  def streetOptions(snapshot: DataFrame): DataFrame =
    snapshot.select(col("street")).where(col("street").isNotNull)
      .distinct().orderBy(asc("street"))

  /** All six figures, keyed as in the reference's callback. The selected
    * street's series, the top-5 streets, the latest day's hours and the
    * borough totals come from ONE grouping-sets aggregate (the pie and
    * the bar chart share its borough table); it runs concurrently with
    * the map projection, the only other query of a tick. Each table
    * equals its figure's lazy [[TrafficAnalytics]] query, row for
    * row, and comes back as a local DataFrame over its collected rows:
    * a caller's `collect()` runs no job. The first failing query's error
    * fails the call. */
  def figures(snapshot: DataFrame, selectedStreet: String): Seq[(String, DataFrame)] = {
    val Seq(series, top, latest, boroughs, points) = Similarity.inParallel(
      () => TrafficAnalytics.fused(snapshot, Seq(
        TrafficAnalytics.series(selectedStreet), TrafficAnalytics.busiest(5),
        TrafficAnalytics.LatestDay, TrafficAnalytics.ByBorough)),
      () => Seq(TrafficAnalytics.collected(TrafficAnalytics.mapPoints(snapshot)))).flatten
    Seq(
      "street_time_series" -> series,
      "top_streets" -> top,
      "latest_day_hourly" -> latest,
      "borough_pie" -> boroughs,
      "borough_bar" -> boroughs,
      "map_points" -> points)
  }
}
