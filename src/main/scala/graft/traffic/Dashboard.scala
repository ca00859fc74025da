package graft.traffic

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** The dashboard's six figures (`Dash.update_graphs`, `Dash.py:148-252`;
  * SURVEY.md §3.2) over one snapshot frame. Like `update_graphs`, which
  * returns all six figures from one fetched snapshot, one tick is ONE
  * eager pass: [[figures]] runs the figure queries concurrently and
  * returns their result tables already collected. Every consumer reads
  * the immutable published snapshot
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

  /** All six figures, keyed as in the reference's callback. The five
    * distinct figure queries run concurrently (the pie and the bar chart
    * share one borough table), so one tick pays the Spark job floor once
    * rather than once per figure. Each table comes back as a local
    * DataFrame over its collected rows: a caller's `collect()` runs no
    * job. The first failing query's error fails the call. */
  def figures(snapshot: DataFrame, selectedStreet: String): Seq[(String, DataFrame)] = {
    val queries = Seq(
      TrafficAnalytics.streetTimeSeries(snapshot, selectedStreet),
      TrafficAnalytics.topStreets(snapshot),
      TrafficAnalytics.latestDayHourly(snapshot),
      TrafficAnalytics.boroughTraffic(snapshot),
      TrafficAnalytics.mapPoints(snapshot))
    val tables = new Array[DataFrame](queries.size)
    Similarity.inParallel(queries.zipWithIndex.map { case (q, i) =>
      () => tables(i) = q.sparkSession.createDataFrame(q.collect().toSeq.asJava, q.schema)
    }: _*)
    val Array(series, top, latest, boroughs, points) = tables
    Seq(
      "street_time_series" -> series,
      "top_streets" -> top,
      "latest_day_hourly" -> latest,
      "borough_pie" -> boroughs,
      "borough_bar" -> boroughs,
      "map_points" -> points)
  }
}
