package graft.traffic

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DashboardSpec extends SparkSpec {

  // The fixture plus its out-of-range rows (hour 1000, month 13): every
  // figure must still build over a snapshot that holds them.
  private lazy val snapshot = Dashboard.prepare(
    TrafficFixture.raw(spark, 400).union(TrafficFixture.outOfRange(spark))).cache()

  /** Each figure's lazy query, as `Dashboard.figures` names it. */
  private def lazyFigures(street: String) = Seq(
    "street_time_series" -> TrafficAnalytics.streetTimeSeries(snapshot, street),
    "top_streets" -> TrafficAnalytics.topStreets(snapshot),
    "latest_day_hourly" -> TrafficAnalytics.latestDayHourly(snapshot),
    "borough_pie" -> TrafficAnalytics.boroughTraffic(snapshot),
    "borough_bar" -> TrafficAnalytics.boroughTraffic(snapshot),
    "map_points" -> TrafficAnalytics.mapPoints(snapshot))

  private def jobsOf[T](body: => T): (T, Int) = graft.JobCount(spark)(body)

  test("prepare adds datetime and WGS84 coordinates to every snapshot") {
    assert(snapshot.columns.contains("datetime"))
    // fixture's realistic state-plane coords (x ≈ 997k ft) land in NYC;
    // adversarial POINT(1 2) rows legitimately reproject far away
    val r = snapshot.where(col("latitude").isNotNull && col("x_coord") > 900000)
      .select("latitude", "longitude").collect()
    assert(r.nonEmpty)
    assert(r.forall { row =>
      val (lat, lon) = (row.getDouble(0), row.getDouble(1))
      lat > 39 && lat < 42 && lon > -75 && lon < -72
    })
  }

  test("out-of-range hour and month give a null datetime, not a failed tick") {
    val dt = snapshot.where(col("request_id").isin("9030", "9031"))
      .select("datetime").collect()
    assert(dt.length == 2 && dt.forall(_.isNullAt(0)))
    val series = Dashboard.figures(snapshot, "BROADWAY").toMap
      .apply("street_time_series").collect()
    assert(series.nonEmpty && series.forall(!_.isNullAt(0)))
  }

  test("all six dashboard figures produce rows; street filter applies") {
    val figs = Dashboard.figures(snapshot, "BROADWAY").toMap
    assert(figs.size == 6)
    figs.foreach { case (name, df) =>
      assert(df.count() > 0, s"$name empty")
    }
    assert(figs("top_streets").count() <= 5)
  }

  test("eager figures equal each figure's lazy query, row for row and in order") {
    Seq("BROADWAY", "NO SUCH STREET").foreach { street =>
      val figs = Dashboard.figures(snapshot, street)
      val want = lazyFigures(street)
      assert(figs.map(_._1) == want.map(_._1))
      figs.zip(want).foreach { case ((name, got), (_, q)) =>
        assert(got.schema == q.schema, s"$street/$name schema")
        assert(got.collect().toSeq == q.collect().toSeq, s"$street/$name rows")
      }
      if (street == "NO SUCH STREET")
        assert(figs.toMap.apply("street_time_series").collect().isEmpty)
    }
  }

  test("latest-day hourly: the max day's hours only, all-null volume -> 0") {
    import spark.implicits._
    val df = Seq[(String, Option[Long])](
      ("2024-03-01 05:00:00", Some(10L)), ("2024-03-02 01:00:00", Some(3L)),
      ("2024-03-02 01:30:00", Some(4L)), ("2024-03-02 07:00:00", None),
      ("2024-03-02 23:00:00", Some(1L)), (null, Some(99L)))
      .toDF("ts", "volume").select(to_timestamp(col("ts")).as("datetime"), col("volume"))
    val got = TrafficAnalytics.latestDayHourly(df).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(got == Seq((1, 7L), (7, 0L), (23, 1L)))
  }

  test("the pie and the bar chart share one borough table") {
    val figs = Dashboard.figures(snapshot, "BROADWAY").toMap
    assert(figs("borough_pie") eq figs("borough_bar"))
    assert(figs("borough_pie").collect().toSeq == figs("borough_bar").collect().toSeq)
  }

  test("a failing figure query fails the call with that query's error") {
    // Only map_points reads latitude, so exactly one figure query fails.
    val broken = snapshot.withColumn("latitude",
      when(col("volume") >= 0, raise_error(lit("map points broke")))
        .otherwise(col("latitude")))
    val e = intercept[Exception](Dashboard.figures(broken, "BROADWAY"))
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage))
    assert(messages.exists(_.contains("map points broke")), e.toString)
  }

  test("one figures call runs at most 3 jobs; reading its tables runs none") {
    // Measured 3 on this cached snapshot: a map stage and a result job
    // for the one grouping-sets aggregate behind the four grouped
    // figures, 1 for the capped map points.
    val (figs, figureJobs) = jobsOf(Dashboard.figures(snapshot, "BROADWAY"))
    assert(figureJobs > 0 && figureJobs <= 3, s"$figureJobs jobs")
    val (_, readJobs) = jobsOf(figs.foreach { case (_, df) => df.collect() })
    assert(readJobs == 0, s"reading the figure tables ran $readJobs jobs")
  }

  test("street options are distinct and sorted") {
    val opts = Dashboard.streetOptions(snapshot).collect().map(_.getString(0))
    assert(opts.toSeq == opts.toSeq.sorted)
    assert(opts.distinct.length == opts.length)
    assert(opts.contains("BROADWAY"))
  }
}
