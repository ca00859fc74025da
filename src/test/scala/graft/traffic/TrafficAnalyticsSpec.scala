package graft.traffic

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Golden e2e over the 1000-row fixture — the executable replacement for
  * the reference's SC screenshot eyeball-goldens (SURVEY.md §5.2.4). */
class TrafficAnalyticsSpec extends SparkSpec {

  private lazy val norm = Normalize(TrafficFixture.raw(spark, 1000)).cache()

  test("busiest streets: top-10, totals descending, sums correct") {
    val rows = TrafficAnalytics.busiestStreets(norm).collect()
    assert(rows.length == 5) // fixture has 5 streets
    val totals = rows.map(_.getAs[Long]("total_volume"))
    assert(totals.zip(totals.tail).forall { case (a, b) => a >= b })
    val broadway = TrafficAnalytics.busiestStreets(norm)
      .filter(col("street") === "BROADWAY").collect().head
    val expected = norm.filter(col("street") === "BROADWAY")
      .agg(sum("volume")).collect().head.getLong(0)
    assert(broadway.getAs[Long]("total_volume") == expected)
  }

  test("traffic by date equals busiest dates reordered") {
    val byDate = TrafficAnalytics.trafficByDate(norm).collect()
      .map(r => r.getDate(0) -> r.getLong(1)).toMap
    val busiest = TrafficAnalytics.busiestDates(norm, 3).collect()
    assert(busiest.forall(r => byDate(r.getDate(0)) == r.getLong(1)))
    val all = byDate.values.toSeq.sorted.reverse
    assert(busiest.map(_.getLong(1)).toSeq == all.take(3))
  }

  test("peak hours covers all 24 fixture hours") {
    assert(TrafficAnalytics.peakHours(norm).count() == 24)
  }

  test("directional traffic maps codes to compass labels") {
    val got = TrafficAnalytics.directionalTraffic(norm).collect()
      .map(r => Option(r.getString(0))).toSet
    // fixture directions EB,NB,SB,WB -> codes 0..3 -> all four labels
    assert(got == Set(Some("North"), Some("South"), Some("East"), Some("West")))
  }

  test("borough totals partition the global total") {
    val per = TrafficAnalytics.boroughTraffic(norm).collect()
      .map(_.getAs[Long]("total_volume")).sum
    val global = norm.agg(sum("volume")).collect().head.getLong(0)
    assert(per == global)
  }

  test("correlation matrix: corr(x,x)=1, symmetric") {
    val r = TrafficAnalytics.correlationMatrix(norm,
      Seq("volume", "hour", "day_of_week")).collect().head
    assert(math.abs(r.getAs[Double]("volume__volume") - 1.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("volume__hour") -
      r.getAs[Double]("hour__volume")) < 1e-12)
  }

  test("correlation matrix: a constant column gives NaN pairs, as pandas, not a failure") {
    // Weekdays only: is_weekend is 0 on every row. Spark's corr divides
    // by its zero variance, an ANSI DIVIDE_BY_ZERO.
    val weekdays = norm.where(col("is_weekend") === 0)
    val cols = Seq("volume", "hour", "is_weekend")
    val r = TrafficAnalytics.correlationMatrix(weekdays, cols).collect().head
    for (a <- cols; b <- cols) {
      val v = r.getAs[Double](s"${a}__$b")
      if (a == "is_weekend" || b == "is_weekend") assert(v.isNaN, s"${a}__$b = $v")
      else {
        val want = weekdays.agg(corr(col(a), col(b))).collect().head.getDouble(0)
        assert(v == want, s"${a}__$b")
      }
    }
  }

  test("3-sigma abnormal flag: flags exist only outside mu±3sigma") {
    val flagged = TrafficAnalytics.withAbnormalFlag(norm)
    val stats = norm.agg(avg("volume"), stddev_samp(col("volume")))
      .collect().head
    val (mu, sigma) = (stats.getDouble(0), stats.getDouble(1))
    val bad = flagged.filter(col("is_abnormal") === 1)
      .select("volume").collect().map(_.getLong(0))
    assert(bad.forall(v => v > mu + 3 * sigma || v < mu - 3 * sigma))
    val count0 = flagged.filter(col("is_abnormal") === 0).count()
    assert(count0 + bad.length == norm.count())
  }

  test("peak flag: fraction >= p75 is between 15% and 40%") {
    val f = TrafficAnalytics.withPeakFlag(norm)
    val frac = f.filter(col("is_peak_hour") === 1).count().toDouble / f.count()
    assert(frac > 0.15 && frac < 0.40, s"frac=$frac")
  }

  test("latest-day hourly uses only the max date") {
    val withTs = Normalize.deriveTimestamp(norm)
    val maxDay = withTs.agg(max(to_date(col("datetime")))).collect().head.getDate(0)
    val expected = withTs.filter(to_date(col("datetime")) === maxDay)
      .groupBy(hour(col("datetime"))).agg(sum("volume")).count()
    assert(TrafficAnalytics.latestDayHourly(withTs).count() == expected)
  }

  test("summary stats emits the describe rows") {
    val got = TrafficAnalytics.summaryStats(norm, Seq("volume", "hour"))
      .select("summary").collect().map(_.getString(0)).toSeq
    assert(got == Seq("count", "mean", "stddev", "min", "25%", "50%", "75%", "max"))
  }

  test("traffic category column matches bin semantics") {
    val got = TrafficAnalytics.withTrafficCategory(norm)
      .filter(col("volume") === 199).select("traffic_category")
      .collect().map(_.getString(0)).distinct
    assert(got.toSeq == Seq("Medium"))
  }
}
