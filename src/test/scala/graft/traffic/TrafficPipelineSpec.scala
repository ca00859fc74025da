package graft.traffic

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

import graft.SparkSpec

class TrafficPipelineSpec extends SparkSpec {

  /** Render the raw fixture as a paged-JSON landing file. */
  private lazy val landing: String = {
    val rows = TrafficFixture.raw(spark, 300).toJSON.collect()
    val p = tempFile("landing", ".jsonl")
    Files.write(p, rows.mkString("\n").getBytes(StandardCharsets.UTF_8))
    p.toString
  }

  test("end-to-end: paged-JSON landing -> normalize -> all seven analyses") {
    val norm = TrafficPipeline.load(spark, landing, pageSize = 100)
    assert(norm.count() > 250)
    val results = TrafficPipeline.analyses(norm)
    assert(results.map(_._1).toSet.size == 7)
    results.foreach { case (name, df) =>
      assert(df.count() > 0, s"$name returned no rows")
    }
  }

  /** Each analysis's lazy query, as `TrafficPipeline.analyses` names it. */
  private def lazyAnalyses(norm: DataFrame) = Seq(
    "correlation_heatmap" -> TrafficAnalytics.correlationMatrix(norm,
      Seq("volume", "hour", "day_of_week", "is_weekend")),
    "busiest_streets" -> TrafficAnalytics.busiestStreets(norm),
    "traffic_by_date" -> TrafficAnalytics.trafficByDate(norm),
    "busiest_dates" -> TrafficAnalytics.busiestDates(norm),
    "peak_hours" -> TrafficAnalytics.peakHours(norm),
    "directional_traffic" -> TrafficAnalytics.directionalTraffic(norm),
    "borough_traffic" -> TrafficAnalytics.boroughTraffic(norm))

  /** `TrafficPipeline.analyses(norm)`, checked against the lazy queries. */
  private def analysesSameAsLazy(norm: DataFrame): Seq[(String, DataFrame)] = {
    val got = TrafficPipeline.analyses(norm)
    val want = lazyAnalyses(norm)
    assert(got.map(_._1) == want.map(_._1))
    got.zip(want).foreach { case ((name, g), (_, q)) =>
      assert(g.schema == q.schema, s"$name schema")
      assert(g.collect().toSeq == q.collect().toSeq, s"$name rows")
    }
    got
  }

  test("analyses equal each analysis's lazy query, row for row, schema included") {
    // The out-of-range rows add null dates, hours and datetimes.
    analysesSameAsLazy(Normalize(
      TrafficFixture.raw(spark, 1000).union(TrafficFixture.outOfRange(spark))).cache())
  }

  test("busiest streets tied on total break the tie by UTF-8 bytes, as the lazy query") {
    // U+FF21 sorts after U+1F600 in UTF-16 (0xFF21 > 0xD83D) but before
    // it in UTF-8 (0xEF < 0xF0), the order Spark compares strings in.
    val tied = Seq("\uFF21", "\uD83D\uDE00").map { street =>
      TrafficFixture.raw(spark, 1).limit(1)
        .withColumn("street", lit(street)).withColumn("vol", lit("1000000"))
    }.reduce(_ union _)
    val norm = Normalize(TrafficFixture.raw(spark, 50).union(tied))
    val top = analysesSameAsLazy(norm).toMap.apply("busiest_streets")
      .collect().take(2).map(_.getString(0)).toSeq
    assert(top == Seq("\uFF21", "\uD83D\uDE00"))
  }

  test("one analyses call runs at most 4 jobs; reading its tables runs none") {
    // Measured 4 on a cached frame: a map stage and a result job for the
    // one grouping-sets aggregate behind the six grouped analyses, and
    // for the correlation aggregate.
    val norm = Normalize(TrafficFixture.raw(spark, 300)).cache()
    norm.count()
    val (tables, jobs) = graft.JobCount(spark)(TrafficPipeline.analyses(norm))
    assert(jobs > 0 && jobs <= 4, s"$jobs jobs")
    val (_, readJobs) = graft.JobCount(spark)(tables.foreach { case (_, df) => df.collect() })
    assert(readJobs == 0, s"reading the analysis tables ran $readJobs jobs")
  }

  test("end-to-end model battery produces finite metrics") {
    val norm = TrafficPipeline.load(spark, landing, pageSize = 100)
    val reports = TrafficPipeline.models(norm, numTrees = 3)
    assert(reports.length == 4)
    assert(reports.forall(_._2.nonEmpty))
  }
}
