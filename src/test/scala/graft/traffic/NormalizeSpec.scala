package graft.traffic

import org.apache.spark.sql.functions._

import graft.SparkSpec

class NormalizeSpec extends SparkSpec {
  import spark.implicits._

  private lazy val raw = TrafficFixture.raw(spark, 200)
  private lazy val norm = Normalize(raw).cache()

  test("rename maps raw API names to canonical names") {
    val cols = Normalize.rename(raw).columns.toSet
    assert(Set("request_id", "borough", "year", "volume", "segment_id",
      "geometry").subsetOf(cols))
  }

  test("required-column drop removes rows with nulls in the 5 key columns") {
    assert(!norm.select("request_id").as[String].collect()
      .exists(Set("9003", "9004", "9005")))
  }

  test("lenient coercion: junk strings -> null (pandas to_numeric coerce)") {
    val r = norm.filter(col("request_id") === "9001").collect().head
    assert(r.isNullAt(r.fieldIndex("volume")))
    val r2 = norm.filter(col("request_id") === "9002").collect().head
    assert(r2.isNullAt(r2.fieldIndex("hour")))
  }

  test("decimal strings coerce like pandas ('12.5' -> 12)") {
    val df = Seq("12.5", " 7", "1e2", "x").toDF("vol")
    val got = df.select(col("vol").try_cast("double").try_cast("long"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(got.toSeq == Seq(Some(12L), Some(7L), Some(100L), None))
  }

  test("day_of_week is Monday=0 (weekday, NOT dayofweek) — trap 7.4.1") {
    // 2024-01-06 is a Saturday -> 5, weekend
    val sat = norm.filter(col("request_id") === "9010").collect().head
    assert(sat.getAs[Int]("day_of_week") == 5)
    assert(sat.getAs[Int]("is_weekend") == 1)
    // 2024-01-01 Monday -> 0, not weekend
    val mon = norm.filter(col("request_id") === "9002").collect().head
    assert(mon.getAs[Int]("day_of_week") == 0)
    assert(mon.getAs[Int]("is_weekend") == 0)
  }

  test("week_of_year is ISO (2021-01-01 -> week 53) — trap 7.4 calendar") {
    val r = norm.filter(col("request_id") === "9020").collect().head
    assert(r.getAs[Int]("week_of_year") == 53)
  }

  test("out-of-range month and hour -> null date/datetime, not a failed query") {
    val got = Normalize.deriveTimestamp(Normalize(TrafficFixture.outOfRange(spark)))
      .select("request_id", "hour", "date", "month", "day_of_week", "datetime")
      .collect().map(r => r.getString(0) -> r).toMap
    // hour 1000 ("1e3") keeps its date; only the timestamp is impossible
    assert(got("9030").getAs[Long]("hour") == 1000L)
    assert(got("9030").getAs[java.sql.Date]("date").toString == "2024-01-02")
    assert(got("9030").isNullAt(5))
    // month 13: no date, so no date features and no timestamp
    Seq(2, 3, 4, 5).foreach(i => assert(got("9031").isNullAt(i), s"column $i"))
  }

  test("WKT coords extracted; malformed/empty -> null; geometry dropped") {
    val ok = norm.filter(col("request_id") === "9001").collect().head
    assert(math.abs(ok.getAs[Double]("x_coord") - 997407.0998) < 1e-9)
    assert(math.abs(ok.getAs[Double]("y_coord") - 208620.9261) < 1e-9)
    val bad = norm.filter(col("request_id") === "9006").collect().head
    assert(bad.isNullAt(bad.fieldIndex("x_coord")))
    assert(!norm.columns.contains("geometry"))
  }

  test("category codes: sorted distinct order, null -> -1 — trap 7.4.4") {
    val codes = norm.select("direction", "direction_code").distinct()
      .collect().map(r => Option(r.getString(0)) -> r.getAs[Int]("direction_code"))
      .toMap
    // EB < NB < SB < WB lexicographically
    assert(codes(Some("EB")) == 0 && codes(Some("NB")) == 1 &&
      codes(Some("SB")) == 2 && codes(Some("WB")) == 3)
    assert(codes.getOrElse(None, -1) == -1)
  }

  test("volume bins are half-open [0,50),[50,200),[200,inf) — trap 7.4.2") {
    val got = norm
      .filter(col("request_id").isin("9010", "9011", "9012", "9013", "9014"))
      .select(col("request_id"), Normalize.volumeBin(col("volume")))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("9010" -> "Low", "9011" -> "Low", "9012" -> "Medium",
      "9013" -> "Medium", "9014" -> "High"))
  }

  test("volume bin: negative and null -> null category") {
    val got = Seq(Some(-5L), None, Some(0L)).toDF("v")
      .select(Normalize.volumeBin(col("v"))).collect()
      .map(r => Option(r.getString(0)))
    assert(got.toSeq == Seq(None, None, Some("Low")))
  }

  test("direction label: unmapped code -> null (F53)") {
    val got = Seq(0, 1, 2, 3, 7).toDF("c")
      .select(Normalize.directionLabel(col("c"))).collect()
      .map(r => Option(r.getString(0)))
    assert(got.toSeq == Seq(Some("North"), Some("South"), Some("East"),
      Some("West"), None))
  }

  test("one-hot encoding adds a 0/1 column per distinct value") {
    val oh = Normalize.oneHot(norm, "borough")
    assert(oh.columns.count(_.startsWith("borough_")) == 5)
    val row = oh.filter(col("borough") === "Queens").collect().head
    assert(row.getAs[Int]("borough_Queens") == 1)
    assert(row.getAs[Int]("borough_Bronx") == 0)
  }

  test("min-max normalize maps to [0,1]; constant column -> 0") {
    val df = Seq((0.0, 5.0), (50.0, 5.0), (100.0, 5.0)).toDF("a", "b")
    val got = Normalize.minMaxNormalize(df, Seq("a", "b"))
      .orderBy("a").collect().map(r => (r.getDouble(0), r.getDouble(1)))
    assert(got.toSeq == Seq((0.0, 0.0), (0.5, 0.0), (1.0, 0.0)))
  }
}
