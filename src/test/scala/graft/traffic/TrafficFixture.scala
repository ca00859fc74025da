package graft.traffic

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic raw traffic fixture mirroring the NYC `7ym2-wayt`
  * landing schema (FIXTURES.md §1.1): all columns strings, with planted
  * junk numerics, nulls in required columns, malformed WKT, bin-boundary
  * volumes and calendar edges. */
object TrafficFixture {

  private val boroughs = Seq("Queens", "Brooklyn", "Manhattan", "Bronx", "Staten Island")
  private val directions = Seq("NB", "SB", "EB", "WB")
  private val streets = Seq("PULASKI BRIDGE", "BROADWAY", "ATLANTIC AVE", "FDR DR", "GRAND CONCOURSE")

  /** n clean rows + a fixed tail of adversarial rows. */
  def raw(spark: SparkSession, n: Int = 1000): DataFrame = {
    import spark.implicits._
    val clean = (0 until n).map { i =>
      val year = 2020 + i % 5
      val month = 1 + i % 12
      val day = 1 + i % 28
      val hour = i % 24
      val vol = (i * 37) % 400
      (s"$i", boroughs(i % 5), s"$year", s"$month", s"$day", s"$hour",
        s"${(i % 4) * 15}", s"$vol", s"${100000 + i % 50}",
        s"POINT (${997000 + i % 1000}.5 ${208000 + i % 1000}.25)",
        streets(i % 5), s"From ${i % 7}", s"To ${i % 9}", directions(i % 4))
    }
    val adversarial = Seq(
      // junk volume and hour -> coerce to null -> must be DROPPED by C16?
      // No: C16 drops nulls BEFORE coercion (string "N/A" is non-null) —
      // coercion then nulls them; pandas order is the same (SURVEY §3.1).
      ("9001", "Queens", "2024", "2", "29", "7", "0", "N/A", "100001",
        "POINT (997407.0998 208620.9261)", "BROADWAY", "a", "b", "NB"),
      ("9002", "Queens", "2024", "1", "1", "junk", "0", "42", "100002",
        "POINT (997407.0998 208620.9261)", "BROADWAY", "a", "b", "SB"),
      // nulls in required columns -> dropped
      ("9003", null, "2024", "1", "1", "1", "0", "10", "100003",
        "POINT (1 2)", "BROADWAY", "a", "b", "EB"),
      ("9004", "Bronx", "2024", "1", "1", "1", "0", null, "100004",
        "POINT (1 2)", "BROADWAY", "a", "b", "WB"),
      ("9005", "Bronx", "2024", "1", "1", "1", "0", "10", "100005",
        "POINT (1 2)", null, "a", "b", "NB"),
      // malformed WKT -> null coords
      ("9006", "Bronx", "2024", "1", "1", "1", "0", "10", "100006",
        "LINESTRING (0 0, 1 1)", "FDR DR", "a", "b", null),
      ("9007", "Bronx", "2024", "1", "1", "1", "0", "10", "100007",
        "", "FDR DR", "a", "b", "NB"),
      // bin boundary volumes 0,49,50,199,200 on a weekend (2024-01-06 Sat)
      ("9010", "Queens", "2024", "1", "6", "1", "0", "0", "100010",
        "POINT (1 2)", "BROADWAY", "a", "b", "NB"),
      ("9011", "Queens", "2024", "1", "6", "2", "0", "49", "100011",
        "POINT (1 2)", "BROADWAY", "a", "b", "NB"),
      ("9012", "Queens", "2024", "1", "6", "3", "0", "50", "100012",
        "POINT (1 2)", "BROADWAY", "a", "b", "NB"),
      ("9013", "Queens", "2024", "1", "6", "4", "0", "199", "100013",
        "POINT (1 2)", "BROADWAY", "a", "b", "NB"),
      ("9014", "Queens", "2024", "1", "6", "5", "0", "200", "100014",
        "POINT (1 2)", "BROADWAY", "a", "b", "NB"),
      // ISO week-53 date (2021-01-01 is ISO week 53 of 2020)
      ("9020", "Queens", "2021", "1", "1", "6", "0", "10", "100020",
        "POINT (1 2)", "BROADWAY", "a", "b", "NB"))
    (clean ++ adversarial).toDF(Columns: _*)
  }

  /** Rows whose date/time fields are numeric but out of range: hour 1000
    * ("1e3") and month 13. Normalize must null the derived date/time, not
    * fail the query. Kept out of [[raw]], whose goldens they would move. */
  def outOfRange(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("9030", "Queens", "2024", "1", "2", "1e3", "0", "10", "100030",
        "POINT (997407.0998 208620.9261)", "BROADWAY", "a", "b", "NB"),
      ("9031", "Queens", "2024", "13", "2", "3", "0", "10", "100031",
        "POINT (997407.0998 208620.9261)", "BROADWAY", "a", "b", "NB")
    ).toDF(Columns: _*)
  }

  private val Columns = Seq(
    "requestid", "boro", "yr", "m", "d", "hh", "mm", "vol", "segmentid",
    "wktgeom", "street", "fromst", "tost", "direction")
}
