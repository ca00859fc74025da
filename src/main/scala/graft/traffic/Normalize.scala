package graft.traffic

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.GeoFunctions

/** Normalization stage for the raw NYC traffic-count feed: the Spark
  * re-expression of the reference's `process_data`
  * (`TrafficAnalysis.py:56-119`; SURVEY.md §2.B/§2.C/§2.F).
  *
  * Every step is a pure DataFrame→DataFrame function (the reference
  * mutates in place; straight-line, so order is preserved exactly):
  * rename → required-column drop → lenient numeric coercion → date
  * features → WKT coords → direction codes.
  *
  * Semantic traps pinned by NormalizeSpec (SURVEY.md §7.4):
  * `weekday` (Monday=0, NOT `dayofweek`), ISO `weekofyear`, try_cast
  * null-on-junk = pandas to_numeric(coerce), half-open volume bins,
  * category codes assigned by sorted distinct value with null → −1,
  * out-of-range date/time fields → null (try_cast's null-on-junk rule).
  *
  * Each step adds or replaces its columns in one `withColumns` (an
  * insertion-ordered map keeps the column order of the equivalent
  * `withColumn` chain), so the analyzer runs once per step rather than
  * once per column — the dashboard re-plans this chain on every tick.
  */
object Normalize {

  /** Raw→canonical rename map (`TrafficAnalysis.py:61-65`). */
  val RenameMap: Map[String, String] = Map(
    "requestid" -> "request_id", "boro" -> "borough", "yr" -> "year",
    "m" -> "month", "d" -> "day", "hh" -> "hour", "mm" -> "minute",
    "vol" -> "volume", "segmentid" -> "segment_id", "wktgeom" -> "geometry")

  /** Columns that must be non-null for a row to survive
    * (`TrafficAnalysis.py:76-77`). */
  val RequiredCols: Seq[String] = Seq("volume", "hour", "segment_id", "borough", "street")

  private val NumericCols =
    Seq("year", "month", "day", "hour", "minute", "volume", "segment_id")

  /** B9: bulk rename to canonical names (missing raw names are skipped). */
  def rename(df: DataFrame): DataFrame =
    df.withColumnsRenamed(RenameMap.filter { case (k, _) => df.columns.contains(k) })

  /** C16: drop rows missing any required column. */
  def dropRequired(df: DataFrame): DataFrame =
    df.na.drop(RequiredCols.filter(df.columns.contains))

  /** B12/B13: lenient string→long coercion, junk → null (pandas
    * `to_numeric(errors='coerce')` ≈ try_cast; "12.5" coerces via double
    * to keep pandas parity — to_numeric accepts decimals). */
  def coerceNumerics(df: DataFrame): DataFrame =
    df.withColumns(ListMap.from(NumericCols.filter(df.columns.contains).map { c =>
      c -> col(c).cast(StringType).try_cast("double").try_cast("long")
    }))

  /** F47-F52: date, day_of_week (Monday=0), is_weekend, ISO week, month.
    * An impossible date (month 13, February 30) → null `date`, and null
    * features derived from it, instead of failing the whole query under
    * ANSI `make_date`. */
  def deriveDateFeatures(df: DataFrame): DataFrame = {
    val date = try_make_timestamp_ntz(
      col("year"), col("month"), col("day"), lit(0), lit(0), lit(0)).cast(DateType)
    df.withColumns(ListMap(
      "date" -> date,
      "day_of_week" -> weekday(date),
      "is_weekend" -> when(weekday(date) >= 5, 1).otherwise(0),
      "week_of_year" -> weekofyear(date),
      "month" -> month(date)))
  }

  /** F48: event timestamp from y/m/d/h (dashboard variant, `Dash.py:59-60`).
    * An out-of-range field (hour 1000) → null `datetime`, which the
    * time-keyed figures drop like any null key. */
  def deriveTimestamp(df: DataFrame): DataFrame =
    df.withColumn("datetime", try_make_timestamp(
      col("year"), col("month"), col("day"), col("hour"), lit(0), lit(0)))

  /** F60/F61 + B15: extract x/y from the WKT geometry then drop it. */
  def deriveCoords(df: DataFrame): DataFrame =
    if (!df.columns.contains("geometry")) df
    else df
      .withColumns(ListMap(
        "x_coord" -> GeoFunctions.wktPointX(col("geometry")),
        "y_coord" -> GeoFunctions.wktPointY(col("geometry"))))
      .drop("geometry")

  /** F62: WGS84 lat/lon from the state-plane coords (dashboard variant —
    * note the reference applies this with swapped args and only to the
    * first snapshot, a bug we deliberately do not reproduce;
    * SURVEY.md §7.4.7a). */
  def deriveLatLon(df: DataFrame): DataFrame =
    df.withColumns(ListMap(
      "longitude" -> GeoFunctions.lonFromStatePlane(col("x_coord"), col("y_coord")),
      "latitude" -> GeoFunctions.latFromStatePlane(col("x_coord"), col("y_coord"))))

  /** F54: pandas `cat.codes` — integer codes assigned by sorted distinct
    * value, null → −1. Distributed: dense_rank over the (tiny) distinct
    * dimension, broadcast back; no collect. */
  def categoryCodes(df: DataFrame, c: String, codeCol: String): DataFrame = {
    val codes = df.select(col(c)).where(col(c).isNotNull).distinct()
      .withColumn(codeCol,
        (dense_rank().over(Window.orderBy(col(c))) - 1).cast("int"))
    df.join(broadcast(codes), Seq(c), "left")
      .withColumn(codeCol, coalesce(col(codeCol), lit(-1)))
  }

  /** F55: half-open volume bins [0,50) Low, [50,200) Medium, [200,∞) High;
    * out-of-range / null → null (pandas `cut(right=False)`,
    * `TrafficAnalysis.py:354-356`). */
  def volumeBin(volume: Column): Column =
    when(volume.isNull || volume < 0, lit(null))
      .when(volume < 50, "Low")
      .when(volume < 200, "Medium")
      .otherwise("High")

  /** F53: direction code → compass label, unmapped → null
    * (`TrafficAnalysis.py:250-251`). */
  def directionLabel(code: Column): Column =
    when(code === 0, "North").when(code === 1, "South")
      .when(code === 2, "East").when(code === 3, "West")
      .otherwise(lit(null))

  /** F56: one-hot encode (pandas `get_dummies`): one 0/1 column per
    * distinct value. The distinct set is collected — by design this is
    * for low-cardinality dims only (boroughs, directions), mirroring the
    * reference's usage. */
  def oneHot(df: DataFrame, c: String): DataFrame = {
    val values = df.select(c).where(col(c).isNotNull).distinct()
      .collect().map(_.get(0).toString).sorted
    values.foldLeft(df) { (d, v) =>
      d.withColumn(s"${c}_$v", when(col(c) === v, 1).otherwise(0))
    }
  }

  /** F59: min-max normalize columns to [0,1] — one aggregate pass for all
    * mins/maxes, then pure projections (constant range → 0, as sklearn). */
  def minMaxNormalize(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c")))
    val stats = df.agg(aggs.head, aggs.tail: _*)
    val joined = df.crossJoin(broadcast(stats))
    val out = cols.foldLeft(joined) { (d, c) =>
      d.withColumn(c,
        when(col(s"__max_$c") === col(s"__min_$c"), 0.0)
          .otherwise((col(c) - col(s"__min_$c")) /
            (col(s"__max_$c") - col(s"__min_$c"))))
    }
    out.drop(cols.flatMap(c => Seq(s"__min_$c", s"__max_$c")): _*)
  }

  /** Full long-table pipeline (batch variant, `TrafficAnalysis.main`). */
  def apply(raw: DataFrame): DataFrame = {
    val base = deriveCoords(deriveDateFeatures(coerceNumerics(dropRequired(rename(raw)))))
    categoryCodes(base, "direction", "direction_code")
  }
}
