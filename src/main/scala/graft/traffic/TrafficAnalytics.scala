package graft.traffic

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, Descending, InterpretedOrdering, SortOrder}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.expressions.PandasCorr
import graft.traffic.Normalize.{directionLabel, volumeBin}

/** The reference's analysis battery over the normalized long traffic
  * table — seven batch analyses (`TrafficAnalysis.py:220-349`), the six
  * dashboard queries (`Dash.py:148-252`) and the anomaly/labeling layer
  * (`TrafficAnalysis.py:352-433`), each as a lazy DataFrame builder the
  * caller collects (chart rendering is out of engine scope; the engine's
  * deliverable is the result table each chart consumes — SURVEY.md §7.5).
  *
  * Every grouped analysis and figure is DECLARED once, as a [[Grouped]]:
  * its keys, its measures over `volume`, its order and its k. Its lazy
  * query ([[Grouped.query]]) and its share of a fused pass
  * ([[fused]]) both derive from that declaration. The lazy queries are
  * hash group-bys over low-cardinality keys → partial+final
  * HashAggregate, TakeOrderedAndProject for top-k, full outputs ordered
  * in ONE task (`ordered`), not by a global sort. [[fused]] answers many
  * of them from ONE grouping-sets aggregate collected once and sliced
  * locally — what a dashboard tick and a batch pass run
  * ([[Dashboard.figures]], [[TrafficPipeline.analyses]]).
  */
object TrafficAnalytics {

  /** A measure over `volume`. */
  private[traffic] sealed abstract class Measure(val column: Column)

  /** pandas `sum()` over an all-NaN group returns 0 (min_count=0); SQL
    * returns NULL — coalesce for parity (SURVEY.md §7.4.3). */
  private[traffic] case object Sum0 extends Measure(coalesce(sum("volume"), lit(0L)))

  private[traffic] case object Mean extends Measure(avg("volume"))

  /** One key of an output order: the output column and its direction
    * (Spark's: ascending puts nulls first, descending last). */
  private[traffic] final case class SortKey(column: String, ascending: Boolean) {
    def toColumn: Column = if (ascending) col(column).asc else col(column).desc
  }
  private def up(c: String) = SortKey(c, ascending = true)
  private def down(c: String) = SortKey(c, ascending = false)

  /** A grouped analysis, declared once.
    *
    * @param keys     output name → expression over the input rows. pandas
    *                 `groupby` drops NaN keys (dropna=True default), Spark
    *                 keeps a null group: a group with any null key is
    *                 dropped (SURVEY.md §5.2 adversarial note).
    * @param measures output name → measure, after the keys
    * @param order    a total order on the output columns
    * @param k        keep only the first k rows of that order
    * @param latest   a key whose maximum selects the rows; the output
    *                 drops it
    */
  private[traffic] final case class Grouped(
      keys: Seq[(String, Column)],
      measures: Seq[(String, Measure)],
      order: Seq[SortKey],
      k: Option[Int] = None,
      latest: Option[String] = None) {

    def keyNames: Seq[String] = keys.map(_._1)

    /** Output columns, in order. */
    def outputNames: Seq[String] =
      keyNames.filterNot(latest.contains) ++ measures.map(_._1)

    /** The lazy query. */
    def query(df: DataFrame): DataFrame = {
      val aggs = measures.map { case (n, m) => m.column.as(n) }
      val grouped = project(df, keys)
        .where(keyNames.map(col(_).isNotNull).reduce(_ && _))
        .groupBy(keyNames.map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
      val rows = latest.fold(grouped) { day =>
        // Unpartitioned window over one partition: no exchange. Its
        // input is bounded by the key domain (days × 24 for the latest
        // day), and a max-key subquery would be a stage and a broadcast
        // that the main scan waits for.
        grouped.coalesce(1)
          .withColumn("__latest", max(col(day)).over(Window.partitionBy()))
          .where(col(day) === col("__latest"))
          .select(outputNames.map(col): _*)
      }
      val sort = order.map(_.toColumn)
      k.fold(ordered(rows, sort: _*))(n => rows.orderBy(sort: _*).limit(n))
    }

    /** The local half of [[query]], for [[fused]]: `rows` are this
      * analysis's groups laid out as `fields` (keys, then measures).
      * Drops null keys, picks the latest key's rows, projects, orders and
      * cuts as [[query]] does; returns the output schema and rows. The
      * order is Spark's own (strings by their UTF-8 bytes, as
      * `UTF8String.compareTo`), so ties break as in [[query]]. */
    private[TrafficAnalytics] def finish(
        rows: Seq[InternalRow], fields: StructType): (StructType, Seq[InternalRow]) = {
      val keyed = rows.filter(r => keyNames.indices.forall(!r.isNullAt(_)))
      val picked = latest.fold(keyed) { day =>
        val byDay = ordering(fields, Seq(up(day)))
        if (keyed.isEmpty) keyed
        else { val top = keyed.max(byDay); keyed.filter(byDay.compare(_, top) == 0) }
      }
      val schema = StructType(outputNames.map(fields(_)))
      val projected = picked.map(r => InternalRow.fromSeq(
        schema.map(f => r.get(fields.fieldIndex(f.name), f.dataType))))
      val sorted = projected.sorted(ordering(schema, order))
      (schema, k.fold(sorted)(sorted.take))
    }
  }

  /** Spark's ordering of rows laid out as `schema` by `keys`. */
  private def ordering(schema: StructType, keys: Seq[SortKey]): InterpretedOrdering =
    new InterpretedOrdering(keys.map { o =>
      val i = schema.fieldIndex(o.column)
      SortOrder(BoundReference(i, schema(i).dataType, schema(i).nullable),
        if (o.ascending) Ascending else Descending)
    })

  /** The key columns under their output names, then `volume`. Grouping
    * sets take these projected columns: an aliased expression handed
    * straight to `groupingSets` becomes an extra grouping column, and
    * `grouping_id()` grows a bit for each. */
  private def project(df: DataFrame, keys: Seq[(String, Column)]): DataFrame =
    df.select(keys.map { case (n, e) => e.as(n) } :+ col("volume"): _*)

  /** `analyses` over `df`, eagerly, from ONE grouping-sets aggregate:
    * one set per distinct key list, every measure any of them needs
    * computed for every group, collected once (one map stage and one
    * result job) and sliced locally by `grouping_id()` into one
    * local DataFrame per analysis, each equal to its [[Grouped.query]]
    * row for row, schema included. Keys that share a name must share
    * their expression. What is collected is bounded by the key domains
    * (SCALE.md §Aggregations): distinct streets, dates, days × 24, hours,
    * boroughs, directions, one street's timestamps. */
  private[traffic] def fused(df: DataFrame, analyses: Seq[Grouped]): Seq[DataFrame] = {
    val keys = analyses.flatMap(_.keys).distinct
    val names = keys.map(_._1).distinct
    require(names.size == keys.size,
      s"keys that share a name must share their expression: ${keys.mkString(", ")}")
    val measures = analyses.flatMap(_.measures.map(_._2)).distinct
    val sets = analyses.map(_.keyNames).distinct
    val input = project(df, keys)
    val aggs = measures.zipWithIndex.map { case (m, i) => m.column.as(s"__measure$i") } :+
      grouping_id().as("__grouping_id")
    val agg = input.groupingSets(sets.map(_.map(col)), names.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    val toInternal = CatalystTypeConverters.createToCatalystConverter(agg.schema)
    val rows = agg.collect().toSeq.map(toInternal(_).asInstanceOf[InternalRow])
    // grouping_id() sets bit (n-1-i) when the i-th grouping column is
    // NOT in the row's set.
    def gid(set: Seq[String]): Long = names.indices.foldLeft(0L) { (g, i) =>
      if (set.contains(names(i))) g else g | (1L << (names.size - 1 - i))
    }
    val gidAt = names.size + measures.size
    analyses.map { a =>
      val at = a.keyNames.map(names.indexOf) ++
        a.measures.map { case (_, m) => names.size + measures.indexOf(m) }
      // Keys keep the input's field (the aggregate makes every grouping
      // column nullable); measures keep the aggregate's, renamed.
      val fields = StructType(a.keyNames.map(input.schema(_)) ++
        a.measures.zip(at.drop(a.keys.size)).map { case ((n, _), i) => agg.schema(i).copy(name = n) })
      val set = gid(a.keyNames)
      val mine = rows.filter(_.getLong(gidAt) == set).map(r =>
        InternalRow.fromSeq(at.zip(fields).map { case (i, f) => r.get(i, f.dataType) }))
      val (schema, out) = a.finish(mine, fields)
      local(df, out, schema)
    }
  }

  /** A local DataFrame over `rows`: reading it runs no Spark job. */
  private def local(like: DataFrame, rows: Seq[InternalRow], schema: StructType): DataFrame = {
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    like.sparkSession.createDataFrame(rows.map(toRow(_).asInstanceOf[Row]).asJava, schema)
  }

  /** `df` collected into a local DataFrame of the same schema. */
  private[traffic] def collected(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.collect().toSeq.asJava, df.schema)

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

  private def total = Seq("total_volume" -> Sum0)

  /** D26/E44 — "busiest streets": top-k by total volume (tie-break on
    * street for determinism; pandas keeps insertion order). */
  private[traffic] def busiest(k: Int): Grouped = Grouped(
    Seq("street" -> col("street")),
    total :+ ("avg_volume" -> Mean),
    Seq(down("total_volume"), up("street")), k = Some(k))

  /** D27 — traffic volume over time (time-series by date). */
  private[traffic] val ByDate = Grouped(Seq("date" -> col("date")), total, Seq(up("date")))

  /** E44 — busiest dates: top-k days by volume. */
  private[traffic] def busiestDays(k: Int): Grouped = Grouped(
    Seq("date" -> col("date")), total, Seq(down("total_volume"), up("date")), k = Some(k))

  /** D28 — peak hours: volume by hour-of-day. */
  private[traffic] val ByHour = Grouped(
    Seq("hour" -> col("hour")), total, Seq(down("total_volume"), up("hour")))

  /** F53/D25 — directional traffic: code → compass label then group-sum
    * (unmapped codes → null group, as pandas map). */
  private[traffic] val ByDirection = Grouped(
    Seq("direction_label" -> directionLabel(col("direction_code"))), total,
    Seq(up("direction_label")))

  /** D24 — borough totals. */
  private[traffic] val ByBorough = Grouped(
    Seq("borough" -> col("borough")), total, Seq(down("total_volume"), up("borough")))

  /** C19 — per-street time series (dashboard line chart). Rows of other
    * streets get a null key and drop like any null key, so in a fused
    * pass this set holds one street's timestamps at most. */
  private[traffic] def series(street: String): Grouped = Grouped(
    Seq("datetime" -> when(col("street") === lit(street), col("datetime"))),
    Seq("volume" -> Sum0), Seq(up("datetime")))

  /** C20/D30 — hourly volumes on the latest day in the data: aggregated
    * by (day, hour), the max day's rows kept. A null `datetime` gives a
    * null day, dropped like any null key. */
  private[traffic] val LatestDay = Grouped(
    Seq("day" -> to_date(col("datetime")), "hour" -> hour(col("datetime"))),
    Seq("volume" -> Sum0), Seq(up("hour")), latest = Some("day"))

  def busiestStreets(df: DataFrame, k: Int = 10): DataFrame = busiest(k).query(df)

  def trafficByDate(df: DataFrame): DataFrame = ByDate.query(df)

  def busiestDates(df: DataFrame, k: Int = 10): DataFrame = busiestDays(k).query(df)

  def peakHours(df: DataFrame): DataFrame = ByHour.query(df)

  def directionalTraffic(df: DataFrame): DataFrame = ByDirection.query(df)

  def boroughTraffic(df: DataFrame): DataFrame = ByBorough.query(df)

  /** D37 — pairwise Pearson correlation matrix over numeric columns:
    * all n² pairs in ONE aggregate pass (n is small — this is a single
    * row of n² corr aggregates, not n² scans like the reference). As
    * pandas `DataFrame.corr`, a pair with a constant side is NaN (the
    * diagonal included) where Spark's `corr` would fail the query under
    * ANSI ([[graft.expressions.PandasCorr]]). Not part of a [[fused]]
    * pass: a grouping-sets aggregate evaluates every aggregate in every
    * group of every set, and a key is constant within its own groups. */
  def correlationMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = for (a <- cols; b <- cols)
      yield PandasCorr.corr(col(a), col(b)).as(s"${a}__$b")
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** D34/D36 — summary statistics per column (describe analog). */
  def summaryStats(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(col): _*)
      .summary("count", "mean", "stddev", "min", "25%", "50%", "75%", "max")

  // ----- dashboard queries (Dash.py:148-252) -----

  def streetTimeSeries(df: DataFrame, street: String): DataFrame = series(street).query(df)

  /** D29/E45 — top-5 streets (dashboard bar chart). */
  def topStreets(df: DataFrame, k: Int = 5): DataFrame = busiestStreets(df, k)

  def latestDayHourly(df: DataFrame): DataFrame = LatestDay.query(df)

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
