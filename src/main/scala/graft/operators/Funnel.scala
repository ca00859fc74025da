package graft.operators

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Event-sequence analytics: ordered conversion funnels and retention
  * cohorts — the product-analytics counterpart of the corpus-side
  * reporting operators.
  *
  * Every operator is a composition of a few private steps, each written
  * once:
  *   - the daily-count series [[dailyCounts]] `(key, day, n)` of the
  *     drift, trend and seasonality screens;
  *   - the trailing-window join [[rollingDays]] of both rolling-actives
  *     forms;
  *   - the funnel report [[funnelReport]] (per-step count, union, rate
  *     against step 1), with the per-step count passed in;
  *   - the first-touch anchor [[firstTouch]] with its at-or-after filter;
  *   - the integer power sums [[powerSums]] and co-moments [[coMoments]]
  *     of the least-squares and correlation reports, over [[dbl]];
  *   - the seconds summary [[secondsSummary]] (n, mean, p50, p90) of a
  *     microsecond lag;
  *   - the per-user event order [[userOrdered]] / [[ByUserTs]] of the
  *     path and transition reports;
  *   - the session key [[sessionKey]] over [[sessionize]]'s sequence.
  */
object Funnel {

  /** A count column as a double: the operand of every rate and moment. */
  private def dbl(c: String): Column = col(c).cast("double")

  /** The daily-count series `(keyName, day, n)`: events per key and
    * calendar day. `day` maps the timestamp to its date (`to_date` and
    * `cast("date")` agree on timestamps; each report keeps its own). */
  private def dailyCounts(
      events: DataFrame, key: Column, ts: Column, keyName: String = "key",
      day: Column => Column = _.cast("date")): DataFrame =
    events.select(key.as(keyName), day(ts).as("day"))
      .groupBy(col(keyName), col("day")).agg(count(lit(1)).as("n"))

  /** The funnel report over per-step frames (`frames(i)` holds step i's
    * converted rows): (step, event_type, n_users, rate), n_users =
    * `nUsers` over the frame, rate = n_users / step-1 n_users at 4 dp
    * (null when step 1 is empty). */
  private def funnelReport(
      frames: Seq[DataFrame], steps: Seq[String], nUsers: Column): DataFrame = {
    val counts = frames.zip(steps).zipWithIndex.map { case ((f, name), i) =>
      f.agg(nUsers.as("n_users"))
        .select(lit(i + 1).as("step"), lit(name).as("event_type"),
          col("n_users"))
    }.reduce(_ unionByName _)
    val base = frames.head.agg(nUsers.as("__n1"))
    counts.crossJoin(broadcast(base))
      .select(col("step"), col("event_type"), col("n_users"),
        when(col("__n1") > 0, round(dbl("n_users") / dbl("__n1"), 4))
          .as("rate"))
  }

  /** The first-touch anchor of a two-step funnel over `ev` (`keys`,
    * `__ts`, `__et`): per key, the earliest `fromType` event as `__t1`,
    * and the `toType` events at or after it, with `__t1` beside them. */
  private def firstTouch(
      ev: DataFrame, keys: Seq[String], fromType: String,
      toType: String): (DataFrame, DataFrame) = {
    val anchors = ev.filter(col("__et") === fromType)
      .groupBy(keys.map(col): _*).agg(min(col("__ts")).as("__t1"))
    (anchors, ev.filter(col("__et") === toType).join(anchors, keys)
      .filter(col("__ts") >= col("__t1")))
  }

  /** Exact integer power sums of (x, y) as aggregates: the pair count
    * named `n`, then sx, sy, sxx, syy, sxy. */
  private def powerSums(n: String, x: Column, y: Column): Seq[Column] =
    Seq(count(lit(1)).as(n), sum(x).as("sx"), sum(y).as("sy"),
      sum(x * x).as("sxx"), sum(y * y).as("syy"), sum(x * y).as("sxy"))

  /** Over [[powerSums]] columns, the one double formula both engines
    * evaluate: (n·sxy − sx·sy, n·sxx − sx², n·syy − sy²). */
  private def coMoments(n: String): (Column, Column, Column) =
    (dbl(n) * dbl("sxy") - dbl("sx") * dbl("sy"),
      dbl(n) * dbl("sxx") - dbl("sx") * dbl("sx"),
      dbl(n) * dbl("syy") - dbl("sy") * dbl("sy"))

  /** A microsecond lag column summarized in SECONDS at 4 dp: the count
    * named `n`, then `mean_<name>_s` (the exact integer-micros sum
    * divided once) and the interpolated `p50_<name>_s`, `p90_<name>_s`
    * (at second scale the 4 dp grid is ~10⁶ ulps wide). */
  private def secondsSummary(us: Column, n: String, name: String): Seq[Column] = {
    val s = us / lit(1000000.0d)
    Seq(count(lit(1)).as(n),
      round(sum(us).cast("double") / count(lit(1)) / lit(1000000.0d), 4)
        .as(s"mean_${name}_s"),
      round(percentile(s, lit(0.5)), 4).as(s"p50_${name}_s"),
      round(percentile(s, lit(0.9)), 4).as(s"p90_${name}_s"))
  }

  /** Events as (`__u`, `__ts`, `__tb`, `typeCol`), to be walked in
    * per-user [[ByUserTs]] order. */
  private def userOrdered(
      events: DataFrame, user: Column, ts: Column, tieBreak: Column,
      eventType: Column, typeCol: String = "__et"): DataFrame =
    events.select(user.as("__u"), ts.as("__ts"), tieBreak.as("__tb"),
      eventType.as(typeCol))

  /** Per-user (ts, tie-break) order over [[userOrdered]] rows. */
  private val ByUserTs: WindowSpec =
    Window.partitionBy(col("__u")).orderBy(col("__ts").asc, col("__tb").asc)

  /** The session key `user#seq` of a [[sessionize]]d event. */
  private[graft] def sessionKey(user: Column, seq: Column): Column =
    concat_ws("#", user, seq)

  /** Ordered conversion funnel over an arbitrary step sequence: a user
    * advances to step i only with an event AT OR AFTER their first
    * qualifying step-(i−1) event — the strict-ordering semantics that
    * separates a funnel from N independent counts (a purchase BEFORE
    * the first view does not convert). Ties count: an event at exactly
    * the previous step's timestamp qualifies. With `maxGapMicros` set,
    * a step must also land within that gap of the previous step's
    * anchor — FIRST-TOUCH semantics: each step anchors at its earliest
    * qualifying event, so a conversion reachable only through a LATER
    * step-1 touch is not counted (the deterministic, oracle-expressible
    * attribution convention; any-touch windowed matching is a different
    * and quadratically heavier operator). Output: one row per step
    * — (step, event_type, n_users, rate), rate = n_users / step-1
    * users rounded to 4 dp (null when step 1 is empty).
    *
    * Scale shape: each step is a user-keyed `min(ts)` aggregate joined
    * to the next step's filtered events — every exchange hashes on the
    * user, so the ≤ |users|-row step frames reuse one partitioning and
    * the event scan is filtered to one step's type before it ever
    * shuffles; the final |steps|-row union crosses the 1-row step-1
    * count. No windows over raw events, no per-user state, and the
    * step count bounds the join chain, not the data. Each ≤|users|-row
    * step frame is pinned ([[Materialize.pin]]) before the
    * next step derives from it — without that, step i's plan re-derives
    * every earlier step from scratch (an O(steps²) re-scan of the event
    * table: measured 7 scans for 3 steps), and the frames are orders of
    * magnitude smaller than the events they summarize. */
  def conversionFunnel(
      events: DataFrame, user: Column, ts: Column, eventType: Column,
      steps: Seq[String], maxGapMicros: Option[Long] = None): DataFrame = {
    require(steps.nonEmpty, "steps must be non-empty")
    require(maxGapMicros.forall(_ > 0), "maxGapMicros must be positive")
    val ev = events.select(user.as("__u"), ts.as("__ts"),
      eventType.as("__et"))
    def withinGap: Column = maxGapMicros match {
      case Some(g) =>
        unix_micros(col("__ts")) <= unix_micros(col("__prev")) + lit(g)
      case None => lit(true)
    }
    val stepFrames = steps.tail.scanLeft(
      Materialize.pin(ev.filter(col("__et") === steps.head)
        .groupBy(col("__u")).agg(min(col("__ts")).as("__t")))) {
      (prev, s) =>
        Materialize.pin(ev.filter(col("__et") === s)
          .join(prev.select(col("__u"), col("__t").as("__prev")), Seq("__u"))
          .filter(col("__ts") >= col("__prev") && withinGap)
          .groupBy(col("__u")).agg(min(col("__ts")).as("__t")))
    }
    funnelReport(stepFrames, steps, count(lit(1)))
  }

  /** ANY-TOUCH windowed funnel — the heavier operator
    * [[conversionFunnel]]'s doc names: a user converts step i if ANY
    * chain of events e₁ ≤ e₂ ≤ … ≤ eᵢ exists with each step within
    * `gapMicros` of the PREVIOUS CHAIN EVENT (both ends inclusive,
    * [[conversionFunnel]]'s windowed compare) — not merely within the
    * gap of the first-touch anchor. First-touch misses conversions
    * reachable only through a later touch; any-touch finds them all,
    * at the price of carrying every REACHABLE event per step instead
    * of one anchor per user.
    *
    * The bounded form: events are capped to the EARLIEST
    * `maxEventsPerUserType` per (user, step type) — (ts, tie-break)
    * order, deterministic — before the chain, so per-user state and
    * join fan-out are ≤ cap² per step by construction. Conversions
    * reachable only through an event beyond the cap are missed —
    * one-sided (never invented), the same honesty contract as the
    * streaming family's disorder bound. Output: (step, event_type,
    * n_users, rate) — [[conversionFunnel]]'s exact shape.
    *
    * Scale shape: each step is a (user, gap-bucket)-keyed LEFT-SEMI
    * join — the reachable-prev frame explodes to the ≤2 fixed-width
    * buckets its [r, r+gap] window overlaps ([[RangeJoin]]'s equality
    * restoration, never a per-user nested loop or a time-only join),
    * the exact window predicate re-applies post-join, and the result
    * dedupes to distinct (user, ts). Every exchange hashes on the
    * user(+bucket); reachable frames are pinned per step like
    * [[conversionFunnel]]'s anchors. */
  def anyTouchFunnel(
      events: DataFrame, user: Column, ts: Column, eventType: Column,
      tieBreak: Column, steps: Seq[String], gapMicros: Long,
      maxEventsPerUserType: Int): DataFrame = {
    require(steps.nonEmpty, "steps must be non-empty")
    require(gapMicros > 0, "gapMicros must be positive")
    require(maxEventsPerUserType > 0, "maxEventsPerUserType must be positive")
    val w = Window.partitionBy(col("__u"), col("__et"))
      .orderBy(col("__ts").asc, col("__tb").asc)
    val capped = Materialize.pin(events
      .select(user.as("__u"), ts.as("__ts"), eventType.as("__et"),
        tieBreak.as("__tb"))
      .filter(col("__et").isin(steps: _*))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxEventsPerUserType)
      .select(col("__u"), col("__ts"), col("__et")))
    val g = gapMicros
    val r1 = Materialize.pin(capped.filter(col("__et") === steps.head)
      .select(col("__u"), col("__ts")).distinct())
    val frames = steps.tail.scanLeft(r1) { (prev, s) =>
      // [r, r+g] with bucket width g spans exactly the two buckets
      // ⌊r/g⌋ and ⌊r/g⌋+1; micros stay < 2^53, so the double floor
      // division is exact. The window predicate re-applies post-join.
      val iv = prev.select(col("__u").as("__ru"),
          unix_micros(col("__ts")).as("__rt"))
        .withColumn("__rb", explode(sequence(
          floor(col("__rt") / g), floor((col("__rt") + g) / g))))
      val pts = capped.filter(col("__et") === s)
        .select(col("__u"), col("__ts"))
        .withColumn("__b", floor(unix_micros(col("__ts")) / g))
      Materialize.pin(pts.join(iv,
          col("__u") === col("__ru") && col("__b") === col("__rb") &&
            unix_micros(col("__ts")) >= col("__rt") &&
            unix_micros(col("__ts")) <= col("__rt") + g,
          "left_semi")
        .select(col("__u"), col("__ts")).distinct())
    }
    funnelReport(frames, steps, countDistinct(col("__u")))
  }

  /** Gap-based sessionization: append a per-user 1-based session
    * sequence (`seqCol`) to the event frame — a new session starts at
    * the user's first event and at every event whose gap from the
    * previous one EXCEEDS `gapMicros` (an event at exactly the gap
    * stays in the session). The one definition shared by the q45
    * session-size report and the q118 session-scoped funnel (which
    * keys [[conversionFunnel]] on (user, session_seq)) — the batch
    * analog of the streaming flatMapGroupsWithState sessionizer.
    *
    * Gaps are exact microseconds (`unix_micros` — `unix_timestamp`
    * truncates to seconds and disagrees with a fractional-epoch oracle
    * near the boundary). Scale shape: one user-partitioned window
    * (lag + running boundary sum in a single window spec — parallel
    * across users, working set one user's events); no shuffle beyond
    * the window's user-hash exchange, which downstream user-keyed
    * aggregations then reuse. */
  def sessionize(
      events: DataFrame, user: Column, ts: Column, gapMicros: Long,
      seqCol: String = "session_seq"): DataFrame = {
    require(gapMicros > 0, "gapMicros must be positive")
    val w = Window.partitionBy(user).orderBy(ts.asc)
    events
      .withColumn("__prev_ts", lag(ts, 1).over(w))
      .withColumn("__boundary",
        when(col("__prev_ts").isNull ||
          unix_micros(ts) - unix_micros(col("__prev_ts")) > gapMicros,
          1).otherwise(0))
      .withColumn(seqCol, sum(col("__boundary")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__prev_ts", "__boundary")
  }

  /** Top event-type paths: the most common length-`n` consecutive
    * event-type sequences across users (path mining — "what do people
    * actually do", the exploratory sibling of the hypothesis-driven
    * [[conversionFunnel]]). Consecutive means adjacent in the user's
    * (ts, tie-break id) order; paths never span users. Output:
    * (path, n) — top `k` by count desc, path asc.
    *
    * Scale shape: one window over the USER partition (lead×(n−1) —
    * parallel across users, state is n−1 rows deep), then a
    * path-keyed count whose shuffle carries ≤ |event-type|ⁿ distinct
    * paths with map-side partial aggregation, and a
    * TakeOrderedAndProject top-k — never a global sort. */
  def topPaths(
      events: DataFrame, user: Column, ts: Column, tieBreak: Column,
      eventType: Column, n: Int, k: Int): DataFrame = {
    require(n >= 2, "n must be >= 2")
    require(k >= 1, "k must be >= 1")
    val leadCols = (1 until n).map(i => s"__lead$i")
    val withLeads = (1 until n).foldLeft(
      userOrdered(events, user, ts, tieBreak, eventType)) {
      (df, i) => df.withColumn(s"__lead$i", lead(col("__et"), i).over(ByUserTs))
    }
    withLeads
      .filter(leadCols.map(col(_).isNotNull).reduce(_ && _))
      .select(concat_ws(">",
        (col("__et") +: leadCols.map(col)): _*).as("__path"))
      .groupBy(col("__path").as("path"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("path"))
      .limit(k)
  }

  /** First-order event-type transition matrix: counts and row-normalized
    * probabilities of each consecutive (from → to) event-type pair in
    * per-user (ts, tie-break) order — the Markov-chain summary of user
    * behavior ([[topPaths]] at n = 2, plus probabilities). One lag
    * window over the user partition, one (from, to)-keyed aggregate
    * (≤ |event types|² rows), probabilities joined against the
    * ≤ |event types|-row margin. Probability is one IEEE division of
    * exact counts, rounded to 4 dp. Output: (from_type, to_type, n, p). */
  def transitionMatrix(
      events: DataFrame, user: Column, ts: Column, tieBreak: Column,
      eventType: Column): DataFrame = {
    val pairs = userOrdered(events, user, ts, tieBreak, eventType)
      .withColumn("__to", lead(col("__et"), 1).over(ByUserTs))
      .filter(col("__to").isNotNull)
      .groupBy(col("__et").as("from_type"), col("__to").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val margins = pairs.groupBy(col("from_type"))
      .agg(sum(col("n")).as("__row_n"))
    pairs.join(broadcast(margins), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        round(dbl("n") / dbl("__row_n"), 4).as("p"))
  }

  /** RFM profile: per user, recency (days from their last event to the
    * corpus's last day), frequency (event count), and monetary (value
    * sum, 2-dp) — the classic behavioral-segmentation coordinates.
    * One user-keyed aggregate plus a 1-row corpus-max broadcast;
    * recency is an exact integer day difference. Output:
    * (user_id, recency_days, frequency, monetary). */
  def rfm(events: DataFrame, user: Column, ts: Column,
      value: Column): DataFrame = {
    val perUser = events
      .select(user.as("user_id"), to_date(ts).as("__d"), value.as("__v"))
      .groupBy(col("user_id"))
      .agg(max(col("__d")).as("__last"),
        count(lit(1)).as("frequency"),
        round(sum(col("__v")), 2).as("monetary"))
    val corpusLast = perUser.agg(max(col("__last")).as("__cl"))
    perUser.crossJoin(broadcast(corpusLast))
      .select(col("user_id"),
        datediff(col("__cl"), col("__last")).as("recency_days"),
        col("frequency"), col("monetary"))
  }

  /** Daily-volume anomaly flags: per event type, each day's count with
    * the type's mean/std over the observed period and the days whose
    * count sits more than `sigma` standard deviations out — the
    * ops-monitoring pass over an event stream's history (a collapsed
    * pipeline or a bot flood both surface here). Two tiny aggregates
    * ((type, day) counts → per-type stats broadcast back); std is
    * sample std rounded at 2 dp before the threshold compare, so the
    * flag itself is cross-engine-stable. Output: (event_type, day, n,
    * mean_n, std_n, is_anomaly) — only STATS-ELIGIBLE types (≥ 2 days)
    * emit rows. */
  def dailyAnomalies(events: DataFrame, ts: Column, eventType: Column,
      sigma: Double): DataFrame = {
    val daily = dailyCounts(events, eventType, ts, "event_type", to_date(_))
    val stats = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("__days"),
        round(sum(col("n")).cast("double") / count(lit(1)), 4).as("mean_n"),
        round(stddev(col("n")), 2).as("std_n"))
      .filter(col("__days") >= 2)
    daily.join(broadcast(stats), Seq("event_type"))
      .select(col("event_type"), col("day"), col("n"),
        col("mean_n"), col("std_n"),
        (abs(col("n").cast("double") - col("mean_n")) >
          lit(sigma) * col("std_n")).as("is_anomaly"))
  }

  /** Active-user series with stickiness: per calendar day, the distinct
    * daily actives (DAU) joined with the containing ISO-week and
    * calendar-month distinct actives (WAU / MAU) and the DAU/MAU
    * stickiness ratio — the standard growth-accounting report.
    * Calendar-aligned windows (not trailing) keep every count an exact
    * distinct aggregate: three independent (period, user) dedup
    * aggregates — each shuffles ≤ |users|·periods rows after partial
    * dedup — joined back on Monday-aligned `date_trunc` period keys
    * (boundary-correct across year ends, unlike (year, weekofyear)
    * pairing; period frames are calendar-bounded, broadcast-sized).
    * Ratio is one IEEE division of exact counts, 4 dp. Output:
    * (day, dau, wau, mau, stickiness). */
  def activeUsers(events: DataFrame, user: Column, ts: Column): DataFrame = {
    val base = events.select(user.as("__u"), to_date(ts).as("day"),
      to_date(date_trunc("week", ts)).as("__wk"),
      to_date(date_trunc("month", ts)).as("__mo"))
    val dau = base.groupBy(col("day"))
      .agg(countDistinct(col("__u")).as("dau"),
        first(col("__wk")).as("__wk"), first(col("__mo")).as("__mo"))
    val wau = base.groupBy(col("__wk"))
      .agg(countDistinct(col("__u")).as("wau"))
    val mau = base.groupBy(col("__mo"))
      .agg(countDistinct(col("__u")).as("mau"))
    dau.join(broadcast(wau), Seq("__wk"))
      .join(broadcast(mau), Seq("__mo"))
      .select(col("day"), col("dau"), col("wau"), col("mau"),
        round(col("dau").cast("double") / col("mau").cast("double"), 4)
          .as("stickiness"))
  }

  /** EXACT trailing-window actives (rolling WAU): per observed day, the
    * distinct users active in the `windowDays` ending there. Exact
    * rolling distinct is the metric sketches exist to approximate — it
    * is tractable here because the DAY grain bounds the state: after
    * the (day, user) dedup (≤ |users|·|days| rows, partial-agg
    * friendly), each row joins the ≤ |days| window-ends covering it
    * through the bucketed [[RangeJoin.pointInInterval]] (an equi-join
    * on day buckets — never a nested loop over a calendar frame), and
    * the final exact `countDistinct` fans each row out `windowDays`
    * times at most. The HLL swap (`approx_count_distinct` over the same
    * join) is the arbitrary-grain fallback; the exact form is the
    * contract. Output: (end_day, active_users). */
  def rollingActives(
      events: DataFrame, user: Column, ts: Column,
      windowDays: Int = 7): DataFrame =
    rollingDays(events, user, ts, windowDays)
      .agg(countDistinct(col("__u")).as("active_users"))

  /** The (day, user) dedup joined to every `windowDays` window ending on
    * an observed day that covers it, grouped by `end_day`: the shared
    * body of [[rollingActives]] and [[rollingActivesApprox]]. */
  private def rollingDays(
      events: DataFrame, user: Column, ts: Column,
      windowDays: Int): RelationalGroupedDataset = {
    require(windowDays >= 1, "windowDays must be >= 1")
    val epoch = lit("1970-01-01")
    val du = events.select(to_date(ts).as("__day"), user.as("__u"))
      .distinct()
      .withColumn("__dn", datediff(col("__day"), epoch).cast("double"))
    val ends = du.select(col("__day").as("end_day")).distinct()
      .withColumn("__lo",
        (datediff(col("end_day"), epoch) - (windowDays - 1)).cast("double"))
      .withColumn("__hi",
        (datediff(col("end_day"), epoch) + 1).cast("double"))
    RangeJoin.pointInInterval(du, col("__dn"), ends,
        col("__lo"), col("__hi"), bucketWidth = windowDays.toDouble)
      .groupBy(col("end_day"))
  }

  /** [[rollingActives]] with the HLL++ swap SHIPPED as a contract (the
    * [[graft.operators.CorpusStats.approxPercentileContract]] pattern):
    * the same bucketed range join feeds exact `countDistinct` (the
    * oracle-checkable number) AND `approx_count_distinct` over
    * identical rows, and the row carries `approx_ok` — whether the
    * sketch landed within `sigmas`·`rsd` relative error (plus
    * `absSlack` rows for small days). A sketch regression flips the
    * hash; an oracle asserts the literal `true`.
    *
    * Unlike the GK quantile contract, HLL's bound is probabilistic
    * (rsd IS the standard error), so `sigmas` is margin, not a
    * guarantee — but the sketch is hash-deterministic: a tolerance
    * that passes on a given corpus passes on it forever. At the
    * arbitrary-grain scale where exact per-window `countDistinct`
    * state is the risk (the reason this variant exists), drop the
    * exact column and keep the sketch — mergeable partials, constant
    * state per (end_day). Output: (end_day, active_users, approx_ok). */
  def rollingActivesApprox(
      events: DataFrame, user: Column, ts: Column,
      windowDays: Int = 7, rsd: Double = 0.05,
      sigmas: Double = 4.0, absSlack: Long = 8L): DataFrame = {
    val byEnd = rollingDays(events, user, ts, windowDays)
    require(rsd > 0.0 && rsd < 0.4, "rsd must be in (0, 0.4)")
    byEnd.agg(countDistinct(col("__u")).as("active_users"),
        approx_count_distinct(col("__u"), rsd).as("__approx"))
      .select(col("end_day"), col("active_users"),
        (abs(col("__approx") - col("active_users")) <=
          greatest(ceil(lit(sigmas * rsd) *
            col("active_users").cast("double")).cast("long"),
            lit(absSlack))).as("approx_ok"))
  }

  /** Retention cohort triangle: users grouped by their first active
    * DAY, counted distinct on each day-offset they return — the
    * standard activation/retention report. Cohort assignment is one
    * user-keyed `min(date)` aggregate joined back (both exchanges hash
    * on the user), the triangle a (cohort, offset) aggregate; offsets
    * are exact integer day differences. Output:
    * (cohort, offset_days, n_users). */
  def retentionCohorts(
      events: DataFrame, user: Column, ts: Column): DataFrame = {
    val d = events.select(user.as("__u"), to_date(ts).as("__d"))
    val first = d.groupBy(col("__u")).agg(min(col("__d")).as("cohort"))
    d.join(first, Seq("__u"))
      .groupBy(col("cohort"),
        datediff(col("__d"), col("cohort")).as("offset_days"))
      .agg(countDistinct(col("__u")).as("n_users"))
  }

  /** CUSUM upward-drift flags on daily event counts per key (Page
    * 1954): the sequential change-point screen that catches a SUSTAINED
    * small shift the per-day 3σ test (q116) is blind to — ten
    * consecutive days at +1σ never trip a 2σ day test but accumulate
    * linearly here. Classic one-sided CUSUM with slack k = kSigma·σ
    * and decision threshold h = hSigma·σ:
    *
    *   s_t = max(0, s_{t−1} + (n_t − μ − k)),   flag ⟺ s_t > h.
    *
    * The recursion has a WINDOW-EXPRESSIBLE closed form — with prefix
    * sums p_t = Σ_{i≤t}(n_i − μ − k):  s_t = p_t − min(0, min_{j≤t}
    * p_j) — so the whole statistic is two frames over ONE
    * key-partitioned sort (cumulative sum, then running min of it):
    * no recursion, no driver loop, keys processed in parallel and
    * days-per-key linear. Float discipline: daily counts are integers;
    * μ (4 dp), σ (2 dp — q116's stddev convention), k and h (4 dp) are
    * grid constants, so every prefix term sits on the 1e-4 decimal
    * grid and the final 4-dp round of s_t is grid-stable.
    *
    * Keys with a single day (σ undefined) are dropped, as in q116.
    * Output: (key, day, n, mu, sigma, cusum, drift). */
  def cusumDrift(
      events: DataFrame, key: Column, ts: Column,
      kSigma: Double = 0.5, hSigma: Double = 3.0): DataFrame = {
    val daily = dailyCounts(events, key, ts)
    val stats = daily.groupBy(col("key")).agg(
        round(sum(col("n")).cast("double") / count(lit(1)), 4).as("mu"),
        round(stddev_samp(col("n").cast("double")), 2).as("sigma"))
      .filter(col("sigma").isNotNull)
    val slack = round(col("sigma") * kSigma, 4)
    val h = round(col("sigma") * hSigma, 4)
    val w = Window.partitionBy(col("key")).orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.join(stats, Seq("key"))
      .withColumn("__term",
        col("n").cast("double") - col("mu") - slack)
      .withColumn("__cum", sum(col("__term")).over(w))
      .withColumn("__runmin", min(col("__cum")).over(w))
      .withColumn("cusum",
        round(col("__cum") - least(lit(0.0d), col("__runmin")), 4))
      .withColumn("drift", col("cusum") > h)
      .select(col("key"), col("day"), col("n"), col("mu"), col("sigma"),
        col("cusum"), col("drift"))
  }

  /** Last-touch attribution: credit each conversion event to the most
    * recent touch event by the same user within `windowMicros` — the
    * marketing-analytics join that answers "which click gets the
    * purchase". The touch lookup is the [[AsOf]] backward join (ONE
    * shuffle on the user + one in-partition sort, regardless of how
    * many touches precede each conversion — never the quadratic
    * user-equi range join), carrying the touch timestamp; the window
    * test and the per-day roll-up are one aggregate on top.
    *
    * Micros ride a double through the as-of machinery — exact below
    * 2^53 µs (≈ year 2255). Conversions with no prior touch, or a
    * touch outside the window, count in `n_conversions` but not in
    * `n_attributed`/`attributed_value` (null conversion values
    * attribute as count-only, contributing nothing to the sum). Output
    * per conversion day: (day, n_conversions, n_attributed,
    * attributed_value 2 dp). */
  def lastTouchAttribution(
      events: DataFrame, user: Column, ts: Column, eventType: Column,
      value: Column, touchType: String, convType: String,
      windowMicros: Long): DataFrame = {
    require(windowMicros > 0, "windowMicros must be positive")
    val conv = events.filter(eventType === convType)
      .select(user.as("user_id"), ts.as("ts"), value.as("__v"))
    val touch = events.filter(eventType === touchType)
      .select(user.as("user_id"), ts.as("ts"))
    val attributed =
      AsOf.join(conv, touch, "user_id", "ts",
          unix_micros(col("ts")).cast("double"), "touch_us")
        .withColumn("__attr",
          col("asof_touch_us").isNotNull &&
            unix_micros(col("ts")).cast("double") - col("asof_touch_us")
              <= windowMicros.toDouble)
    attributed
      .groupBy(col("ts").cast("date").as("day"))
      .agg(
        count(lit(1)).as("n_conversions"),
        sum(when(col("__attr"), 1L).otherwise(0L)).as("n_attributed"),
        round(coalesce(
          sum(when(col("__attr"), col("__v"))), lit(0.0d)), 2)
          .as("attributed_value"))
  }

  /** Session-level co-occurrence lift (association-rule screen): which
    * event types appear in the SAME session more often than chance —
    *
    *   lift(a, b) = P(a,b) / (P(a)·P(b)) = n_ab · S / (n_a · n_b)
    *
    * over session-distinct type sets (S = total sessions). Lift > 1 is
    * positive association; the classic market-basket read on q45's
    * sessions. All counts are integers and the one rational rounds at
    * 4 dp, so the report is engine-exact.
    *
    * Scale shape: one [[sessionize]] pass (key-partitioned window),
    * one distinct on (session, type) — fan-out bounded by |types| per
    * session — a self-join on the session key whose per-key match is
    * ≤ |types|² (never corpus-quadratic), and type-cardinality-sized
    * aggregates with a 1-row total broadcast. Output: (type_a, type_b,
    * n_ab, n_a, n_b, lift), n_ab DESC then lexicographic, top `topN`. */
  def sessionCooccurrence(
      events: DataFrame, user: Column, ts: Column, eventType: Column,
      gapMicros: Long, topN: Int): DataFrame = {
    require(topN >= 1, "topN must be positive")
    // Pinned: the session-distinct type frame (≤ sessions·|types| rows)
    // feeds THREE consumers (totals, per-type marginals, the pair
    // self-join) — without the pin each one re-runs the events-sized
    // sessionize window.
    val st = Materialize.pin(
      sessionize(events, user, ts, gapMicros, seqCol = "__seq")
        .select(sessionKey(user, col("__seq")).as("__skey"),
          eventType.as("t"))
        .distinct())
    val totals = st.agg(countDistinct(col("__skey")).as("s_total"))
    val perType = st.groupBy(col("t")).agg(count(lit(1)).as("n_t"))
    val pairs = st.as("a")
      .join(st.as("b"),
        col("a.__skey") === col("b.__skey") && col("a.t") < col("b.t"))
      .groupBy(col("a.t").as("type_a"), col("b.t").as("type_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(perType.select(col("t").as("type_a"),
        col("n_t").as("n_a"))), Seq("type_a"))
      .join(broadcast(perType.select(col("t").as("type_b"),
        col("n_t").as("n_b"))), Seq("type_b"))
      .crossJoin(broadcast(totals))
      .select(col("type_a"), col("type_b"), col("n_ab"), col("n_a"),
        col("n_b"),
        round(col("n_ab").cast("double") * col("s_total").cast("double")
          / (col("n_a") * col("n_b")).cast("double"), 4).as("lift"))
      .orderBy(col("n_ab").desc, col("type_a").asc, col("type_b").asc)
      .limit(topN)
  }

  /** Run-length compression of a per-key daily series into validity
    * intervals — the SCD2 history build: per (key, day) keep the LAST
    * observed value (max over the (ts, tieBreak) pair, so the reduce is
    * deterministic even under same-timestamp ties), then collapse
    * consecutive observed days carrying the same value into one
    * (key, value, valid_from, valid_to, n_days) row. "Consecutive"
    * means adjacent in the key's OBSERVED day sequence — a quiet day
    * does not split an interval (absence of evidence is not a change);
    * callers wanting calendar-strict intervals filter on
    * `datediff(valid_to, valid_from) + 1 = n_days` rather than needing
    * a different operator. Value changes compare null-safely: a null
    * value is a tracked state, and null→null is "no change".
    *
    * Scale shape: the per-(key, day) reduce is `max_by` over a struct —
    * a hash aggregate with map-side partial aggregation, never a
    * row_number window over raw events. The island id is lag + running
    * sum over ONE window spec (partition key, order day): both window
    * operators share the exchange and the sort, and their input is the
    * post-aggregation daily frame (≤ |keys|·|days| rows), not the
    * event table. The final interval aggregate reuses the same key
    * hashing. */
  def changeIntervals(
      events: DataFrame, key: Column, ts: Column, value: Column,
      tieBreak: Column): DataFrame = {
    val daily = events
      .select(key.as("key"), ts.cast("date").as("day"),
        struct(ts.as("ts"), tieBreak.as("tb")).as("__ord"),
        value.as("__v"))
      .groupBy(col("key"), col("day"))
      .agg(max_by(col("__v"), col("__ord")).as("value"))
    val w = Window.partitionBy(col("key")).orderBy(col("day").asc)
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("__chg",
        when(lag(col("value"), 1).over(w) <=> col("value"), 0).otherwise(1))
      .withColumn("__island", sum(col("__chg")).over(cum))
      .groupBy(col("key"), col("value"), col("__island"))
      .agg(min(col("day")).as("valid_from"), max(col("day")).as("valid_to"),
        count(lit(1)).as("n_days"))
      .select(col("key"), col("value"), col("valid_from"), col("valid_to"),
        col("n_days"))
  }

  /** Truncated exponentially-weighted moving-average screen on daily
    * event counts per key: ewma_t = Σ_{j∈window} decay^(t−j)·n_j
    * normalized by Σ decay^(t−j) over the trailing `span` OBSERVED
    * days, and a spike flag when today's count sits more than
    * `hSigma`·σ away from YESTERDAY's smoothed level (one-step-ahead
    * forecast error — the screen q116's per-day 3σ test runs unsmoothed
    * and q155's CUSUM runs cumulatively; EWMA sits between them,
    * discounting history geometrically instead of all-or-nothing).
    * `decay` is 1−α passed directly — both engines parse the same
    * literal, so no cross-engine 1.0−α rounding split. The truncated
    * (finite-window) form is exact — no recursion, no unbounded state.
    *
    * Scale shape: the only join runs on the POST-aggregation daily
    * frame — per-key fan-out is bounded by the calendar (≤ |days|²
    * intermediate per key before the span filter, independent of event
    * volume), the same bound q34's note establishes for its calendar
    * window. One hash aggregate over raw events (map-side partial),
    * one key-equi sort-merge join, one lag window sharing the key
    * partitioning, and a key-cardinality σ broadcast. First observed
    * day per key has no forecast → dev null, spike false by contract.
    * Output: (key, day, n, sigma, ewma 4 dp, dev 4 dp, spike). */
  def ewmaScreen(
      events: DataFrame, key: Column, ts: Column,
      decay: Double = 0.7, span: Int = 14, hSigma: Double = 3.0): DataFrame =
    ewmaScreenDaily(dailyCounts(events, key, ts), decay, span, hSigma)

  /** [[ewmaScreen]] on a PRE-AGGREGATED daily frame (key, day, n) —
    * the entry point the streaming drift watch shares with the batch
    * query, so stream ≡ batch is one definition, not two kept in
    * sync. */
  def ewmaScreenDaily(
      daily: DataFrame,
      decay: Double = 0.7, span: Int = 14, hSigma: Double = 3.0): DataFrame = {
    require(decay > 0.0 && decay < 1.0, "decay must be in (0,1)")
    require(span >= 1, "span must be positive")
    // __skey, not key: same renamed-self-join discipline as `hist`
    // below (a shared-view source defeats dataset-alias dedup).
    val stats = daily.groupBy(col("key").as("__skey"))
      .agg(round(stddev_samp(col("n").cast("double")), 2).as("sigma"))
      .filter(col("sigma").isNotNull)
    val w = Window.partitionBy(col("key")).orderBy(col("day").asc)
    val idx = daily.withColumn("__idx", row_number().over(w))
    // The history side renames EVERY column before the self-join:
    // dataset aliases (`as("a")`/`as("b")`) fail to resolve when the
    // daily frame is a view over identical attribute ids (e.g. a
    // streaming memory table), while distinct names join from any
    // source.
    val hist = idx.select(col("key").as("__bkey"), col("__idx").as("__j"),
      col("n").cast("double").as("__nj"))
    val wgt = pow(lit(decay), col("__idx") - col("__j"))
    val smoothed = idx
      .join(hist,
        col("key") === col("__bkey") &&
          col("__j") <= col("__idx") && col("__j") > col("__idx") - span)
      .groupBy(col("key"), col("day"), col("n"))
      .agg(round(sum(wgt * col("__nj")) / sum(wgt), 4).as("ewma"))
    smoothed
      .withColumn("__prev", lag(col("ewma"), 1).over(w))
      .join(broadcast(stats), col("key") === col("__skey"))
      .withColumn("dev", round(col("n").cast("double") - col("__prev"), 4))
      .withColumn("spike",
        coalesce(abs(col("dev")) > round(col("sigma") * hSigma, 4),
          lit(false)))
      .select(col("key"), col("day"), col("n"), col("sigma"), col("ewma"),
        col("dev"), col("spike"))
  }

  /** Per-key least-squares trend of daily event counts: slope,
    * intercept, and R² of n ~ day-index, computed from explicit
    * integer power sums (n, Σx, Σy, Σx², Σy², Σxy) — never an engine's
    * `regr_*` built-ins, whose internal accumulation order is not
    * specified cross-engine. Every sum is an exact integer (the daily
    * frame is calendar-bounded, so each fits 2^53 with orders of
    * magnitude to spare); both engines then evaluate the SAME double
    * formula on the SAME exact inputs, making the 4 dp report
    * engine-exact rather than engine-close. The x axis is the key's
    * observed-day index (1..n_days) — rank, not calendar offset — so
    * quiet days compress rather than anchor the fit; keys need ≥ 2
    * observed days, and a zero-variance count series reports r2 null.
    *
    * Scale shape: one hash aggregate over raw events (map-side
    * partial), one row_number window and one final aggregate on the
    * |keys|·|days| daily frame. Nothing rescans events. */
  def dailyTrend(events: DataFrame, key: Column, ts: Column): DataFrame = {
    val w = Window.partitionBy(col("key")).orderBy(col("day").asc)
    val sums = powerSums("n_days", col("x"), col("n")) ++
      Seq(min(col("day")).as("first_day"), max(col("day")).as("last_day"))
    val s = dailyCounts(events, key, ts)
      .withColumn("x", row_number().over(w).cast("long"))
      .groupBy(col("key"))
      .agg(sums.head, sums.tail: _*)
      .filter(col("n_days") >= 2)
    val (num, den, deny) = coMoments("n_days")
    s.select(col("key"), col("n_days"), col("first_day"), col("last_day"),
      round(num / den, 4).as("slope"),
      round((dbl("sy") - (num / den) * dbl("sx")) / dbl("n_days"), 4)
        .as("intercept"),
      when(deny > 0, round(num * num / (den * deny), 4)).as("r2"))
  }

  /** Calendar-aligned seasonal autocorrelation of daily event counts:
    * per key, the Pearson correlation of (n_t, n_{t−lagDays}) over
    * CALENDAR-matched day pairs — the weekly-seasonality screen when
    * lagDays = 7 (a high acf says the series repeats on that period;
    * q160/q155 then decide whether today's level is drift or rhythm).
    * Matching is by date arithmetic, not observed-day rank: seasonality
    * is a property of the calendar, so a missing day drops its pair
    * rather than shifting the alignment. Same explicit-integer-sums
    * discipline as [[dailyTrend]] — both engines evaluate one double
    * formula on exact inputs; zero variance on either side reports
    * null, keys with < 2 matched pairs are dropped.
    *
    * Scale shape: the daily frame self-joins on (key, day+lag) — an
    * equi-join on the calendar-bounded frame — then one per-key
    * aggregate. Raw events are scanned exactly once. */
  def seasonalAutocorr(
      events: DataFrame, key: Column, ts: Column,
      lagDays: Int = 7): DataFrame = {
    require(lagDays >= 1, "lagDays must be positive")
    val daily = dailyCounts(events, key, ts)
    val prev = daily.select(col("key"),
      date_add(col("day"), lagDays).as("day"), col("n").as("n_prev"))
    val sums = powerSums("n_pairs", col("n"), col("n_prev"))
    val s = daily.join(prev, Seq("key", "day"))
      .groupBy(col("key"))
      .agg(sums.head, sums.tail: _*)
      .filter(col("n_pairs") >= 2)
    val (num, varx, vary) = coMoments("n_pairs")
    s.select(col("key"), col("n_pairs"),
      when(varx > 0 && vary > 0,
        round(num / sqrt(varx * vary), 4)).as("acf"))
  }

  /** Time-to-convert cohorts: per user, the lag from their FIRST
    * `fromType` event to their first `toType` event at or after it
    * (first-touch anchoring — q101's funnel convention), cohorted by
    * the day of the first touch: (day, n_users, mean/p50/p90 lag in
    * SECONDS, 4 dp). The mean divides the exact integer-micros sum
    * once; the percentiles interpolate at second scale deliberately —
    * at raw-micros magnitude (10¹¹) a 4 dp grid sits below the double
    * ulp and the two engines' interpolation orders disagree in the
    * last place, while at second scale the grid is ~10⁶ ulps wide.
    * Users who never convert are not rows here — this is the
    * conversion-velocity report, not the conversion-rate one (q101).
    *
    * Scale shape: two type-filtered user-keyed min-aggregates (both
    * partial-agg friendly, ≤ |users| rows each) joined on the user —
    * one shuffle each, reusing the user hashing — then a per-cohort
    * aggregate on the |users|-row lag frame. */
  def conversionLag(
      events: DataFrame, user: Column, ts: Column, eventType: Column,
      fromType: String, toType: String): DataFrame = {
    val (_, conv) = firstTouch(
      events.select(user.as("__u"), ts.as("__ts"), eventType.as("__et")),
      Seq("__u"), fromType, toType)
    val lagged = conv.groupBy(col("__u"))
      .agg(min(col("__t1")).as("t1"), min(col("__ts")).as("t2"))
      .select(col("t1").cast("date").as("day"),
        (unix_micros(col("t2")) - unix_micros(col("t1"))).as("lag_us"))
    val summary = secondsSummary(col("lag_us"), "n_users", "lag")
    lagged.groupBy(col("day")).agg(summary.head, summary.tail: _*)
  }
  /** Peak concurrent sessions — the sweep-line read on q45's sessions:
    * each session contributes a +1 boundary at its start and a −1 at
    * its end; the running sum over ALL boundaries in (ts, delta DESC,
    * session) order is the instantaneous concurrency, and the report
    * is each day's maximum. Closed-interval semantics by the tie rule
    * (+1 sorts before −1 at the same instant): a session starting
    * exactly when another ends overlaps it, and a single-event session
    * still registers concurrency ≥ 1 on its day. Days with no
    * boundary events have no row — a session silently spanning a
    * whole quiet day holds the LEVEL up (the carry-in is in the
    * running sum) but the day itself reports nothing, which is the
    * honest reading of "report days with activity".
    *
    * Scale shape: sessionize's key window, a per-session aggregate,
    * and then the one genuinely global step — the boundary cumsum —
    * runs through [[ScalableWindow.runningTotalBy]]'s two-phase
    * range-partitioned form: no single-partition window over the
    * boundary stream, ±1 integer sums are exact at any scale. */
  def peakConcurrency(
      events: DataFrame, user: Column, ts: Column, gapMicros: Long,
      partitions: Int = 32): DataFrame = {
    val sess = sessionize(events, user, ts, gapMicros, seqCol = "__seq")
      .groupBy(user.as("__u"), col("__seq"))
      .agg(min(ts).as("start_ts"), max(ts).as("end_ts"))
      .withColumn("__skey", sessionKey(col("__u"), col("__seq")))
    val bounds = sess
      .select(col("start_ts").as("ts"), lit(1L).as("delta"), col("__skey"))
      .unionByName(sess.select(col("end_ts").as("ts"),
        lit(-1L).as("delta"), col("__skey")))
    val cum = ScalableWindow.runningTotalBy(bounds,
      Seq(col("ts").asc, col("delta").desc, col("__skey").asc),
      col("delta"), "concurrent", partitions)
    cum.groupBy(col("ts").cast("date").as("day"))
      .agg(max(col("concurrent")).as("peak_concurrent"),
        count(lit(1)).as("n_boundaries"))
  }
  /** Two-proportion A/B test on a conversion funnel: per cohort, users
    * EXPOSED (≥ 1 `fromType` event) and CONVERTED (≥ 1 `toType` event
    * at or after their first exposure — q101's two-step semantics),
    * then the pooled two-proportion z statistic
    *
    *   z = (p_a − p_b) / √(p̂(1−p̂)(1/n_a + 1/n_b)),  p̂ pooled
    *
    * in one row of evidence. All counts are exact integers, the z
    * formula is one double expression mirrored in the oracle, and the
    * significance flag compares the 4 dp-rounded z to `zCrit` — so
    * the verdict is engine-exact, not library-dependent. Degenerate
    * designs (an empty cohort, or pooled rate 0/1 → zero standard
    * error) report null z and a false flag rather than ±∞.
    *
    * The cohort expression must be DETERMINISTIC in the user (e.g. a
    * user-id parity or hash bucket) — a per-event cohort would let one
    * user convert in both arms. Scale shape: two type-filtered
    * user-keyed aggregates reusing one (cohort, user) hashing, then
    * 1-row cohort aggregates crossed by broadcast. */
  def abTestProportions(
      events: DataFrame, user: Column, ts: Column, eventType: Column,
      cohort: Column, cohortA: String, cohortB: String,
      fromType: String, toType: String, zCrit: Double = 1.96): DataFrame = {
    val base = events.select(user.as("__u"), ts.as("__ts"),
      eventType.as("__et"), cohort.as("__c"))
    val (exposed, atOrAfter) = firstTouch(base, Seq("__c", "__u"), fromType, toType)
    val converted = atOrAfter.select(col("__c"), col("__u")).distinct()
    def one(df: DataFrame, c: String, as: String): DataFrame =
      df.filter(col("__c") === c).agg(count(lit(1)).as(as))
    val counts = one(exposed.select(col("__c")), cohortA, "n_a")
      .crossJoin(broadcast(one(converted, cohortA, "x_a")))
      .crossJoin(broadcast(one(exposed.select(col("__c")), cohortB, "n_b")))
      .crossJoin(broadcast(one(converted, cohortB, "x_b")))
    val pa = dbl("x_a") / dbl("n_a")
    val pb = dbl("x_b") / dbl("n_b")
    val pp = (dbl("x_a") + dbl("x_b")) / (dbl("n_a") + dbl("n_b"))
    val se = sqrt(pp * (lit(1.0d) - pp) * (lit(1.0d) / dbl("n_a") + lit(1.0d) / dbl("n_b")))
    val z = round((pa - pb) / se, 4)
    counts.select(col("n_a"), col("x_a"),
      when(col("n_a") > 0, round(pa, 4)).as("rate_a"),
      col("n_b"), col("x_b"),
      when(col("n_b") > 0, round(pb, 4)).as("rate_b"),
      when(col("n_a") > 0 && col("n_b") > 0 && se > 0, z).as("z"),
      coalesce(when(col("n_a") > 0 && col("n_b") > 0 && se > 0,
        abs(z) > zCrit), lit(false)).as("significant"))
  }

  /** Session entry/exit matrix — web analytics' landing/bounce read on
    * q45's sessions: for every session its FIRST and LAST event type
    * (deterministic under same-timestamp ties via the caller's
    * tie-break column), aggregated to (entry_type, exit_type,
    * n_sessions, share). The diagonal at session length 1 is the
    * bounce mass; q105's paths say what happens inside sessions, this
    * says where they start and end.
    *
    * Scale shape: sessionize's key window, then a min_by/max_by
    * session reduce (map-side partials over the struct ordering — no
    * second window), a \|types\|²-bounded aggregate, and a 1-row total
    * broadcast. */
  def entryExitMatrix(
      events: DataFrame, user: Column, ts: Column, eventType: Column,
      tieBreak: Column, gapMicros: Long): DataFrame = {
    val s = sessionize(events, user, ts, gapMicros, seqCol = "__seq")
    val per = s
      .select(user.as("__u"), col("__seq"),
        struct(ts.as("ts"), tieBreak.as("tb")).as("__ord"),
        eventType.as("__et"))
      .groupBy(col("__u"), col("__seq"))
      .agg(min_by(col("__et"), col("__ord")).as("entry_type"),
        max_by(col("__et"), col("__ord")).as("exit_type"))
    val tot = per.agg(count(lit(1)).as("__total"))
    per.groupBy(col("entry_type"), col("exit_type"))
      .agg(count(lit(1)).as("n_sessions"))
      .crossJoin(broadcast(tot))
      .select(col("entry_type"), col("exit_type"), col("n_sessions"),
        round(col("n_sessions") * lit(1.0d) / col("__total"), 4).as("share"))
      .orderBy(col("n_sessions").desc, col("entry_type").asc,
        col("exit_type").asc)
  }
  /** Transition dwell-time profile — q106's transition matrix with a
    * clock: for each consecutive (prev_type → next_type) pair within a
    * user's event stream, how long the step takes (n, mean and exact
    * interpolated p50/p90, all in SECONDS at 4 dp — the q165 scale
    * discipline: the mean divides the exact integer-micros sum once,
    * and percentiles interpolate where the rounding grid is ~10⁶ ulps
    * wide). Same-timestamp ties order by the caller's tie-break, so
    * consecutive-pair extraction is deterministic.
    *
    * Scale shape: ONE user-partitioned lag window over events (the
    * q49 shape), then a \|types\|²-bounded aggregate. */
  def transitionDwell(
      events: DataFrame, user: Column, ts: Column, eventType: Column,
      tieBreak: Column): DataFrame = {
    val paired = userOrdered(events, user, ts, tieBreak, eventType, "next_type")
      .withColumn("prev_type", lag(col("next_type"), 1).over(ByUserTs))
      .withColumn("__prev_ts", lag(col("__ts"), 1).over(ByUserTs))
      .filter(col("prev_type").isNotNull)
      .select(col("prev_type"), col("next_type"),
        (unix_micros(col("__ts")) - unix_micros(col("__prev_ts")))
          .as("__dwell_us"))
    val summary = secondsSummary(col("__dwell_us"), "n", "dwell")
    paired.groupBy(col("prev_type"), col("next_type"))
      .agg(summary.head, summary.tail: _*)
  }

  /** Cohort-aligned LTV curve: cumulative conversion value per
    * onboarded user by days since that user's FIRST event (any type —
    * the onboarding anchor), the product-analytics "when does a user
    * pay back" curve. Money stays on the 2-decimal grid (per-offset
    * sums rounded, the cumulative sum re-rounded — q34's convention),
    * and the per-user normalization divides by the FIXED onboarded-
    * user count, so the curve is monotone and engine-exact. Offsets
    * past `maxDays` fold into the final bucket (capped, not dropped —
    * the tail's value still lands in the curve).
    *
    * Scale shape: one user-keyed min aggregate (the anchor frame,
    * ≤ \|users\| rows, reused partitioning for the conversion join),
    * one offset aggregate, then a calendar-bounded window over
    * ≤ maxDays+1 rows. */
  def ltvCurve(
      events: DataFrame, user: Column, ts: Column, eventType: Column,
      value: Column, convType: String, maxDays: Int): DataFrame = {
    require(maxDays >= 0, "maxDays must be non-negative")
    val first = events.groupBy(user.as("__u"))
      .agg(min(ts.cast("date")).as("__d0"))
    val nUsers = first.agg(count(lit(1)).as("__n_users"))
    val conv = events.filter(eventType === convType)
      .select(user.as("__u"), ts.cast("date").as("__d"), value.as("__v"))
    val offsets = conv.join(first, Seq("__u"))
      .select(least(datediff(col("__d"), col("__d0")), lit(maxDays))
        .as("day_offset"), col("__v"))
      .groupBy(col("day_offset"))
      .agg(round(coalesce(sum(col("__v")), lit(0.0d)), 2).as("value_day"),
        count(lit(1)).as("n_conversions"))
    val w = Window.orderBy(col("day_offset").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Unpartitioned window: input is the ≤ maxDays+1-row offset frame
    // (calendar-bounded — q34's note), never raw conversions.
    offsets
      .withColumn("cum_value", round(sum(col("value_day")).over(w), 2))
      .crossJoin(broadcast(nUsers))
      .select(col("day_offset"), col("n_conversions"), col("value_day"),
        col("cum_value"),
        round(col("cum_value") / col("__n_users").cast("double"), 4)
          .as("cum_value_per_user"))
  }
  /** Stationary distribution of the event-type Markov chain — where
    * the user flow settles: `iterations` synchronous power-iteration
    * steps v ← vP from a uniform start over the observed from-states,
    * on q106's row-normalized transition matrix. P's entries are the
    * 4 dp-rounded probabilities the matrix REPORTS (both engines
    * iterate the identical grid doubles, so the fixed-iteration
    * result is engine-exact at the final 4 dp rounding); rows
    * therefore sum to ≈1 and states with no outgoing edges leak their
    * mass — the report is the fixed-iteration estimate, declared as
    * such, not an eigensolver.
    *
    * Scale shape: the matrix build is [[transitionMatrix]] (one lag
    * window + \|types\|² aggregate — the only data-sized work). The
    * matrix itself is \|types\|²-bounded — PARAMETER-sized, the
    * codebook discipline — so the power iteration runs on the DRIVER
    * over the collected grid (≤ `maxCollectStates`² rows; the sf0.1
    * bench had 8 distributed iterations costing ~0.8 s of pure
    * scheduling on frames of a few dozen rows). The matrix is pinned
    * once and the state count (from ∪ to — every driver map key) is
    * checked by an IN-ENGINE distinct-count before anything is
    * collected; above the cap the operator runs the distributed
    * per-step loop over the same pinned frame, so type cardinality
    * can never overrun driver memory. Driver sums
    * accumulate in sorted (from, to) order — deterministic, and
    * association noise sits ~1e-15, far inside the final 4 dp round
    * (the same argument the distributed form relied on vs DuckDB's
    * sum order). */
  def stationaryDistribution(
      events: DataFrame, user: Column, ts: Column, tieBreak: Column,
      eventType: Column, iterations: Int = 8,
      maxCollectStates: Int = 4096): DataFrame = {
    require(iterations >= 1 && iterations <= 32,
      "iterations must be in [1, 32]")
    val spark = events.sparkSession
    // Pin the matrix ONCE: the lag window + |types|^2 aggregate is the
    // only data-sized work, and the cap probe plus whichever iteration
    // path wins all read the pinned frame - never a second matrix build.
    val pinned = Materialize.pin(
      transitionMatrix(events, user, ts, tieBreak, eventType)
        .select(col("from_type"), col("to_type"), col("p").as("__pij")))
    // Guard BEFORE any collect: distinct states (from-states AND
    // to-only states - both become driver map keys) counted by a cheap
    // in-engine aggregate over the matrix frame, so a high-cardinality
    // eventType never pulls edge rows onto the driver.
    val nStates = pinned.select(col("from_type").as("s"))
      .union(pinned.select(col("to_type").as("s")))
      .distinct().count()
    if (nStates > maxCollectStates) {
      // Distributed fallback: per-step pinned join+aggregate.
      val states = Materialize.pin(
        pinned.select(col("from_type").as("state")).distinct())
      val n1 = states.agg(count(lit(1)).as("__n"))
      var dist = states.crossJoin(broadcast(n1))
        .select(col("state"),
          (lit(1.0d) / col("__n").cast("double")).as("p"))
      (1 to iterations).foreach { _ =>
        dist = Materialize.pin(
          dist.select(col("state").as("__i"), col("p").as("__pi"))
            .join(pinned, col("__i") === col("from_type"))
            .groupBy(col("to_type").as("state"))
            .agg(sum(col("__pi") * col("__pij")).as("p")))
      }
      dist.select(col("state"), round(col("p"), 4).as("stationary"))
    } else {
      // Option keys, not a string sentinel: a genuine event type can
      // never collide with the null state.
      def key(r: org.apache.spark.sql.Row, i: Int): Option[String] =
        if (r.isNullAt(i)) None else Some(r.getString(i))
      val rows = pinned.collect()
      // Sorted edge list: a fixed accumulation order per to-state.
      val edges = rows.map(r => (key(r, 0), key(r, 1), r.getDouble(2)))
        .sortBy(e => (e._1, e._2))
      val states = edges.map(_._1).distinct
      var v: Map[Option[String], Double] =
        states.map(_ -> 1.0d / states.length).toMap
      (1 to iterations).foreach { _ =>
        val next =
          scala.collection.mutable.LinkedHashMap[Option[String], Double]()
        edges.foreach { case (from, to, pij) =>
          v.get(from).foreach { pi =>
            next(to) = next.getOrElse(to, 0.0d) + pi * pij
          }
        }
        v = next.toMap
      }
      // Final 4 dp round stays IN the engine (identical `round`
      // semantics to the distributed form — no driver re-implementation
      // of Catalyst's double rounding at the half-grid).
      val out = v.toSeq.map { case (s, p) => (s.orNull, p) }
      import spark.implicits._
      out.toDF("state", "p")
        .select(col("state"), round(col("p"), 4).as("stationary"))
    }
  }
  /** Revenue-concentration report — the Lorenz read at named points:
    * for each requested top percentile, the user-revenue cutoff (the
    * exact interpolated (100−p)th percentile of per-user conversion
    * revenue), how many users clear it, and the share of total
    * revenue they carry. Formulated via percentile CUTOFFS rather
    * than a global rank so nothing ever globally sorts: per-user
    * revenue sits on the 2-decimal grid, the cutoff on the 4 dp grid,
    * and the `rev ≥ cutoff` comparison is therefore engine-exact
    * (users tied at the cutoff are all in — deterministic, declared).
    *
    * Scale shape: one type-filtered user-keyed sum (map-side
    * partials), one percentile+total aggregate over the \|users\|-row
    * revenue frame, and a \|pcts\|-row report crossed by broadcast. */
  def revenueConcentration(
      events: DataFrame, user: Column, value: Column, eventType: Column,
      convType: String, pcts: Seq[Int] = Seq(1, 5, 10, 25)): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 99),
      "pcts must be in [1, 99]")
    val rev = events.filter(eventType === convType)
      .groupBy(user.as("__u"))
      .agg(round(coalesce(sum(value), lit(0.0d)), 2).as("__rev"))
    val cutoffs = pcts.zipWithIndex.map { case (p, i) =>
      round(percentile(col("__rev"), lit((100 - p) / 100.0d)), 4)
        .as(s"__c$i")
    }
    val totalsAggs = Seq(count(lit(1)).as("__n_users"),
      round(sum(col("__rev")), 2).as("__total")) ++ cutoffs
    val totals = rev.agg(totalsAggs.head, totalsAggs.tail: _*)
    val shares = pcts.zipWithIndex.map { case (p, i) =>
      rev.crossJoin(broadcast(totals))
        .filter(col("__rev") >= col(s"__c$i"))
        .agg(count(lit(1)).as("n_users_above"),
          round(coalesce(sum(col("__rev")), lit(0.0d)), 2)
            .as("value_above"))
        .crossJoin(broadcast(totals.select(col("__total"),
          col(s"__c$i").as("cutoff"))))
        .select(lit(p).as("top_pct"), col("cutoff"),
          col("n_users_above"), col("value_above"),
          when(col("__total") > 0,
            round(col("value_above") / col("__total"), 4))
            .as("value_share"))
    }
    shares.reduce(_.unionByName(_))
  }

  /** Segmented conversion funnel: q101's two-step exposed→converted
    * semantics, reported per SEGMENT of the first touch (any
    * deterministic function of the exposure anchor — hour of day,
    * weekday, a cohort tag): which entry contexts convert. Output:
    * (segment, n_exposed, n_converted, rate 4 dp).
    *
    * Scale shape: one user-keyed min aggregate (anchors), one
    * semi-join-shaped conversion probe on the same user hashing, one
    * segment-cardinality aggregate. */
  def segmentedFunnel(
      events: DataFrame, user: Column, ts: Column, eventType: Column,
      fromType: String, toType: String,
      segmentOfAnchor: Column => Column): DataFrame = {
    val (anchors, atOrAfter) = firstTouch(
      events.select(user.as("__u"), ts.as("__ts"), eventType.as("__et")),
      Seq("__u"), fromType, toType)
    val converted = atOrAfter.select(col("__u")).distinct()
      .withColumn("__conv", lit(1L))
    anchors
      .join(converted, Seq("__u"), "left")
      .groupBy(segmentOfAnchor(col("__t1")).as("segment"))
      .agg(count(lit(1)).as("n_exposed"),
        coalesce(sum(col("__conv")), lit(0L)).as("n_converted"))
      .select(col("segment"), col("n_exposed"), col("n_converted"),
        when(col("n_exposed") > 0,
          round(dbl("n_converted") / dbl("n_exposed"), 4)).as("rate"))
  }

  /** Per-user behavioral-diversity histogram: each user's Shannon
    * entropy over their event-type mix, bucketed into `nBuckets`
    * fixed bins on [0, ln |types|] — how specialized the user base
    * is. The bin edge arithmetic is one double formula on exact
    * integer counts; H = 0 (single-type users) lands exactly in
    * bucket 0 and H = ln |types| (perfectly uniform over every type)
    * is caught by the `least` guard — the two representable boundary
    * cases, handled explicitly. Output: (bucket, lo, hi, n_users).
    *
    * Scale shape: one (user, type) hash aggregate, one user
    * aggregate, a 1-row type-count broadcast, one bucket aggregate —
    * the complete-grid lesson does NOT apply here (an empty entropy
    * bucket carries no users by definition, absence IS the report),
    * but the output still enumerates only observed buckets; callers
    * wanting a dense axis left-join a literal range. */
  def userDiversityHistogram(
      events: DataFrame, user: Column, eventType: Column,
      nBuckets: Int = 10): DataFrame = {
    require(nBuckets >= 2, "nBuckets must be at least 2")
    val perUt = events.select(user.as("__u"), eventType.as("__et"))
      .groupBy(col("__u"), col("__et")).agg(count(lit(1)).as("__c"))
    val nTypes = perUt.select(col("__et")).distinct()
      .agg(count(lit(1)).as("__n_types"))
    val perU = perUt.groupBy(col("__u"))
      .agg(sum(col("__c")).as("__n"),
        sum(col("__c").cast("double") * log(col("__c").cast("double")))
          .as("__clogc"))
      // H = ln n − (Σ c·ln c)/n — one formula, no per-type division
      // greatest(0, ·): n·ln n / n can land one ulp under ln n, and a
      // single-type user's H must not floor into bucket −1
      .select(col("__u"),
        greatest(lit(0.0d), log(col("__n").cast("double"))
          - col("__clogc") / col("__n").cast("double")).as("__h"))
    val hMax = log(col("__n_types").cast("double"))
    perU.crossJoin(broadcast(nTypes))
      // hMax == 0 (a single observed event type) would make the bucket
      // formula 0/0 = NaN; every user is then maximally specialized by
      // definition and belongs in bucket 0 directly.
      .select(when(hMax > lit(0.0d),
          least(lit(nBuckets - 1), floor(col("__h") * nBuckets / hMax)))
          .otherwise(lit(0)).cast("int").as("bucket"),
        col("__h"), hMax.as("__hmax"))
      .groupBy(col("bucket"), col("__hmax"))
      .agg(count(lit(1)).as("n_users"))
      .select(col("bucket"),
        round(col("bucket") * col("__hmax") / nBuckets, 4).as("lo"),
        round((col("bucket") + 1) * col("__hmax") / nBuckets, 4).as("hi"),
        col("n_users"))
  }
}
