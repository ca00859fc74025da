package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** True event-stream processing — the upgrade path beyond the reference's
  * snapshot polling (SURVEY.md §2.H / §7.3 extension): event-time
  * tumbling/sliding windows with watermarked late-data handling, and
  * keyed custom state via `flatMapGroupsWithState` (sessionization).
  *
  * State is bounded by construction: watermarks age out window state;
  * session state carries one small struct per active key.
  *
  * The keyed-state operators share a few private steps, each written
  * once:
  *   - the per-user state wrapper [[perUser]] (`groupByKey(user_id)` +
  *     `flatMapGroupsWithState`, Append, no timeout);
  *   - the microsecond clock [[micros]] / [[toTs]] and the UTC day clock
  *     [[epochDay]] / [[toDate]] ([[sessionize]] alone keeps
  *     `getTime` milliseconds, its declared grain);
  *   - the equal-timestamp anchor relaxation [[relaxAt]] and the funnel
  *     depth [[depth]] over step anchors.
  */
object EventStream {

  /** Keyed custom state per user: `f` folds each user's micro-batch rows
    * into their state and emits; Append output, no wall-clock timeouts
    * (deterministic replay). */
  private def perUser[S: Encoder, U: Encoder](events: Dataset[Event])(
      f: (Long, Iterator[Event], GroupState[S]) => Iterator[U])(
      implicit spark: SparkSession): Dataset[U] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[S, U](OutputMode.Append, GroupStateTimeout.NoTimeout)(f)
  }

  /** Full microsecond precision: `getTime` is millis-truncated and the
    * residual micros live in `getNanos`. */
  private def micros(ts: Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L

  /** The inverse of [[micros]]. */
  private def toTs(us: Long): Timestamp = {
    val t = new Timestamp(us / 1000000L * 1000L)
    t.setNanos((us % 1000000L).toInt * 1000)
    t
  }

  /** Epoch day (UTC, the session's batch `to_date` zone). */
  private def epochDay(ts: Timestamp): Long = Math.floorDiv(ts.getTime, 86400000L)

  /** The inverse of [[epochDay]]. */
  private def toDate(day: Long): java.sql.Date =
    java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(day))

  /** Watermarked tumbling-window aggregation per event type:
    * (window, event_type) → count + value sum. Late events beyond
    * `watermark` are dropped deterministically. */
  def windowedCounts(
      events: DataFrame, windowLength: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Sliding-window variant (windowLength every slide). */
  def slidingCounts(
      events: DataFrame, windowLength: String, slide: String,
      watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class SessionState(start: Long, last: Long, nEvents: Long, total: Double)
  case class UserSession(user_id: Long, startTs: Timestamp, endTs: Timestamp,
      n_events: Long, total_value: Double)

  /** Keyed custom state: per-user sessionization with an EVENT-TIME
    * inactivity gap — a session closes (and is emitted) when a later
    * event for the same user arrives more than `gapMs` after the
    * session's last event. Deterministic (no wall-clock timeouts): replay
    * of the same input produces the same sessions. At scale, state is one
    * small struct per active user, sharded by the group-by hash. */
  def sessionize(events: Dataset[Event], gapMs: Long)
      (implicit spark: SparkSession): Dataset[UserSession] = {
    import spark.implicits._
    perUser[SessionState, UserSession](events) { (userId, rows, state) =>
      val evs = rows.toSeq.sortBy(_.ts.getTime)
      var cur = state.getOption
      val closed = Seq.newBuilder[UserSession]
      evs.foreach { ev =>
        val t = ev.ts.getTime
        cur match {
          case Some(s) if t - s.last > gapMs =>
            closed += UserSession(userId, new Timestamp(s.start),
              new Timestamp(s.last), s.nEvents, s.total)
            cur = Some(SessionState(t, t, 1L, ev.value))
          case Some(s) =>
            cur = Some(SessionState(s.start, math.max(s.last, t),
              s.nEvents + 1, s.total + ev.value))
          case None =>
            cur = Some(SessionState(t, t, 1L, ev.value))
        }
      }
      cur.foreach(state.update)
      closed.result().iterator
    }
  }

  /** Per-user funnel progress: step anchors as epoch-micros, unreached
    * steps at [[FunnelUnset]]. Anchors are set only as a contiguous
    * prefix, so the reached step count is the first-unset index. */
  case class FunnelState(anchors: Seq[Long])
  /** Emitted whenever a user ADVANCES: the new deepest step (1-based)
    * and the event time that anchored it. */
  case class FunnelUpdate(user_id: Long, step_reached: Int,
      anchor_ts: Timestamp)
  private val FunnelUnset = Long.MaxValue

  /** Relax step `anchors` at one instant `t` to fixpoint over the step
    * indexes seen at `t`: step i anchors at `t` when step i−1 is
    * anchored at or before it, so a same-instant chain lands whatever
    * its arrival order. */
  private def relaxAt(anchors: Array[Long], t: Long, stepsAtT: Iterable[Int]): Unit = {
    var changed = true
    while (changed) {
      changed = false
      stepsAtT.foreach { i =>
        val qualifies = i == 0 ||
          (anchors(i - 1) != FunnelUnset && t >= anchors(i - 1))
        if (qualifies && t < anchors(i)) {
          anchors(i) = t; changed = true
        }
      }
    }
  }

  /** Steps reached: anchors are set as a contiguous prefix, so the
    * first unset index. */
  private def depth(anchors: Seq[Long]): Int =
    anchors.indexWhere(_ == FunnelUnset) match {
      case -1 => anchors.length
      case i => i
    }

  /** Streaming conversion funnel — [[graft.operators.Funnel
    * .conversionFunnel]]'s semantics carried across micro-batches with
    * keyed custom state: per user, the minimal qualifying anchor
    * timestamp of each step (an event advances step i only at/after the
    * step-(i−1) anchor; ties count, handled by a fixpoint pass over
    * equal-timestamp events so arrival order within a timestamp cannot
    * change the result). Emits a [[FunnelUpdate]] whenever a user
    * reaches a deeper step.
    *
    * Exactness contract: equals the batch operator whenever each user's
    * events arrive in event-time order ACROSS batches (any disorder
    * WITHIN a batch is handled exactly — each batch's events are sorted
    * and relaxed to fixpoint). Under cross-batch disorder the result is
    * a LOWER BOUND: state stores only anchors, not unmatched
    * future-step events, so a conversion whose steps arrive reversed in
    * separate batches may be missed but never invented — the
    * right-side-error analogue of the Bloom screen's one-sided
    * contract. State is |steps| longs per user, deterministic replay,
    * no wall-clock timeouts. */
  def funnelStream(events: Dataset[Event], steps: Seq[String])
      (implicit spark: SparkSession): Dataset[FunnelUpdate] = {
    import spark.implicits._
    require(steps.nonEmpty, "steps must be non-empty")
    val stepIdx = steps.zipWithIndex.toMap
    val k = steps.length
    perUser[FunnelState, FunnelUpdate](events) { (userId, rows, state) =>
      val anchors = state.getOption.map(_.anchors.toArray)
        .getOrElse(Array.fill(k)(FunnelUnset))
      val before = depth(anchors.toSeq)
      val relevant = rows.filter(e => stepIdx.contains(e.event_type))
        .map(e => (micros(e.ts), stepIdx(e.event_type)))
        .toSeq.sorted
      relevant.groupBy(_._1).toSeq.sortBy(_._1).foreach {
        case (t, group) => relaxAt(anchors, t, group.map(_._2))
      }
      state.update(FunnelState(anchors.toSeq))
      val after = depth(anchors.toSeq)
      ((before + 1) to after).iterator.map(s =>
        FunnelUpdate(userId, s, toTs(anchors(s - 1))))
    }
  }

  /** Per-user retention state: the cohort day (epoch days, UTC — the
    * session's batch `to_date` zone) and a horizon-bounded bitmask of
    * already-emitted day offsets. */
  case class RetentionState(cohortDay: Long, seen: Seq[Long])
  /** One first-visit-of-day emission: the user's cohort date and the
    * integer day offset of the visit. */
  case class RetentionVisit(user_id: Long, cohort: java.sql.Date,
      offset_days: Int)

  /** Streaming retention — [[graft.operators.Funnel.retentionCohorts]]'s
    * semantics carried across micro-batches with BOUNDED keyed state:
    * per user, the cohort day plus a `horizonDays`-wide bitmask of
    * offsets already emitted (⌈horizon/64⌉ longs — retention reports
    * are horizon-bounded by nature, so the state is too; offsets past
    * the horizon are outside the report by declared scope). Emits one
    * [[RetentionVisit]] per (user, day) first occurrence; the
    * downstream (cohort, offset) count is a plain aggregation of the
    * emissions.
    *
    * Exactness contract (the [[funnelStream]] family's): equals the
    * batch triangle within the horizon whenever each user's FIRST batch
    * contains their true cohort day (any within-batch disorder is
    * handled exactly — days are sorted per batch). Under cross-batch
    * disorder the cohort stays anchored at the first OBSERVED day and a
    * genuinely earlier late visit emits a NEGATIVE offset — visible
    * evidence, never a silently wrong triangle. Deterministic replay,
    * no wall-clock timeouts. */
  def retentionStream(events: Dataset[Event], horizonDays: Int = 90)
      (implicit spark: SparkSession): Dataset[RetentionVisit] = {
    import spark.implicits._
    require(horizonDays > 0, "horizonDays must be positive")
    val words = (horizonDays + 63) / 64
    perUser[RetentionState, RetentionVisit](events) { (userId, rows, state) =>
      val days = rows.map(e => epochDay(e.ts)).toSeq.distinct.sorted
      val out = Seq.newBuilder[RetentionVisit]
      if (days.nonEmpty) {
        var st = state.getOption.getOrElse {
          RetentionState(days.head, Seq.fill(words)(0L))
        }
        val seen = st.seen.toArray
        days.foreach { d =>
          val off = d - st.cohortDay
          if (off < 0) {
            // late pre-cohort visit: visible negative offset,
            // cohort stays anchored (documented contract)
            out += RetentionVisit(userId, toDate(st.cohortDay), off.toInt)
          } else if (off < horizonDays) {
            val w = (off / 64).toInt
            val bit = 1L << (off % 64)
            if ((seen(w) & bit) == 0L) {
              seen(w) |= bit
              out += RetentionVisit(userId, toDate(st.cohortDay),
                off.toInt)
            }
          } // off >= horizon: outside the report's declared scope
        }
        state.update(RetentionState(st.cohortDay, seen.toSeq))
      }
      out.result().iterator
    }
  }

  /** Per-user rolling-actives state: the user's active days within
    * `windowDays` of their latest seen day (≤ windowDays epoch-day
    * longs — pruned every batch, so state is window-bounded by
    * construction, the [[RetentionState]] discipline). */
  case class ActiveDaysState(days: Seq[Long])
  /** One first-visit-of-day emission for the rolling-actives feed. */
  case class ActiveDay(user_id: Long, day: java.sql.Date)

  /** Streaming feed for exact rolling actives —
    * [[graft.operators.Funnel.rollingActives]]'s day-grain (day, user)
    * dedup carried across micro-batches with keyed bounded state
    * (round-11 verdict stretch): emits each (user, day) exactly ONCE;
    * the trailing-window distinct count per end day is then the batch
    * operator's bucketed range join over the emissions — the heavy
    * dedup runs incrementally, the window aggregation stays a plain
    * batch pass over day-grain rows (|users|·|days| at most, orders
    * below the event volume).
    *
    * Exactness contract (the family's one-sided form): emissions equal
    * the batch distinct (user, day) pairs whenever each user's days
    * arrive within `windowDays` of their latest already-seen day (any
    * within-batch disorder is handled exactly — days are sorted per
    * batch, duplicates dropped). A day arriving MORE than windowDays
    * behind the user's newest day is DROPPED — every trailing window
    * containing it ended in the past, and state that could dedup it is
    * pruned; missed, never invented (and never double-emitted).
    * Deterministic replay, no wall-clock timeouts. */
  def activeDayStream(events: Dataset[Event], windowDays: Int = 7)
      (implicit spark: SparkSession): Dataset[ActiveDay] = {
    import spark.implicits._
    require(windowDays > 0, "windowDays must be positive")
    perUser[ActiveDaysState, ActiveDay](events) { (userId, rows, state) =>
      val days = rows.map(e => epochDay(e.ts)).toSeq.distinct.sorted
      val out = Seq.newBuilder[ActiveDay]
      if (days.nonEmpty) {
        var seen = state.getOption.map(_.days.toSet)
          .getOrElse(Set.empty[Long])
        var maxDay =
          if (seen.isEmpty) Long.MinValue else seen.max
        days.foreach { d =>
          if (!seen.contains(d) &&
              (maxDay == Long.MinValue || d > maxDay - windowDays)) {
            seen += d
            if (d > maxDay) maxDay = d
            out += ActiveDay(userId, toDate(d))
          } // seen, or beyond the window behind maxDay: no emission
        }
        seen = seen.filter(_ > maxDay - windowDays)
        state.update(ActiveDaysState(seen.toSeq.sorted))
      }
      out.result().iterator
    }
  }

  /** Per-user session-funnel state: the open session's bounds, event
    * count, and step anchors (epoch-micros, [[FunnelUnset]] when
    * unreached) — |steps|+3 longs per active user. */
  case class SessionFunnelState(start: Long, last: Long, nEvents: Long,
      anchors: Seq[Long])
  /** One CLOSED session with its funnel depth: how many steps of the
    * chain completed inside the session (strictly ordered, ties count
    * — [[graft.operators.Funnel.conversionFunnel]]'s semantics scoped
    * to the session, i.e. q118's entity). */
  case class SessionFunnel(user_id: Long, start_ts: Timestamp,
      end_ts: Timestamp, n_events: Long, steps_completed: Int)

  /** Streaming SESSION-scoped funnel — the q118 composition
    * ([[sessionize]] gap semantics feeding [[graft.operators.Funnel
    * .conversionFunnel]]) as ONE keyed-state operator: per user, an
    * open session closes when a later event arrives more than `gapMs`
    * after the session's last event, and each closed session is
    * emitted with the number of funnel `steps` completed inside it
    * (t₁ = first step-1 event in the session; tᵢ = first step-i event
    * at/after tᵢ₋₁ — same-instant chains count, handled by a fixpoint
    * pass over equal-timestamp events so intra-timestamp arrival order
    * cannot change the result). The per-step session counts q118
    * reports are then a plain aggregation of the emissions:
    * n_sessions(step i) = |{sessions : steps_completed ≥ i}| among
    * sessions containing step 1.
    *
    * Exactness contract (the [[funnelStream]] family's): equals the
    * batch composition whenever each user's events arrive in
    * event-time order ACROSS batches (within-batch disorder is handled
    * exactly — each batch sorts by (ts, event_id) before folding).
    * Cross-batch disorder can split a session or under-count a chain —
    * missed, never invented. Sessions still open at end of input are
    * never emitted (Append-mode semantics): drive a terminal flush
    * event per user past the gap to close them, or read open state as
    * "in flight". State is one small struct per ACTIVE user,
    * deterministic replay, no wall-clock timeouts. */
  def sessionFunnelStream(
      events: Dataset[Event], gapMs: Long, steps: Seq[String])
      (implicit spark: SparkSession): Dataset[SessionFunnel] = {
    import spark.implicits._
    require(gapMs > 0, "gapMs must be positive")
    require(steps.nonEmpty, "steps must be non-empty")
    val stepIdx = steps.zipWithIndex.toMap
    val k = steps.length
    perUser[SessionFunnelState, SessionFunnel](events) { (userId, rows, state) =>
      val gapUs = gapMs * 1000L
      val evs = rows.toSeq
        .map(e => (micros(e.ts), e.event_id, e.event_type))
        .sorted
      val closed = Seq.newBuilder[SessionFunnel]
      var cur = state.getOption
      def close(s: SessionFunnelState): Unit =
        closed += SessionFunnel(userId, toTs(s.start), toTs(s.last),
          s.nEvents, depth(s.anchors))
      // fold runs of equal timestamps so a same-instant
      // view→click→purchase chain lands regardless of intra-ts order
      var i = 0
      while (i < evs.length) {
        var j = i
        while (j < evs.length && evs(j)._1 == evs(i)._1) j += 1
        val t = evs(i)._1
        cur.foreach { s => if (t - s.last > gapUs) { close(s); cur = None } }
        val s0 = cur.getOrElse(
          SessionFunnelState(t, t, 0L, Seq.fill(k)(FunnelUnset)))
        val anchors = s0.anchors.toArray
        relaxAt(anchors, t,
          evs.slice(i, j).iterator.flatMap(e => stepIdx.get(e._3)).toSet)
        cur = Some(SessionFunnelState(s0.start, t,
          s0.nEvents + (j - i), anchors.toSeq))
        i = j
      }
      cur.foreach(state.update)
      closed.result().iterator
    }
  }

  /** Streaming deduplication: drop repeated `idCols` across micro-batches,
    * keeping state only within the watermark horizon (bounded state — the
    * streaming form of exact dedup; duplicates arriving later than the
    * watermark are passed through, the standard correctness/state
    * trade-off). True id-based dedup: duplicates may carry DIFFERENT event
    * timestamps and are still dropped, as long as they arrive within the
    * watermark delay of the first occurrence
    * (`dropDuplicatesWithinWatermark`, Spark 3.5+). */
  def dedupStream(events: DataFrame, watermark: String, idCols: Seq[String]): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(idCols)

  /** Stream-stream interval join: each click joins the SAME user's view
    * events from the preceding `joinWindow` (event time). Both sides are
    * watermarked and the join condition carries explicit time bounds, so
    * Spark derives a state-retention horizon per side and ages buffered
    * rows out — bounded state, the requirement for an unbounded run.
    * Output: one row per (click, qualifying view). */
  def clicksWithRecentViews(
      events: DataFrame, watermark: String, joinWindow: String): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"), col("value").as("click_value"))
      .withWatermark("click_ts", watermark)
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("view_user_id"), col("ts").as("view_ts"),
        col("value").as("view_value"))
      .withWatermark("view_ts", watermark)
    clicks.join(views,
      col("user_id") === col("view_user_id") &&
        col("view_ts") <= col("click_ts") &&
        col("view_ts") >= col("click_ts") - expr(s"INTERVAL $joinWindow"))
      .select(col("click_id"), col("user_id"), col("click_ts"),
        col("click_value"), col("view_ts"), col("view_value"))
  }

  /** File-source stream of event parquet with the tumbling aggregation to
    * a memory sink (complete mode; used by tests and as the dashboard
    * upgrade path). */
  def startWindowed(
      spark: SparkSession, inputDir: String, schema: StructType,
      queryName: String, windowLength: String = "1 hour",
      watermark: String = "2 hours"): StreamingQuery =
    windowedCounts(
        spark.readStream.schema(schema).parquet(inputDir),
        windowLength, watermark)
      .writeStream.outputMode("complete")
      .format("memory").queryName(queryName)
      .trigger(Trigger.ProcessingTime(0))
      .start()
}
