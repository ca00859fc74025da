package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.SparkSpec

class EventStreamSpec extends SparkSpec {
  import spark.implicits._
  import EventStream._

  private def mkEvents = Seq(
    Event(1, Timestamp.valueOf("2024-01-01 00:10:00"), 1, "click", 1.0),
    Event(2, Timestamp.valueOf("2024-01-01 00:50:00"), 1, "click", 2.0),
    Event(3, Timestamp.valueOf("2024-01-01 01:10:00"), 2, "view", 4.0),
    Event(4, Timestamp.valueOf("2024-01-01 01:20:00"), 1, "click", 8.0))

  test("tumbling windowed aggregation equals batch windows (streaming)") {
    val dir = tempDir("evstream") + "/data"
    mkEvents.toDF().write.parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val q = EventStream.startWindowed(spark, dir, schema, "ev_windows")
    try {
      q.processAllAvailable()
      val got = spark.table("ev_windows")
        .select(col("window.start").cast("string"), col("event_type"),
          col("n"), col("sum_value"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(got == Set(
        ("2024-01-01 00:00:00", "click", 2L, 3.0),
        ("2024-01-01 01:00:00", "click", 1L, 8.0),
        ("2024-01-01 01:00:00", "view", 1L, 4.0)))
    } finally q.stop()
  }

  test("sliding windows count events in overlapping windows") {
    val dir = tempDir("evslide") + "/data"
    mkEvents.toDF().write.parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val q = EventStream.slidingCounts(
        spark.readStream.schema(schema).parquet(dir),
        "1 hour", "30 minutes", "2 hours")
      .writeStream.outputMode("complete").format("memory")
      .queryName("ev_sliding").trigger(Trigger.ProcessingTime(0)).start()
    try {
      q.processAllAvailable()
      // event at 00:10 belongs to windows starting 23:30 and 00:00
      val starts = spark.table("ev_sliding")
        .filter(col("event_type") === "click")
        .select(col("window.start").cast("string")).collect()
        .map(_.getString(0)).toSet
      assert(starts.contains("2024-01-01 00:00:00"))
      assert(starts.contains("2023-12-31 23:30:00"))
    } finally q.stop()
  }

  test("streaming dedup drops repeats across micro-batches") {
    implicit val s = spark
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event](spark)
    val q = EventStream.dedupStream(input.toDF(), "1 hour", Seq("event_id"))
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ev_dedup")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(mkEvents: _*)
      q.processAllAvailable()
      input.addData(mkEvents.head, mkEvents(1)) // exact repeats, next batch
      // id-based dedup: same event_id with a DIFFERENT ts is still a dup
      input.addData(mkEvents(2).copy(ts = Timestamp.valueOf("2024-01-01 01:12:00")))
      q.processAllAvailable()
      assert(spark.table("ev_dedup").count() == mkEvents.length)
    } finally q.stop()
  }

  test("stream-stream interval join pairs clicks with recent same-user views") {
    implicit val s = spark
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event](spark)
    val q = EventStream.clicksWithRecentViews(input.toDF(), "2 hours", "30 minutes")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ev_ssjoin")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(
        Event(10, Timestamp.valueOf("2024-01-01 01:00:00"), 1, "view", 1.0),  // 10 min before: in window
        Event(11, Timestamp.valueOf("2024-01-01 00:20:00"), 1, "view", 2.0),  // 50 min before: outside
        Event(12, Timestamp.valueOf("2024-01-01 01:20:00"), 2, "view", 3.0),  // other user
        Event(13, Timestamp.valueOf("2024-01-01 01:10:00"), 1, "click", 4.0))
      q.processAllAvailable()
      val got = spark.table("ev_ssjoin")
        .select("click_id", "view_value").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(got == Set((13L, 1.0)), s"got $got")
    } finally q.stop()
  }

  test("streaming funnel equals the batch operator under ordered delivery") {
    implicit val s = spark
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event](spark)
    val updates = EventStream.funnelStream(input.toDS(),
      Seq("view", "click", "purchase"))
    val q = updates.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ev_funnel")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 1: u1 views+clicks; u2 clicks only (no view yet)
      input.addData(
        Event(1, Timestamp.valueOf("2024-01-01 10:00:00"), 1, "view", 0),
        Event(2, Timestamp.valueOf("2024-01-01 11:00:00"), 1, "click", 0),
        Event(3, Timestamp.valueOf("2024-01-01 10:30:00"), 2, "click", 0))
      q.processAllAvailable()
      // batch 2: u1 purchases; u2 views then clicks (within-batch order
      // scrambled on purpose — the per-batch sort must fix it)
      input.addData(
        Event(4, Timestamp.valueOf("2024-01-01 12:00:00"), 1, "purchase", 0),
        Event(5, Timestamp.valueOf("2024-01-01 14:00:00"), 2, "click", 0),
        Event(6, Timestamp.valueOf("2024-01-01 13:00:00"), 2, "view", 0))
      q.processAllAvailable()
      val got = spark.table("ev_funnel").as[FunnelUpdate].collect()
      val deepest = got.groupBy(_.user_id)
        .map { case (u, ups) => u -> ups.map(_.step_reached).max }
      assert(deepest == Map(1L -> 3, 2L -> 2))
      // batch equivalence on the union of all delivered events
      val allEvents = Seq(
        (1L, Timestamp.valueOf("2024-01-01 10:00:00"), "view"),
        (1L, Timestamp.valueOf("2024-01-01 11:00:00"), "click"),
        (2L, Timestamp.valueOf("2024-01-01 10:30:00"), "click"),
        (1L, Timestamp.valueOf("2024-01-01 12:00:00"), "purchase"),
        (2L, Timestamp.valueOf("2024-01-01 14:00:00"), "click"),
        (2L, Timestamp.valueOf("2024-01-01 13:00:00"), "view"),
      ).toDF("user_id", "ts", "event_type")
      val batch = graft.operators.Funnel.conversionFunnel(allEvents,
          col("user_id"), col("ts"), col("event_type"),
          Seq("view", "click", "purchase"))
        .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
      val streamCounts = (1 to 3).map(step =>
        step -> deepest.values.count(_ >= step).toLong).toMap
      assert(streamCounts == batch,
        s"stream $streamCounts vs batch $batch")
      // u2's anchor for step 1 is the 13:00 view, not the stale clicks
      val u2Step1 = got.filter(u => u.user_id == 2L && u.step_reached == 1)
      assert(u2Step1.map(_.anchor_ts).toSeq ==
        Seq(Timestamp.valueOf("2024-01-01 13:00:00")))
    } finally q.stop()
  }

  test("streaming funnel: same-instant step pair lands regardless of order; cross-batch disorder never invents") {
    implicit val s = spark
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event](spark)
    val updates = EventStream.funnelStream(input.toDS(), Seq("view", "click"))
    val q = updates.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ev_funnel2")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      // u1: click listed BEFORE its same-instant view — the equal-ts
      // fixpoint must still advance both steps
      input.addData(
        Event(1, Timestamp.valueOf("2024-01-01 10:00:00"), 1, "click", 0),
        Event(2, Timestamp.valueOf("2024-01-01 10:00:00"), 1, "view", 0))
      q.processAllAvailable()
      // u2: click in batch N, its view only in batch N+1 at an EARLIER
      // ts — documented lower-bound: the stale click is not revisited
      input.addData(
        Event(3, Timestamp.valueOf("2024-01-01 10:00:00"), 2, "click", 0))
      q.processAllAvailable()
      input.addData(
        Event(4, Timestamp.valueOf("2024-01-01 09:00:00"), 2, "view", 0))
      q.processAllAvailable()
      val got = spark.table("ev_funnel2").as[FunnelUpdate].collect()
      val deepest = got.groupBy(_.user_id)
        .map { case (u, ups) => u -> ups.map(_.step_reached).max }
      assert(deepest == Map(1L -> 2, 2L -> 1))
    } finally q.stop()
  }

  test("streaming retention equals the batch triangle; state stays horizon-bounded") {
    implicit val s = spark
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event](spark)
    val visits = EventStream.retentionStream(input.toDS(), horizonDays = 64)
    val q = visits.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ev_retention")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 1: u1 active Jan 1 (twice — same-day dedup) ; u2 Jan 1
      input.addData(
        Event(1, Timestamp.valueOf("2024-01-01 10:00:00"), 1, "view", 0),
        Event(2, Timestamp.valueOf("2024-01-01 15:00:00"), 1, "click", 0),
        Event(3, Timestamp.valueOf("2024-01-01 11:00:00"), 2, "view", 0))
      q.processAllAvailable()
      // batch 2: u1 returns Jan 2 (and repeats Jan 1 — already emitted);
      // u2 returns Jan 3; u3 starts Jan 2
      input.addData(
        Event(4, Timestamp.valueOf("2024-01-02 09:00:00"), 1, "view", 0),
        Event(5, Timestamp.valueOf("2024-01-01 23:00:00"), 1, "view", 0),
        Event(6, Timestamp.valueOf("2024-01-03 09:00:00"), 2, "view", 0),
        Event(7, Timestamp.valueOf("2024-01-02 08:00:00"), 3, "view", 0))
      q.processAllAvailable()
      val got = spark.table("ev_retention").as[RetentionVisit].collect()
      val triangle = got.groupBy(v => (v.cohort.toString, v.offset_days))
        .map { case (k, vs) => k -> vs.map(_.user_id).distinct.length }
      assert(triangle == Map(
        ("2024-01-01", 0) -> 2,   // u1, u2
        ("2024-01-01", 1) -> 1,   // u1 on Jan 2
        ("2024-01-01", 2) -> 1,   // u2 on Jan 3
        ("2024-01-02", 0) -> 1))  // u3
      // batch equivalence via the batch operator on the union
      val allEv = Seq(
        (1L, Timestamp.valueOf("2024-01-01 10:00:00")),
        (1L, Timestamp.valueOf("2024-01-01 15:00:00")),
        (2L, Timestamp.valueOf("2024-01-01 11:00:00")),
        (1L, Timestamp.valueOf("2024-01-02 09:00:00")),
        (1L, Timestamp.valueOf("2024-01-01 23:00:00")),
        (2L, Timestamp.valueOf("2024-01-03 09:00:00")),
        (3L, Timestamp.valueOf("2024-01-02 08:00:00")),
      ).toDF("user_id", "ts")
      val batch = graft.operators.Funnel.retentionCohorts(allEv,
          col("user_id"), col("ts"))
        .collect().map(r => ((r.getDate(0).toString, r.getInt(1)),
          r.getLong(2).toInt)).toMap
      assert(triangle == batch, s"stream $triangle vs batch $batch")
    } finally q.stop()
  }

  test("streaming retention: late pre-cohort visit emits a negative offset, never re-anchors") {
    implicit val s = spark
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event](spark)
    val visits = EventStream.retentionStream(input.toDS(), horizonDays = 30)
    val q = visits.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ev_retention2")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(Event(1, Timestamp.valueOf("2024-01-05 10:00:00"), 1, "view", 0))
      q.processAllAvailable()
      input.addData(Event(2, Timestamp.valueOf("2024-01-03 10:00:00"), 1, "view", 0))
      q.processAllAvailable()
      val got = spark.table("ev_retention2").as[RetentionVisit].collect()
        .map(v => (v.cohort.toString, v.offset_days)).toSet
      assert(got == Set(("2024-01-05", 0), ("2024-01-05", -2)))
    } finally q.stop()
  }

  test("sessionization closes a session when the event-time gap is exceeded") {
    implicit val s = spark
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event](spark)
    // gap = 45 min: user 1's events at 00:10/00:50/01:20 (gaps 40/30 min)
    // form one session, closed by a much later event at 05:00.
    val sessions = EventStream.sessionize(input.toDS(), gapMs = 45 * 60 * 1000L)
    val q = sessions.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ev_sessions")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(mkEvents.filter(_.user_id == 1): _*)
      q.processAllAvailable()
      input.addData(Event(99, Timestamp.valueOf("2024-01-01 05:00:00"), 1, "click", 0.5))
      q.processAllAvailable()
      val got = spark.table("ev_sessions").as[UserSession].collect()
      assert(got.length == 1, s"sessions: ${got.mkString(",")}")
      val sess = got.head
      assert(sess.user_id == 1 && sess.n_events == 3 && sess.total_value == 11.0)
      assert(sess.startTs == Timestamp.valueOf("2024-01-01 00:10:00"))
      assert(sess.endTs == Timestamp.valueOf("2024-01-01 01:20:00"))
    } finally q.stop()
  }

  test("sub-millisecond gaps: sessionize compares milliseconds, " +
    "sessionFunnelStream microseconds") {
    implicit val s = spark
    def ts(x: String) = Timestamp.valueOf(x)
    val gapMs = 1000L
    // Every gap is within 1 ms of gapMs. u1: 1000.5 ms, whole-ms
    // difference 1000 (not over the gap) but 1000500 µs (over it).
    // u2: 1000.2 ms crossing a millisecond edge, over the gap in both
    // grains. u3: 999.5 ms, inside the gap in both grains.
    val events = Seq(
      Event(1, ts("2024-01-01 00:00:00"), 1, "view", 1.0),
      Event(2, ts("2024-01-01 00:00:01.0005"), 1, "click", 2.0),
      Event(3, ts("2024-01-01 00:00:00.0009"), 2, "view", 4.0),
      Event(4, ts("2024-01-01 00:00:01.0011"), 2, "click", 8.0),
      Event(5, ts("2024-01-01 00:00:00.0009"), 3, "view", 16.0),
      Event(6, ts("2024-01-01 00:00:01.0004"), 3, "click", 32.0))
    // One far-later event per user closes every open session.
    val flush = Seq(1L, 2L, 3L).map(u =>
      Event(100 + u, ts("2024-01-01 01:00:00"), u, "noop", 0.0))
    val in1 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event](spark)
    val q1 = EventStream.sessionize(in1.toDS(), gapMs)
      .writeStream.outputMode(OutputMode.Append).format("memory")
      .queryName("ev_submilli_sessions").trigger(Trigger.ProcessingTime(0)).start()
    val in2 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event](spark)
    val q2 = EventStream.sessionFunnelStream(in2.toDS(), gapMs, Seq("view", "click"))
      .writeStream.outputMode(OutputMode.Append).format("memory")
      .queryName("ev_submilli_funnel").trigger(Trigger.ProcessingTime(0)).start()
    try {
      Seq(events, flush).foreach { b =>
        in1.addData(b); in2.addData(b)
        q1.processAllAvailable(); q2.processAllAvailable()
      }
      // sessionize: whole milliseconds in and out — u1 stays one session
      // and its end is the millisecond-truncated last event.
      val sessions = spark.table("ev_submilli_sessions").as[UserSession].collect()
        .map(u => (u.user_id, u.startTs.toString, u.endTs.toString, u.n_events))
        .sorted.toSeq
      assert(sessions == Seq(
        (1L, "2024-01-01 00:00:00.0", "2024-01-01 00:00:01.0", 2L),
        (2L, "2024-01-01 00:00:00.0", "2024-01-01 00:00:00.0", 1L),
        (2L, "2024-01-01 00:00:01.001", "2024-01-01 00:00:01.001", 1L),
        (3L, "2024-01-01 00:00:00.0", "2024-01-01 00:00:01.0", 2L)),
        sessions.mkString("\n"))
      // sessionFunnelStream: microseconds in and out — u1's click opens a
      // new session, so its view session completes one step only.
      val funnels = spark.table("ev_submilli_funnel").as[SessionFunnel].collect()
        .map(f => (f.user_id, f.start_ts.toString, f.end_ts.toString,
          f.n_events, f.steps_completed))
        .sorted.toSeq
      assert(funnels == Seq(
        (1L, "2024-01-01 00:00:00.0", "2024-01-01 00:00:00.0", 1L, 1),
        (1L, "2024-01-01 00:00:01.0005", "2024-01-01 00:00:01.0005", 1L, 0),
        (2L, "2024-01-01 00:00:00.0009", "2024-01-01 00:00:00.0009", 1L, 1),
        (2L, "2024-01-01 00:00:01.0011", "2024-01-01 00:00:01.0011", 1L, 0),
        (3L, "2024-01-01 00:00:00.0009", "2024-01-01 00:00:01.0004", 2L, 2)),
        funnels.mkString("\n"))
    } finally { q1.stop(); q2.stop() }
  }

  test("streaming active-day feed reproduces the batch rolling actives") {
    implicit val s = spark
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event](spark)
    val feed = EventStream.activeDayStream(input.toDS(), windowDays = 3)
    val q = feed.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ev_actives")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 1: u1 Jan 1 twice (same-day dedup), u2 Jan 1
      input.addData(
        Event(1, Timestamp.valueOf("2024-01-01 10:00:00"), 1, "view", 0),
        Event(2, Timestamp.valueOf("2024-01-01 15:00:00"), 1, "click", 0),
        Event(3, Timestamp.valueOf("2024-01-01 11:00:00"), 2, "view", 0))
      q.processAllAvailable()
      // batch 2: u1 Jan 3 + a cross-batch repeat of Jan 1 (in-window:
      // deduped, not re-emitted); u2 Jan 4
      input.addData(
        Event(4, Timestamp.valueOf("2024-01-03 09:00:00"), 1, "view", 0),
        Event(5, Timestamp.valueOf("2024-01-01 23:00:00"), 1, "view", 0),
        Event(6, Timestamp.valueOf("2024-01-04 09:00:00"), 2, "view", 0))
      q.processAllAvailable()
      val got = spark.table("ev_actives").as[ActiveDay].collect()
        .map(a => (a.user_id, a.day.toString))
      assert(got.length == got.distinct.length, "a (user, day) re-emitted")
      assert(got.toSet == Set(
        (1L, "2024-01-01"), (2L, "2024-01-01"),
        (1L, "2024-01-03"), (2L, "2024-01-04")))
      // The trailing-window count over the EMISSIONS equals the batch
      // operator on the raw events — the emissions are its exact input.
      val allEv = Seq(
        (1L, Timestamp.valueOf("2024-01-01 10:00:00")),
        (1L, Timestamp.valueOf("2024-01-01 15:00:00")),
        (2L, Timestamp.valueOf("2024-01-01 11:00:00")),
        (1L, Timestamp.valueOf("2024-01-03 09:00:00")),
        (1L, Timestamp.valueOf("2024-01-01 23:00:00")),
        (2L, Timestamp.valueOf("2024-01-04 09:00:00")),
      ).toDF("user_id", "ts")
      val batch = graft.operators.Funnel.rollingActives(allEv,
          col("user_id"), col("ts"), windowDays = 3)
        .collect().map(r => (r.getDate(0).toString, r.getLong(1))).toMap
      val fromFeed = spark.table("ev_actives")
        .select(col("user_id"), col("day").cast("timestamp").as("ts"))
      val streamed = graft.operators.Funnel.rollingActives(fromFeed,
          col("user_id"), col("ts"), windowDays = 3)
        .collect().map(r => (r.getDate(0).toString, r.getLong(1))).toMap
      assert(streamed == batch, s"stream $streamed vs batch $batch")
    } finally q.stop()
  }

  test("streaming active-day feed drops beyond-window late days, one-sided") {
    implicit val s = spark
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event](spark)
    val feed = EventStream.activeDayStream(input.toDS(), windowDays = 3)
    val q = feed.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ev_actives2")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(Event(1, Timestamp.valueOf("2024-01-10 10:00:00"), 1, "view", 0))
      q.processAllAvailable()
      // Jan 5 is 5 days behind the user's newest day (window 3): every
      // trailing window containing it has already ended — dropped, and
      // dedup state for it no longer exists, so dropping also prevents
      // any double-emission. Jan 8 (2 behind) is in-window: emitted.
      input.addData(
        Event(2, Timestamp.valueOf("2024-01-05 10:00:00"), 1, "view", 0),
        Event(3, Timestamp.valueOf("2024-01-08 10:00:00"), 1, "view", 0))
      q.processAllAvailable()
      val got = spark.table("ev_actives2").as[ActiveDay].collect()
        .map(_.day.toString).toSet
      assert(got == Set("2024-01-10", "2024-01-08"))
    } finally q.stop()
  }

  test("sessionFunnelStream: closed sessions equal the batch q118 " +
    "composition on a drained ordered shard sequence") {
    implicit val s = spark
    def ts(x: String) = Timestamp.valueOf(x)
    val gapMs = 30L * 60L * 1000L
    // Shard 1: u1 completes the chain inside one session (purchase
    // SAME-INSTANT as the click, listed before it — the fixpoint must
    // land it); u2 clicks before viewing (no chain); u3 views once.
    val shard1 = Seq(
      Event(3, ts("2024-01-01 00:10:00"), 1, "purchase", 0),
      Event(1, ts("2024-01-01 00:00:00"), 1, "view", 0),
      Event(2, ts("2024-01-01 00:10:00"), 1, "click", 0),
      Event(5, ts("2024-01-01 00:25:00"), 2, "view", 0),
      Event(4, ts("2024-01-01 00:20:00"), 2, "click", 0),
      Event(6, ts("2024-01-01 00:05:00"), 3, "view", 0))
    // Shard 2: every event exceeds its user's gap — closes the first
    // sessions and opens second ones.
    val shard2 = Seq(
      Event(7, ts("2024-01-01 02:00:00"), 1, "view", 0),
      Event(8, ts("2024-01-01 02:05:00"), 1, "other", 0),
      Event(9, ts("2024-01-01 01:30:00"), 2, "purchase", 0),
      Event(10, ts("2024-01-01 01:00:00"), 3, "click", 0))
    // Terminal flush: one far-future non-step event per user closes
    // the in-flight sessions (the operator's documented drain).
    val flush = Seq(1L, 2L, 3L).map(u =>
      Event(100 + u, ts("2024-01-02 00:00:00"), u, "noop", 0))
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event](spark)
    val q = EventStream.sessionFunnelStream(input.toDS(), gapMs,
        Seq("view", "click", "purchase"))
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ev_sess_funnel")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      Seq(shard1, shard2, flush).foreach { b =>
        input.addData(b); q.processAllAvailable()
      }
      val got = spark.table("ev_sess_funnel").as[SessionFunnel].collect()
      // Hand-computed: 6 closed sessions (flush singletons stay open).
      assert(got.length == 6, got.mkString(","))
      val byKey = got.map(sf =>
        (sf.user_id, sf.start_ts.toString) -> (sf.n_events, sf.steps_completed))
        .toMap
      assert(byKey((1L, "2024-01-01 00:00:00.0")) == ((3L, 3)),
        "same-instant click+purchase must chain")
      assert(byKey((1L, "2024-01-01 02:00:00.0")) == ((2L, 1)))
      assert(byKey((2L, "2024-01-01 00:20:00.0")) == ((2L, 1)),
        "click before view anchors only step 1")
      assert(byKey((2L, "2024-01-01 01:30:00.0")) == ((1L, 0)))
      assert(byKey((3L, "2024-01-01 00:05:00.0")) == ((1L, 1)))
      assert(byKey((3L, "2024-01-01 01:00:00.0")) == ((1L, 0)))
      // Batch equivalence: q118's composition (sessionize →
      // conversionFunnel on the session key) over the SAME drained
      // input must report the same per-step session counts as the
      // stream's closed-session depths.
      val all = (shard1 ++ shard2 ++ flush).toDF()
      val tagged = graft.operators.Funnel.sessionize(all, col("user_id"),
          col("ts"), gapMicros = gapMs * 1000L, seqCol = "__seq")
        .withColumn("__skey", concat_ws("#", col("user_id"), col("__seq")))
      val batch = graft.operators.Funnel.conversionFunnel(tagged,
          col("__skey"), col("ts"), col("event_type"),
          Seq("view", "click", "purchase"))
        .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
      val streamCounts = (1 to 3).map(i =>
        i -> got.count(_.steps_completed >= i).toLong).toMap
      assert(streamCounts == batch,
        s"stream $streamCounts vs batch $batch")
    } finally q.stop()
  }
}
