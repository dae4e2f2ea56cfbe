package graft

import graft.streaming.Streams
import graft.streaming.Streams.{Event, SessionOut}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Structured Streaming specs driven by MemoryStream: watermarked
  * tumbling windows finalize and drop late data; stateful
  * sessionization emits on gap.
  */
class StreamingSpec extends SparkSpec {

  import spark.implicits._

  /** offset from epoch: a row with ts == 0 == the initial watermark is
    * dropped as late, so test times live one hour in. */
  private val Base = 60L
  private def ts(minutes: Long) = new java.sql.Timestamp((Base + minutes) * 60000L)
  private def ms(minutes: Long) = (Base + minutes) * 60000L

  test("watermarked tumbling window finalizes closed windows (append mode)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = Streams.tumblingCounts(input.toDF())
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode(OutputMode.Append).start()
    try {
      // hour-0 events, then an event far enough (hour 3) to advance the
      // watermark past hour 0 + 10 min, finalizing the first window.
      input.addData(
        Event(1, ts(5), 1, "click", 1.0),
        Event(2, ts(20), 1, "click", 2.0),
        Event(3, ts(40), 2, "view", 3.0))
      query.processAllAvailable()
      input.addData(Event(4, ts(200), 1, "click", 4.0))
      query.processAllAvailable()
      input.addData(Event(5, ts(400), 1, "click", 5.0))
      query.processAllAvailable()
      val rows = spark.table("tumbling_out")
        .select("ws_ms", "event_type", "n", "sum_value_cents")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(rows.contains((ms(0), "click", 2L, 300L))) // first-hour clicks: 1.00+2.00
      assert(rows.contains((ms(0), "view", 1L, 300L)))
    } finally query.stop()
  }

  test("late data beyond the watermark is dropped") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = Streams.tumblingCounts(input.toDF())
      .writeStream.format("memory").queryName("late_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(Event(1, ts(5), 1, "click", 1.0))
      query.processAllAvailable()
      // advance watermark far past the first hour …
      input.addData(Event(2, ts(600), 1, "click", 1.0))
      query.processAllAvailable()
      // … then send an event for the (closed) first hour: must be dropped
      input.addData(Event(3, ts(6), 1, "click", 99.0))
      query.processAllAvailable()
      input.addData(Event(4, ts(1200), 1, "click", 1.0))
      query.processAllAvailable()
      val firstHour = spark.table("late_out")
        .filter(s"ws_ms = ${ms(0)}")
        .collect()
      assert(firstHour.length == 1)
      assert(firstHour.head.getAs[Long]("n") == 1L) // the late event is absent
    } finally query.stop()
  }

  test("stream-static join enriches events with the dimension per batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim   = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val input = MemoryStream[Event]
    val query = Streams.enrich(input.toDF(), dim)
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(Event(1, ts(0), 1, "click", 1.0), Event(2, ts(1), 3, "view", 2.0))
      query.processAllAvailable()
      val rows = spark.table("enrich_out").select("event_id", "tier")
        .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
      assert(rows == Set((1L, Some("gold")), (2L, None))) // left join keeps unmatched
    } finally query.stop()
  }

  test("sessionization absorbs late-but-in-watermark events without splitting") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = Streams.sessionize(spark, input.toDS())
      .writeStream.format("memory").queryName("late_session_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(Event(1, ts(40), 1, "click", 1.0))
      query.processAllAvailable()
      // 8 min out of order, ahead of the watermark → must merge, and must
      // NOT regress the session's last-seen time
      input.addData(Event(2, ts(32), 1, "click", 1.0))
      query.processAllAvailable()
      // 23 min after the true latest event (40) → still the same session
      input.addData(Event(3, ts(63), 1, "click", 1.0))
      query.processAllAvailable()
      input.addData(Event(4, ts(120), 1, "click", 1.0)) // gap → emit
      query.processAllAvailable()
      val sessions = spark.table("late_session_out").as[SessionOut].collect()
      assert(sessions.length == 1)
      val s = sessions.head
      assert(s.start_ms == ms(32)) // envelope extends down to the late event
      assert(s.end_ms == ms(63) + 30 * 60000L)
      assert(s.n_events == 3L)
    } finally query.stop()
  }

  test("stream-stream interval join attributes purchases to recent clicks") {
    implicit val sqlCtx = spark.sqlContext
    val clicks    = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val query = Streams.purchaseAttribution(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("attr_out")
      .outputMode(OutputMode.Append).start()
    try {
      clicks.addData(
        Event(10, ts(0), 1, "click", 0),   // 20 min before → outside window
        Event(11, ts(10), 1, "click", 0),  // 10 min before → attributed
        Event(12, ts(5), 2, "click", 0))   // other user
      purchases.addData(Event(20, ts(20), 1, "purchase", 9.99))
      query.processAllAvailable()
      val rows = spark.table("attr_out")
        .select("purchase_id", "click_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows == Set((20L, 11L))) // only the in-window same-user click
    } finally query.stop()
  }

  test("left-outer stream join emits matches eagerly and nulls only after the watermark closes the window") {
    implicit val sqlCtx = spark.sqlContext
    val clicks    = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val query = Streams.clickConversion(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("conv_out")
      .outputMode(OutputMode.Append).start()
    try {
      clicks.addData(
        Event(10, ts(0), 1, "click", 0),  // converts (purchase 5 min later)
        Event(11, ts(1), 2, "click", 0))  // never converts
      purchases.addData(Event(20, ts(5), 1, "purchase", 9.99))
      query.processAllAvailable()
      val matched = spark.table("conv_out")
        .collect().map(r => (r.getLong(1), Option(r.get(3)))).toSet
      // the match emits eagerly; click 11's window is still open → no null row yet
      assert(matched == Set((10L, Some(20L))))
      // advance both watermarks far past click 11's window end (1 + 15 min)
      clicks.addData(Event(12, ts(60), 3, "click", 0))
      purchases.addData(Event(21, ts(60), 3, "purchase", 0))
      query.processAllAvailable()
      val after = spark.table("conv_out")
        .collect().map(r => (r.getLong(1), Option(r.get(3)))).toSet
      assert(after.contains((11L, None)), "unconverted click never got its null row")
      assert(!after.contains((10L, None)), "a matched click must not also emit a null row")
    } finally query.stop()
  }

  test("streaming dedup drops duplicate event_ids within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = Streams.dedupStream(input.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(Event(1, ts(0), 1, "click", 1.0), Event(2, ts(1), 1, "click", 2.0))
      query.processAllAvailable()
      input.addData(Event(1, ts(2), 1, "click", 1.0)) // duplicate id
      query.processAllAvailable()
      val ids = spark.table("dedup_out").select("event_id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids.sorted == Seq(1L, 2L)) // the duplicate did not re-emit
    } finally query.stop()
  }

  test("bounded engine interval join equals the batch BETWEEN self-join") {
    import org.apache.spark.sql.functions._
    val got = Streams.runBoundedIntervalJoin(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val ev = graft.tables.Tables.events(spark, sfDir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("pts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("event_id").as("click_id"), col("ts").as("cts"))
    val want = p.join(c, p("user_id") === c("cu") &&
        c("cts") <= p("pts") && c("cts") >= p("pts") - expr("INTERVAL 15 minutes"))
      .select(p("user_id"), col("purchase_id"), col("click_id"),
        unix_millis(col("pts")), unix_millis(col("cts")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(want.nonEmpty, "fixture produced no purchase←click attributions")
    assert(got == want)
  }

  test("bounded engine sessionize equals the watermark-filtered batch sessions") {
    import org.apache.spark.sql.functions._
    val got = Streams.runBoundedSessionize(spark, sfDir)
      .select("user_id", "start_ms", "end_ms", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val events = graft.tables.Tables.events(spark, sfDir)
    val finalWm = events.agg(max(unix_millis(col("ts")))).head().getLong(0) - 600000L
    // batch truth: the native session_window aggregation (same end =
    // last + gap contract), restricted to the emittable set
    val want = Streams.sessionWindowAgg(events)
      .filter(col("end_ms") < finalWm)
      .select("user_id", "start_ms", "end_ms", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(want.nonEmpty, "fixture produced no closed sessions")
    assert(got == want)
  }

  test("bounded engine sessionize fixture never ends a session behind the watermark") {
    // The engine clamps a session's timeout to watermark+1; a session
    // whose end is ALREADY behind the watermark when last updated is
    // emitted inline instead (Streams.sessionize wm > end branch). The
    // whole fixture arrives in one batch at watermark 0, so that branch
    // must stay unreachable — pin the invariant so a fixture regen that
    // would flip it (an in-batch update to a session already closed by
    // the advancing watermark) fails loudly HERE, not as a silent
    // driver-gate drift.
    import org.apache.spark.sql.functions._
    val events = graft.tables.Tables.events(spark, sfDir)
    // watermark during the single data batch is the INITIAL watermark, 0
    // (it only advances between batches) — so no session update can run
    // behind it; assert the premise the argument rests on:
    val minMs = events.agg(min(unix_millis(col("ts")))).head().getLong(0)
    assert(minMs > 0L, "fixture events must sit above the epoch/initial watermark")
    // and the emission-set boundary can't tie: no batch session's end
    // equals the final watermark exactly (keeps < vs <= unobservable)
    val finalWm = events.agg(max(unix_millis(col("ts")))).head().getLong(0) - 600000L
    val ties = Streams.sessionWindowAgg(events)
      .filter(col("end_ms") === finalWm).count()
    assert(ties == 0L, "fixture session end ties the final watermark")
  }

  test("checkpoint restart resumes the query instead of reprocessing") {
    import org.apache.spark.sql.functions._
    val (res, b1, b2) = Streams.restartTumblingDetailed(spark, sfDir)
    assert(b1.nonEmpty && b2.nonEmpty, "both stages must run micro-batches")
    assert(b2.min > b1.max,
      s"restart must continue the batch sequence, got stage1=$b1 stage2=$b2")
    val rows = res.select("ws_ms", "event_type", "n", "sum_value_cents")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // exactly-once: no window/key pair emitted twice across the restart
    assert(rows.map(r => (r._1, r._2)).distinct.length == rows.length,
      "a window re-emitted across the restart")
    // equals the batch aggregation restricted to watermark-closed windows
    val events = graft.tables.Tables.events(spark, sfDir)
    val finalWm = events.agg(max(unix_millis(col("ts")))).head().getLong(0) - 600000L
    val want = Streams.tumblingAgg(events)
      .filter(col("ws_ms") + 3600000L <= finalWm)
      .select("ws_ms", "event_type", "n", "sum_value_cents")
      .orderBy("ws_ms", "event_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(want.nonEmpty, "fixture produced no closed windows")
    assert(rows.toSeq == want.toSeq)
    // windows must span the restart cutoff, or the resume proves nothing
    assert(want.map(_._1).distinct.length > 1, "need multiple windows across stages")
  }

  test("stateful sessionization emits a session once the gap passes") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = Streams.sessionize(spark, input.toDS())
      .writeStream.format("memory").queryName("session_out")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: events at 0 and 10 min (one session), then 60 min (gap
      // >= 30 min → first session closes and is emitted)
      input.addData(Event(1, ts(0), 1, "click", 1.0), Event(2, ts(10), 1, "click", 1.0))
      query.processAllAvailable()
      input.addData(Event(3, ts(60), 1, "click", 1.0))
      query.processAllAvailable()
      val sessions = spark.table("session_out").as[SessionOut].collect()
      assert(sessions.length == 1)
      val s = sessions.head
      assert(s.user_id == 1L)
      assert(s.start_ms == ms(0))
      assert(s.end_ms == ms(10) + 30 * 60000L) // last event + gap
      assert(s.n_events == 2L)
    } finally query.stop()
  }

  test("rocksdb state store serves the session-window query and matches the default provider") {
    val rocksRun = Streams.sessionWindowRocksRun(spark, sfDir)
    val rocks    = rocksRun.result.collect().toSeq
    assert(rocksRun.stateCustomMetrics.exists(_.toLowerCase.contains("rocksdb")),
      s"expected rocksdb state-store metrics, got: ${rocksRun.stateCustomMetrics}")
    // provider conf restored: the default-path run must NOT touch rocksdb
    val defaultRun = Streams.sessionWindowRun(spark, sfDir)
    val default    = defaultRun.result.collect().toSeq
    assert(!defaultRun.stateCustomMetrics.exists(_.toLowerCase.contains("rocksdb")),
      "provider conf leaked into the default-path run")
    assert(rocks == default, "state store provider changed the query output")
  }

  test("debounce state carries last-kept ms across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = Streams.debounceStream(input.toDS())
      .writeStream.format("memory").queryName("debounce_out")
      .outputMode(OutputMode.Append).start()
    val D = graft.ops.Events.DebounceMs
    try {
      def at(ms: Long) = new java.sql.Timestamp(ms)
      // batch 1: t=0 kept, t=D-1 dropped
      input.addData(Event(1L, at(0L), 7L, "click", 1.0),
        Event(2L, at(D - 1), 7L, "click", 1.0))
      query.processAllAvailable()
      // batch 2: t=D-2+... within D of the KEPT t=0? t=D+1 is ≥D after 0 → kept;
      // t=D+2 is 1ms after new last-kept → dropped. If state were lost,
      // both would be kept (fresh user ⇒ first event always kept).
      input.addData(Event(3L, at(D + 1), 7L, "click", 1.0),
        Event(4L, at(D + 2), 7L, "click", 1.0))
      query.processAllAvailable()
      val kept = spark.table("debounce_out")
        .collect().map(r => r.getAs[Long]("event_id")).sorted.toSeq
      assert(kept == Seq(1L, 3L),
        s"expected events 1 and 3 kept across the batch boundary, got $kept")
    } finally { query.stop(); spark.catalog.dropTempView("debounce_out"); () }
  }

  test("rate-cap state counts kept events across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = Streams.rateCapStream(input.toDS())
      .writeStream.format("memory").queryName("ratecap_out")
      .outputMode(OutputMode.Append).start()
    try {
      def at(ms: Long) = new java.sql.Timestamp(ms)
      // batch 1: two events on user 7's day 0 → rn 1, 2
      input.addData(Event(1L, at(100L), 7L, "click", 1.0),
        Event(2L, at(200L), 7L, "click", 1.0))
      query.processAllAvailable()
      // batch 2: two more same-day events. With carried state only ONE
      // admits (rn 3 caps the day); a lost counter would admit both.
      // A next-day event starts a fresh key at rn 1.
      input.addData(Event(3L, at(300L), 7L, "click", 1.0),
        Event(4L, at(400L), 7L, "click", 1.0),
        Event(5L, at(86400000L + 1L), 7L, "click", 1.0))
      query.processAllAvailable()
      val got = spark.table("ratecap_out")
        .collect().map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("day"),
          r.getAs[Long]("rn"))).sortBy(_._1).toSeq
      assert(got == Seq((1L, 0L, 1L), (2L, 0L, 2L), (3L, 0L, 3L), (5L, 1L, 1L)),
        s"expected the day-0 cap to close at event 3, got $got")
    } finally { query.stop(); spark.catalog.dropTempView("ratecap_out"); () }
  }

  test("top-k heap state merges new batches and re-emits the refreshed ranking") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = Streams.topkStream(input.toDS(), 2)
      .writeStream.format("memory").queryName("topk_out")
      .outputMode(OutputMode.Append).start()
    try {
      def at(ms: Long) = new java.sql.Timestamp(ms)
      input.addData(Event(1L, at(0L), 7L, "click", 5.0),
        Event(2L, at(1L), 8L, "click", 3.0))
      query.processAllAvailable()
      // batch 2: a 4.0 displaces the 3.0 ONLY if the heap survived;
      // batch 2's emission must be (5.0 rn1, 4.0 rn2)
      input.addData(Event(3L, at(2L), 9L, "click", 4.0))
      query.processAllAvailable()
      val got = spark.table("topk_out")
        .collect().map(r => (r.getAs[Long]("rn"), r.getAs[Long]("event_id"),
          r.getAs[Long]("cents"))).toSeq
      val batch2 = got.drop(2)
      assert(got.take(2) == Seq((1L, 1L, 500L), (2L, 2L, 300L)))
      assert(batch2 == Seq((1L, 1L, 500L), (2L, 3L, 400L)),
        s"expected the carried heap to rank 500 then 400 after batch 2, got $batch2")
    } finally { query.stop(); spark.catalog.dropTempView("topk_out"); () }
  }

  test("anomaly state: day ring + open day survive micro-batch boundaries") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = Streams.anomalyStream(input.toDS())
      .writeStream.format("memory").queryName("anom_out")
      .outputMode(OutputMode.Append).start()
    try {
      // one type, 12 days of synthetic volumes; day 8 is a planted 5x
      // spike. Day d closes only when day d+1's first event arrives, so
      // verdicts exist for days 8..10 (ring >= 8) and never for day 11.
      val counts = Seq(10L, 12L, 11L, 10L, 13L, 12L, 11L, 10L, 50L, 11L, 12L, 1L)
      var id = 0L
      val events = counts.zipWithIndex.flatMap { case (c, d) =>
        (1L to c).map { k => id += 1; Event(id, new java.sql.Timestamp(
          d * 86400000L + k * 60000L), 7L, "click", 1.0) }
      }
      // split mid-day-4 and mid-day-9: both the closed ring AND the
      // open day's partial count must survive the boundary
      val cut1 = counts.take(4).sum.toInt + 6
      val cut2 = counts.take(9).sum.toInt + 5
      input.addData(events.take(cut1): _*); query.processAllAvailable()
      input.addData(events.slice(cut1, cut2): _*); query.processAllAvailable()
      input.addData(events.drop(cut2): _*); query.processAllAvailable()
      val got = spark.table("anom_out").collect()
        .map(r => r.getAs[Long]("day") ->
          (r.getAs[Long]("n"), r.getAs[Long]("n_window"), r.getAs[Boolean]("is_anomaly")))
        .toMap
      def med2Of(xs: Seq[Long]): Long = {
        val s = xs.sorted; val m = s.size
        if (m % 2 == 1) 2 * s(m / 2) else s(m / 2 - 1) + s(m / 2)
      }
      val expect = (8 to 10).map { d =>
        val win  = counts.take(d).takeRight(28)
        val m2   = med2Of(win)
        val mad4 = med2Of(win.map(x => math.abs(2 * x - m2)))
        d.toLong -> ((counts(d), win.size.toLong,
          math.abs(4 * counts(d) - 2 * m2) > 5 * mad4))
      }.toMap
      assert(got == expect)
      assert(got(8L)._3 && !got(9L)._3, "the planted spike must flag; its successor must not")
    } finally { query.stop(); spark.catalog.dropTempView("anom_out"); () }
  }

  test("ewma state carries the 16-deep ring across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = Streams.ewmaStream(input.toDS())
      .writeStream.format("memory").queryName("ewma_out")
      .outputMode(OutputMode.Append).start()
    try {
      // 20 events for one user split across three batches: the ring
      // must survive each boundary or the later sums lose history
      val events = (1L to 20L).map(i => Event(i, ts(i), 7L, "click", i.toDouble))
      input.addData(events.take(5): _*);  query.processAllAvailable()
      input.addData(events.slice(5, 12): _*); query.processAllAvailable()
      input.addData(events.drop(12): _*); query.processAllAvailable()
      val got = spark.table("ewma_out")
        .collect().map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("decayed")).toMap
      // driver-side reference over the unbroken series
      val cents = (1L to 20L).map(_ * 100L)
      val expect = (0 until 20).map { i =>
        val recent = (i to math.max(0, i - 15) by -1).map(cents(_))
        (i + 1).toLong -> recent.zipWithIndex.map { case (v, k) => v << (15 - k) }.sum
      }.toMap
      assert(got == expect)
    } finally { query.stop(); spark.catalog.dropTempView("ewma_out"); () }
  }

  test("changelog state squashes same-level readings across micro-batch boundaries") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = Streams.changelogStream(input.toDS())
      .writeStream.format("memory").queryName("changelog_out")
      .outputMode(OutputMode.Append).start()
    try {
      // levels are value div 50 (dollars): 10,10 | 10,120,120 | 120,10
      // — the two batch-boundary repeats (events 3 and 6) must be
      // squashed, which only happens if the last level survives the
      // boundary in state
      val vals = Seq(10.0, 10.0, 10.0, 120.0, 120.0, 120.0, 10.0)
      val events = vals.zipWithIndex.map { case (v, i) =>
        Event(i + 1L, ts(i + 1L), 9L, "click", v)
      }
      input.addData(events.take(2): _*); query.processAllAvailable()
      input.addData(events.slice(2, 5): _*); query.processAllAvailable()
      input.addData(events.drop(5): _*); query.processAllAvailable()
      val got = spark.table("changelog_out")
        .collect().map(r => (r.getAs[Long]("rn"), r.getAs[Long]("event_id"),
          r.getAs[Long]("level"))).sortBy(_._1).toSeq
      assert(got == Seq((1L, 1L, 0L), (2L, 4L, 2L), (3L, 7L, 0L)),
        s"changelog emitted $got")
    } finally { query.stop(); spark.catalog.dropTempView("changelog_out"); () }
  }

  test("each per-key fold sorts its batch by (ts, event_id): a reversed batch emits the same rows") {
    implicit val sqlCtx = spark.sqlContext
    val hour = 3600000L
    // one user and one type over 11 days: 3-5 events a day (over the rate
    // cap, spaced for debounce, enough closed days for anomaly verdicts),
    // levels that change and repeat, and two events on day 2 sharing a ts
    val hours = (0L until 11L).flatMap(d =>
      Seq(1L, 4L, 10L, 11L, 12L).take(3 + (d % 3).toInt).map(d * 24 + _)) :+ (2L * 24 + 4L)
    val values = Seq(10.0, 60.0, 60.0, 120.0, 10.0)
    val events = hours.sorted.zipWithIndex.map { case (h, i) =>
      Event(i + 1L, new java.sql.Timestamp(h * hour), 7L, "click", values(i % 5))
    }
    def emitted(fold: Dataset[Event] => Dataset[_], batch: Seq[Event]): Seq[String] = {
      val input = MemoryStream[Event]
      val name  = "fold_order_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val query = fold(input.toDS()).toDF()
        .writeStream.format("memory").queryName(name).outputMode(OutputMode.Append).start()
      try {
        input.addData(batch: _*)
        query.processAllAvailable()
        spark.table(name).collect().map(_.toString).toSeq.sorted
      } finally { query.stop(); spark.catalog.dropTempView(name); () }
    }
    val folds = Seq[(String, Dataset[Event] => Dataset[_])](
      "debounce" -> Streams.debounceStream, "ewma" -> Streams.ewmaStream,
      "rate_cap" -> Streams.rateCapStream, "changelog" -> Streams.changelogStream,
      "anomaly" -> Streams.anomalyStream, "topk" -> (Streams.topkStream(_, 2)))
    folds.foreach { case (name, fold) =>
      val inOrder = emitted(fold, events)
      assert(inOrder.nonEmpty, s"$name emitted nothing")
      assert(emitted(fold, events.reverse) == inOrder, s"$name: the reversed batch changed the rows")
    }
  }

  test("transformWithState runs on rocksdb and matches the batch aggregate") {
    import org.apache.spark.sql.functions._
    val run = Streams.transformStateRun(spark, sfDir)
    val got = run.result.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    // the new API requires (and must actually be served by) RocksDB
    assert(run.stateCustomMetrics.exists(_.toLowerCase.contains("rocksdb")),
      s"expected rocksdb metrics, got: ${run.stateCustomMetrics}")
    // batch reference: plain GROUP BY + ordered last-event selection
    val ev = tables.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        graft.functions.TextFunctions.cents(col("value")).as("cents"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2), r.getLong(3)))
    val expect = ev.groupBy(_._3).map { case (uid, rows) =>
      val last = rows.maxBy(r => (r._2, r._1))
      (uid, rows.length.toLong, rows.map(_._4).sum, rows.map(_._4).max,
        last._1, math.min(3L, rows.length.toLong))
    }.toSeq.sortBy(_._1)
    assert(got == expect, "transformWithState diverged from the batch aggregate")
  }

  test("initial-state bootstrap composes to exactly the full batch aggregate") {
    import org.apache.spark.sql.functions._
    val got = Streams.runBoundedStateBootstrap(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val ev = tables.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        graft.functions.TextFunctions.cents(col("value")).as("cents"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2), r.getLong(3)))
    val expect = ev.groupBy(_._3)
      .filter(_._2.exists(_._1 % 2 == 1)) // only users with a streamed row emit
      .map { case (uid, rows) =>
        val last = rows.maxBy(r => (r._2, r._1))
        (uid, rows.length.toLong, rows.map(_._4).sum, rows.map(_._4).max, last._1)
      }.toSeq.sortBy(_._1)
    assert(got == expect, "bootstrap+stream != one-shot batch aggregate")
    // the seeded state genuinely contributed: at least one user's count
    // exceeds what its streamed (odd-id) rows alone could produce
    val oddCounts = ev.filter(_._1 % 2 == 1).groupBy(_._3).view.mapValues(_.length.toLong).toMap
    assert(got.exists { case (uid, n, _, _, _) => n > oddCounts.getOrElse(uid, 0L) },
      "no user shows baseline contribution — initial state was never read")
    // and at least one user's LAST event lives in the baseline half
    // (the max-by-(ts,id) merge, not a stream-side overwrite)
    assert(got.exists(_._5 % 2 == 0),
      "no baseline-half last_event_id survived the merge")
  }

  test("idempotent sink: a REAL engine replay is absorbed; committed table is exactly-once") {
    import org.apache.spark.sql.functions._
    val (resDf, replays, b1, b2) = Streams.idempotentSinkRun(spark, sfDir)
    // the deleted engine commit must force a genuine re-delivery of the
    // last stage-1 batch (same id) on restart — otherwise this test
    // proves nothing
    assert(replays >= 1L, "no replayed batch was delivered to the sink")
    assert(b2.contains(b1.max),
      s"restart did not re-execute the uncommitted batch ${b1.max}: stage-2 ids $b2")
    assert(b2.max > b1.max, "stage 2 processed no new files after the replay")
    // exactly-once: the committed table is precisely the source rows,
    // no duplicate from the re-delivered batch
    val got = resDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val expect = tables.Tables.events(spark, sfDir)
      .select(col("event_id"), unix_millis(col("ts")).as("ms"), col("user_id"),
        graft.functions.TextFunctions.cents(col("value")).as("cents"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(got == expect, "committed table diverged from the one-shot projection")
  }

  test("foreachBatch merge: four successive upserts compose to the batch argmax") {
    import org.apache.spark.sql.functions._
    val (resDf, nBatches) = Streams.foreachMergeRun(spark, sfDir)
    // the whole point is the MULTI-batch composition: maxFilesPerTrigger=1
    // over the four staged source files must drive four separate merges
    assert(nBatches == 4L, s"expected 4 micro-batch merges, ran $nBatches")
    val got = resDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val expect = tables.Tables.events(spark, sfDir)
      .select(col("event_id"), unix_millis(col("ts")).as("ms"), col("user_id"),
        graft.functions.TextFunctions.cents(col("value")).as("cents"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._3).map { case (uid, rows) =>
        val last = rows.maxBy(r => (r._2, r._1))
        (uid, last._2, last._1, last._4)
      }.toSeq.sortBy(_._1)
    assert(got == expect, "merged table diverged from the one-shot batch argmax")
  }

  // ---- the bounded runner: confs only around start() ----

  private def confUnchanged(what: String)(run: => Any): Unit = {
    val before = spark.conf.getAll
    run
    assert(spark.conf.getAll == before, s"$what changed the session conf")
  }

  test("every bounded entry leaves the session conf as it found it, a throwing run included") {
    confUnchanged("rocksdb session window")(Streams.sessionWindowRocksRun(spark, sfDir))
    confUnchanged("late drops")(Streams.runBoundedLateDrops(spark, sfDir))
    confUnchanged("restart")(Streams.restartTumblingDetailed(spark, sfDir))
    confUnchanged("foreach merge")(Streams.foreachMergeRun(spark, sfDir))
    confUnchanged("idempotent sink")(Streams.idempotentSinkRun(spark, sfDir))
    confUnchanged("state bootstrap")(Streams.runBoundedStateBootstrap(spark, sfDir))
    val noData = Seq("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
    // fails in start(): complete mode on a stream without an aggregation
    confUnchanged("a run that fails to start") {
      intercept[Exception](Streams.bounded(tables.Tables.eventsStream(spark, sfDir), noData)(
        _.format("memory").queryName("bounded_bad_start").outputMode(OutputMode.Complete())))
    }
    // fails while it runs: the sink throws on the first batch
    confUnchanged("a run that fails in a batch") {
      graft.ops.withTempDir("graft-bounded-throw") { tmp =>
        intercept[Exception](Streams.bounded(tables.Tables.eventsStream(spark, sfDir), noData)(_
          .foreachBatch((_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            throw new IllegalStateException("sink failure"))
          .option("checkpointLocation", s"$tmp/ckpt")))
      }
    }
  }

  test("each stateful bounded run plans its state on min(8, slots) shuffle partitions") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val parts = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(o =>
          parts.add((String.valueOf(e.progress.name), o.numShufflePartitions.toInt)))
    }
    val want = math.min(8, spark.sparkContext.defaultParallelism)
    // a session default that differs, so the runs cannot inherit the count
    graft.ops.withConfs(spark, Seq("spark.sql.shuffle.partitions" -> (want + 3).toString)) {
      spark.streams.addListener(listener)
      try {
        Streams.sessionWindowRun(spark, sfDir)
        Streams.runBoundedIntervalJoin(spark, sfDir)
        Streams.runBoundedSessionize(spark, sfDir)
        Streams.transformStateRun(spark, sfDir)
        org.apache.spark.graftbridge.SchedulerBridge.drainListeners(spark.sparkContext)
      } finally spark.streams.removeListener(listener)
    }
    import scala.jdk.CollectionConverters._
    val seen = parts.asScala.toList
    Seq("stream_session_window", "stream_interval_join", "stream_sessionize", "stream_transform_state")
      .foreach(q => assert(seen.exists(_._1.startsWith(q)), s"$q reported no state operator"))
    assert(seen.forall(_._2 == want), s"state partitions (want $want): $seen")
  }

  test("bounded checkpoints keep their .crc files, permission bits and corruption check") {
    import java.nio.file.{Files, Path => JPath}
    import java.nio.file.attribute.PosixFilePermissions
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.streaming.StreamingQueryException
    graft.ops.withTempDir("graft-ckpt-integrity") { tmp =>
      val ckpt = s"$tmp/ckpt"
      // a recoverable sink, one data batch, so offsets/0 is the latest offset
      def run(): Unit = {
        Streams.bounded(Streams.tumblingCounts(tables.Tables.eventsStream(spark, sfDir)),
          Seq("spark.sql.streaming.noDataMicroBatches.enabled" -> "false"))(_
          .format("parquet").outputMode(OutputMode.Append())
          .option("path", s"$tmp/out").option("checkpointLocation", ckpt))
        ()
      }
      run()
      val root = java.nio.file.Paths.get(ckpt)
      val logs: Seq[JPath] = Seq("offsets", "commits", "metadata").map(root.resolve) ++
        Files.list(root.resolve("state")).iterator.asScala.map(_.resolve("_metadata"))
      val files = logs.flatMap(p => Files.walk(p).iterator.asScala.toList)
        .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.endsWith(".crc"))
      def perms(f: JPath) = PosixFilePermissions.toString(Files.getPosixFilePermissions(f))
      assert(files.exists(_.startsWith(root.resolve("state"))), s"no state metadata: $files")
      files.foreach { f =>
        val crc = f.resolveSibling(s".${f.getFileName}.crc")
        assert(Files.isRegularFile(crc), s"$f has no .crc sibling")
        assert(perms(f) == "rw-r--r--" && perms(crc) == "rw-r--r--",
          s"$f: ${perms(f)}, crc: ${perms(crc)}")
      }
      // a mid-file flip may still parse: the .crc check on read is what fails the restart
      val offsets0 = root.resolve("offsets").resolve("0")
      val bytes = Files.readAllBytes(offsets0)
      bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 1).toByte
      Files.write(offsets0, bytes)
      intercept[StreamingQueryException](run())
    }
  }
}
