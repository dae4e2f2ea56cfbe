package graft.streaming

import scala.jdk.CollectionConverters._

import graft.functions.TextFunctions.cents
import graft.ops.{Checkpoints, TopK}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery, StreamingQueryProgress, Trigger}

/** Structured Streaming formulations of the event operators: windowed
  * aggregation with watermarks (late-data policy), and custom stateful
  * sessionization via flatMapGroupsWithState.
  *
  * The reference engine is strictly batch (SURVEY.md §2.3) — these are
  * the streaming extension of the same semantics: `tumblingCounts`
  * computes exactly what `Events.eventTumbling` computes per window,
  * incrementally. Tested with MemoryStream in StreamingSpec.
  *
  * Scale design: watermark + append mode bounds state (windows close and
  * evict); sessionization state is per-key and evicted on timeout — at
  * 1000 executors state lives in the state store, partitioned by key.
  *
  * Every bounded run starts in [[bounded]], the only `writeStream` call.
  * Invariant: a streaming query snapshots the session's SQL conf when it
  * starts. `start()` clones the session, every micro-batch plans from
  * the clone, and the offset log records the shuffle-partition count and
  * the state-store provider from it. So a run's confs (state partitions,
  * provider, no-data batches) are set only around `start()`, and the
  * shared session holds none of them while the query runs.
  */
object Streams {

  final case class Event(
      event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionOut(
      user_id: Long, start_ms: Long, end_ms: Long, n_events: Long)

  final case class SessionState(startMs: Long, lastMs: Long, n: Long)

  /** The tumbling-window aggregation core, shared by the batch query
    * (`Events.eventTumbling`) and the watermarked streaming form —
    * one definition, same rationale as [[sessionWindowAgg]]. */
  def tumblingAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(cents(col("value"))).as("sum_value_cents"))
      .select(unix_millis(col("w.start")).as("ws_ms"), col("event_type"),
        col("n"), col("sum_value_cents"))

  /** 1-hour tumbling windows, 10-minute watermark: late events beyond
    * the watermark are dropped; windows emit once finalized (append). */
  def tumblingCounts(events: DataFrame): DataFrame =
    tumblingAgg(events.withWatermark("ts", "10 minutes"))

  /** Run `tumblingCounts` through the REAL streaming engine over the
    * bounded events fixture: `readStream` file source →
    * `Trigger.AvailableNow` → memory sink, awaited to completion, so
    * the driver gate can hash-compare a Structured Streaming execution
    * against the batch SQL oracle. Complete output mode: on a bounded
    * input, append mode would withhold the trailing windows still ahead
    * of the final watermark, while complete mode emits every window's
    * final state — which equals the batch aggregation exactly. The
    * watermark is kept (it is the unbounded-run configuration; complete
    * mode just never evicts). */
  def runBoundedTumbling(spark: SparkSession, dir: String): DataFrame =
    runBounded(spark, "stream_tumbling",
      tumblingCounts(graft.tables.Tables.eventsStream(spark, dir)),
      OutputMode.Complete(), Seq("ws_ms", "event_type")).result

  /** The session-window aggregation core, shared by the batch query
    * (`Events.sessionWindow`) and the streaming run below — one
    * definition, so the batch-oracle-validates-streaming argument is
    * structural, not copy-paste. */
  def sessionWindowAgg(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(cents(col("value"))).as("sum_value_cents"))
      .select(col("user_id"), unix_millis(col("w.start")).as("start_ms"),
        unix_millis(col("w.end")).as("end_ms"), col("n_events"), col("sum_value_cents"))

  /** Streaming session windows through the real engine — the native
    * `session_window` merge running incrementally in the session-window
    * state store, complete mode for the bounded-input = batch-equality
    * argument (same as [[runBoundedTumbling]]). */
  def runBoundedSessionWindow(spark: SparkSession, dir: String): DataFrame =
    sessionWindowRun(spark, dir).result

  /** [[runBoundedSessionWindow]] with the run's state-store metrics —
    * specs assert the default provider (not RocksDB) served it. */
  private[graft] def sessionWindowRun(spark: SparkSession, dir: String): BoundedRun =
    runBounded(spark, "stream_session_window",
      sessionWindowAgg(graft.tables.Tables.eventsStream(spark, dir)),
      OutputMode.Complete(), Seq("user_id", "start_ms"))

  /** The 100 TB-state posture: the same session-window aggregation under
    * the RocksDB state store provider. The default (HDFS-backed
    * in-memory) provider holds every partition's state on the executor
    * heap — fine for bounded fixtures, a hard wall once streaming state
    * (sessions over billions of users) outgrows memory. RocksDB keeps
    * the working set on local SSD with block-cache reads, changelog/
    * snapshot uploads to the checkpoint store, and memory bounded by
    * write-buffer + cache sizing — the provider production Spark runs
    * large stateful pipelines on. Output is provider-independent (same
    * oracle as `stream_session_window`); [[BoundedRun.stateCustomMetrics]]
    * carries the run's state-store custom metrics so StreamingSpec can
    * assert RocksDB was genuinely active, not silently fallen back. */
  def runBoundedSessionWindowRocks(spark: SparkSession, dir: String): DataFrame =
    sessionWindowRocksRun(spark, dir).result

  private[graft] def sessionWindowRocksRun(spark: SparkSession, dir: String): BoundedRun =
    runBounded(spark, "stream_session_rocksdb",
      sessionWindowAgg(graft.tables.Tables.eventsStream(spark, dir)),
      OutputMode.Complete(), Seq("user_id", "start_ms"), confs = Seq(RocksDb))

  /** A bounded streaming run's result plus the state-operator
    * custom-metric keys its execution surfaced — RocksDB runs show
    * `rocksdb*` keys, the default provider `loadedMapCache*` ones;
    * specs use the metrics to prove which provider actually served the
    * query. Returned per run (no process-global state, so concurrent
    * runs in separate sessions cannot clobber each other's metrics). */
  private[graft] final case class BoundedRun(
      result: DataFrame, stateCustomMetrics: Set[String])

  /** Watermark LATE-DATA ACCOUNTING through the real engine — the one
    * watermark behavior no other bounded run exercises: rows arriving
    * AFTER the watermark passed their window are silently dropped, and
    * the drop set is deterministic. The fixture splits by a pure id
    * rule into on-time (event_id % 5 ≠ 0) and late rows, staged as
    * THREE mtime-ordered files fed through `maxFilesPerTrigger=1`:
    * batch 1 = the on-time rows minus a single CARRIER row (the
    * on-time max-ts event), batch 2 = the carrier, batch 3 = the late
    * 20%. The carrier batch exists because this engine runs the
    * TWO-watermark model (SPARK-42376): a batch's LATE-data filter
    * uses the PREVIOUS batch's watermark while state EVICTION uses the
    * current one — probe-pinned in `WmProbeSpec`, where a 2-file run
    * accepts everything and a 3-file run drops exactly the stale rows.
    * After the carrier commits, batch 3's late filter holds the full
    * on-time watermark W = floor-ms(max on-time ts) − 600 000, and the
    * engine accepts exactly the late rows whose window is still open
    * (ws + 1 h > W) — what happens to a straggling upstream partition
    * in production. Update output mode makes the accounting OBSERVABLE
    * in the result: per window, one row from batch 1, one more for the
    * carrier's window, and a third, larger row ONLY for windows that
    * accepted late rows — windows whose late rows all dropped never
    * re-emit. The oracle states the full rule in SQL, so the late-drop
    * semantics are hash-pinned, not assumed.
    *
    * Scale: state is open-windows only, the staging is fixture
    * plumbing, and the drop rule is the same O(1) per-row filter the
    * engine applies at any volume. */
  def runBoundedLateDrops(spark: SparkSession, dir: String): DataFrame =
    graft.ops.withTempDir("graft-late") { tmp =>
      // the staging scope returns nothing, so its checkpoints free on exit
      Checkpoints.scope { st =>
        // three filtered writes + the carrier agg
        val events = st.ckpt(graft.tables.Tables.events(spark, dir)
          .select("event_id", "ts", "user_id", "event_type", "value"))
        val onTime  = events.filter(col("event_id") % 5 =!= 0)
        // 1 row; anti-joined against the A file
        val carrier = st.ckpt(onTime.orderBy(desc("ts"), desc("event_id")).limit(1))
        def stage(name: String, df: DataFrame, mtime: Long): Unit = {
          val d = s"$tmp/stage_$name"
          df.coalesce(1).write.parquet(d)
          val part = new java.io.File(d).listFiles()
            .filter(_.getName.endsWith(".parquet")).head
          val dst = new java.io.File(s"$tmp/src/$name.parquet")
          dst.getParentFile.mkdirs()
          java.nio.file.Files.move(part.toPath, dst.toPath)
          dst.setLastModified(mtime)
          ()
        }
        stage("a_ontime", onTime.join(
          carrier.select(col("event_id").as("cid")),
          col("event_id") === col("cid"), "left_anti"), 1000000L)
        stage("b_carrier", carrier, 2000000L)
        stage("c_late", events.filter(col("event_id") % 5 === 0), 3000000L)
      }
      val src = spark.readStream
        // the staged files share one schema: read it off one footer
        .schema(graft.tables.Tables.schemaOf(spark, s"$tmp/src/a_ontime.parquet"))
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$tmp/src")
      runBounded(spark, "stream_late_drops",
        tumblingAgg(src.withWatermark("ts", "10 minutes")),
        OutputMode.Update(), Seq("ws_ms", "event_type", "n")).result
    }

  /** Stream-static enrichment through the engine, driver-checked: each
    * micro-batch of the bounded events stream broadcast-joins the
    * static customer dimension ([[enrich]]); per-event output rows are
    * a deterministic set, so append mode + a full sort oracle-compares
    * against the batch LEFT JOIN. */
  def runBoundedEnrich(spark: SparkSession, dir: String): DataFrame = {
    val dim = graft.tables.Tables.customer(spark, dir)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    runBounded(spark, "stream_enrich",
      enrich(graft.tables.Tables.eventsStream(spark, dir)
        .select("event_id", "user_id"), dim)
        .select("event_id", "user_id", "segment"),
      OutputMode.Append(), Seq("event_id")).result
  }

  /** State-store partitions of every bounded run: at most one wave of state-store tasks. */
  private def statePartitions(spark: SparkSession): Int =
    math.min(8, spark.sparkContext.defaultParallelism)

  /** The state-store provider conf of the runs that need RocksDB. */
  private val RocksDb = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The one bounded stream runner and the only `writeStream` call:
    * `sink` picks the sink (memory, parquet under a checkpoint,
    * `foreachBatch`), then the query starts with `Trigger.AvailableNow`
    * and runs to completion. The state partitions ([[statePartitions]]),
    * the checkpoint file manager ([[LocalCheckpointFileManager]]) and
    * `confs` are set only around `start()`: the query snapshots the
    * session's SQL conf when it starts (see the object header), so it
    * keeps them for its whole run while the session is back to its own
    * values at once. Returns the terminated query, for its progress. */
  private[graft] def bounded[T](out: Dataset[T], confs: Seq[(String, String)] = Nil)(
      sink: DataStreamWriter[T] => DataStreamWriter[T]): StreamingQuery = {
    val w = sink(out.writeStream.trigger(Trigger.AvailableNow()))
    val q = graft.ops.withConfs(out.sparkSession,
      Seq("spark.sql.shuffle.partitions" -> statePartitions(out.sparkSession).toString,
        "spark.sql.streaming.checkpointFileManagerClass" -> classOf[LocalCheckpointFileManager].getName)
        ++ confs)(w.start())
    q.awaitTermination()
    q
  }

  /** [[bounded]] into a memory sink → snapshot the sink → drop the temp
    * view (the sink table would otherwise leak one driver-held table per
    * run). The snapshot is a checkpoint, valid after the view is gone.
    *
    * `needsNoDataBatch`: stateful bounded runs get one extra NO-DATA
    * micro-batch after the data batch, whose only work is advancing the
    * watermark — firing event-time TIMEOUTS and evicting state. Only
    * [[runBoundedSessionize]] needs it for its OUTPUT (its last-session
    * emissions are timeout-driven); for the other shapes (eager inner
    * interval join, complete-mode aggregations that re-emit the same
    * final state, dedup that emits on arrival) the batch re-does
    * cost-proportional-to-state work and changes nothing — on the
    * interval join it is ~40 % of the whole run. Unbounded production
    * runs keep the default on: there the no-data batch is how windows
    * close during input lulls. */
  private def runBounded(
      spark: SparkSession, prefix: String, out: DataFrame,
      mode: OutputMode, sortCols: Seq[String],
      needsNoDataBatch: Boolean = false,
      confs: Seq[(String, String)] = Nil): BoundedRun = Checkpoints.scope { ck =>
    val name = prefix + "_" + java.util.UUID.randomUUID().toString.replace("-", "")
    // drop the sink view even when the query or snapshot fails —
    // otherwise every failed run strands a driver-held table
    try {
      val q = bounded(out,
        ("spark.sql.streaming.noDataMicroBatches.enabled" -> needsNoDataBatch.toString) +: confs)(
        _.format("memory").queryName(name).outputMode(mode))
      val metrics = q.recentProgress.toSet
        .flatMap((p: StreamingQueryProgress) =>
          p.stateOperators.flatMap(_.customMetrics.keySet.asScala).toSet)
      // the memory sink's rows already sit on the driver; a global
      // orderBy would range-partition them (an extra sampling job)
      // only to gather right back. One partition + one sort pass gives
      // the same total order in a single job — bounded-run results are
      // ≤ ~100k rows by construction, far under a partition's worth.
      BoundedRun(
        ck.ckpt(spark.table(name)
          .coalesce(1)
          .sortWithinPartitions(sortCols.map(col): _*)),
        metrics)
    } finally spark.catalog.dropTempView(name)
  }

  /** `events`' five event columns as a typed [[Event]] dataset — the
    * input of every typed stream operator, and of the bootstrap's batch
    * baseline. */
  private def typedEvents(events: DataFrame): Dataset[Event] = {
    import events.sparkSession.implicits._
    events.select("event_id", "ts", "user_id", "event_type", "value").as[Event]
  }

  /** The ordered per-key fold behind the six per-key stream operators —
    * the streaming form of the reference's Reduce, one user callback per
    * key. Per micro-batch, each key's events are sorted by
    * (ts, event_id), then folded from the key's stored state (or `zero`
    * for a new key): `step(key, state, event)` gives the next state and
    * at most one emitted row. After the fold the state is stored and
    * `batchRows(key, state)` may emit rows once per batch (top-k's
    * refreshed ranking).
    *
    * In-order contract: the sort covers one micro-batch only, and no
    * step revises an earlier one, so a key's event that arrives in a
    * later micro-batch than a successor in event time is folded out of
    * order. That is the right trade for per-key-ordered transports (CDC
    * logs, a key-partitioned queue); feeds with cross-batch reordering
    * need a watermark-buffered variant, deliberately not this fold,
    * whose point is constant per-key state. */
  private def foldByKey[K: Encoder, S: Encoder, O: Encoder](
      events: Dataset[Event], key: Event => K, zero: S)(
      step: (K, S, Event) => (S, Option[O]),
      batchRows: (K, S) => Iterator[O] = (_: K, _: S) => Iterator.empty): Dataset[O] = {
    def update(k: K, batch: Iterator[Event], state: GroupState[S]): Iterator[O] = {
      var s = state.getOption.getOrElse(zero)
      val out = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).flatMap { e =>
        val (next, row) = step(k, s, e)
        s = next
        row
      }
      state.update(s)
      out.iterator ++ batchRows(k, s)
    }
    events.groupByKey(key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(update)
  }

  final case class EwmaOut(event_id: Long, user_id: Long, ms: Long, decayed: Long)
  final case class EwmaState(recent: List[Long])

  final case class DebounceOut(user_id: Long, event_id: Long, ms: Long, keep_seq: Long)
  final case class DebounceState(lastKept: Long, seq: Long)

  /** Stateful streaming twin of [[graft.ops.Events.debounceEvents]]:
    * keep an event only if ≥ DebounceMs since the last KEPT event of
    * the same user. The state is two longs per user (last-kept ms +
    * kept ordinal) in the state store — constant per key forever, the
    * cheapest possible stateful operator — and the kept/dropped
    * decision is exactly the batch recursion, so the bounded run shares
    * the batch query's recursive-CTE oracle row-for-row. On an
    * unbounded production stream this replaces the batch job's daily
    * re-sort with one O(1) update per event, under [[foldByKey]]'s
    * in-order contract: the last-kept recursion is not revisable (the
    * batch recursion would re-decide the kept set; this operator
    * cannot). */
  def debounceStream(events: Dataset[Event]): Dataset[DebounceOut] = {
    import events.sparkSession.implicits._
    val D = graft.ops.Events.DebounceMs
    foldByKey(events, _.user_id, DebounceState(Long.MinValue, 0L)) { (userId, st, e) =>
      val ms = e.ts.getTime
      if (st.seq == 0L || ms - st.lastKept >= D) {
        val next = DebounceState(ms, st.seq + 1L)
        (next, Some(DebounceOut(userId, e.event_id, ms, next.seq)))
      } else (st, None)
    }
  }

  /** [[debounceStream]] through the real engine over the bounded
    * fixture — oracle = the batch debounce recursive CTE. */
  def runBoundedDebounce(spark: SparkSession, dir: String): DataFrame =
    runBounded(spark, "stream_debounce",
      debounceStream(typedEvents(graft.tables.Tables.eventsStream(spark, dir))).toDF(),
      OutputMode.Append(), Seq("user_id", "keep_seq")).result

  /** Streaming twin of `Events.ewmaSmooth` — the per-key ORDERED
    * stateful map that windowed aggregation can't express: each user
    * carries a ≤16-deep ring of recent cents values in the state store
    * and every arriving event emits its dyadic-decayed sum
    * Σₖ cents·2^(15−k). State is O(16 longs) per user — bounded by
    * construction, no watermark needed for eviction correctness on the
    * bounded verification runs (a production run would add a state TTL).
    * Cents round with the JVM form of `TextFunctions.cents`, so stream
    * and batch produce identical longs, and [[foldByKey]] folds in the
    * (ms, event_id) order the batch window uses. */
  def ewmaStream(events: Dataset[Event]): Dataset[EwmaOut] = {
    import events.sparkSession.implicits._
    val W = 16
    foldByKey(events, _.user_id, EwmaState(Nil)) { (userId, st, e) =>
      val recent = (cents(e.value) :: st.recent).take(W) // most-recent first
      val dec = recent.iterator.zipWithIndex.map { case (v, k) => v << (W - 1 - k) }.sum
      (EwmaState(recent), Some(EwmaOut(e.event_id, userId, e.ts.getTime, dec)))
    }
  }

  final case class RateCapOut(user_id: Long, day: Long, rn: Long, event_id: Long, ms: Long)
  final case class RateCapState(kept: Long)

  /** Stateful streaming twin of [[graft.ops.Events.rateCap]]: admit the
    * first RateCap events per (user, day), then drop — the ingest-side
    * rate limiter, enforced AT ARRIVAL instead of by a daily batch
    * window. State is ONE long per user-day (events kept so far); a
    * day key stops growing state the moment its cap fills, and
    * production would add an event-time timeout to retire closed days
    * (bounded verification runs don't need eviction). In-order contract
    * of [[foldByKey]] (an admitted event is not revocable). Shares the
    * batch query's oracle row-for-row. */
  def rateCapStream(events: Dataset[Event]): Dataset[RateCapOut] = {
    import events.sparkSession.implicits._
    val cap = graft.ops.Events.RateCap
    foldByKey(events, e => (e.user_id, e.ts.getTime / 86400000L), RateCapState(0L)) {
      case ((userId, day), st, e) =>
        if (st.kept < cap) {
          val next = RateCapState(st.kept + 1L)
          (next, Some(RateCapOut(userId, day, next.kept, e.event_id, e.ts.getTime)))
        } else (st, None)
    }
  }

  def runBoundedRateCap(spark: SparkSession, dir: String): DataFrame =
    runBounded(spark, "stream_rate_cap",
      rateCapStream(typedEvents(graft.tables.Tables.eventsStream(spark, dir))).toDF(),
      OutputMode.Append(), Seq("user_id", "day", "rn")).result

  final case class ChangelogOut(user_id: Long, rn: Long, event_id: Long, ms: Long, level: Long)
  final case class ChangelogState(prev: Long, hasPrev: Boolean, kept: Long)

  /** Stateful streaming twin of [[graft.ops.Events.changelogCompact]]:
    * the CDC level-change squash enforced AT ARRIVAL — state is
    * (last level, kept ordinal) per user, O(2 longs)/key forever; a
    * reading equal to the stored value emits nothing and changes no
    * state. In-order contract of [[foldByKey]] (an emitted change is
    * not revocable). Shares the batch query's oracle row-for-row. */
  def changelogStream(events: Dataset[Event]): Dataset[ChangelogOut] = {
    import events.sparkSession.implicits._
    foldByKey(events, _.user_id, ChangelogState(0L, hasPrev = false, 0L)) { (userId, st, e) =>
      val level = Math.floorDiv(cents(e.value), graft.ops.Events.ChangelogQuantum)
      if (!st.hasPrev || level != st.prev) {
        val next = ChangelogState(level, hasPrev = true, st.kept + 1L)
        (next, Some(ChangelogOut(userId, next.kept, e.event_id, e.ts.getTime, level)))
      } else (st, None)
    }
  }

  def runBoundedChangelog(spark: SparkSession, dir: String): DataFrame =
    runBounded(spark, "stream_changelog",
      changelogStream(typedEvents(graft.tables.Tables.eventsStream(spark, dir))).toDF(),
      OutputMode.Append(), Seq("user_id", "rn")).result

  final case class TopkOut(event_type: String, rn: Long, event_id: Long, cents: Long)
  final case class TopkState(items: List[(Long, Long)])

  /** Stateful streaming top-k: per event type the state store carries
    * the current k best (cents desc, event_id asc) events — the
    * bounded-heap discipline of [[graft.ops.TopK.TopKAgg]] moved into
    * [[foldByKey]], O(k) state per key forever. Each batch folds its
    * events into the heap and emits the refreshed ranking (per-batch
    * replacement; on the bounded single-micro-batch verification runs
    * that is exactly the final batch top-k, so the window row_number
    * SQL gates it). */
  def topkStream(events: Dataset[Event], k: Int): Dataset[TopkOut] = {
    import events.sparkSession.implicits._
    def better(a: (Long, Long), b: (Long, Long)): Boolean =
      a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
    foldByKey(events, _.event_type, TopkState(Nil))(
      (_, st, e) =>
        (TopkState(TopK.insertBounded(st.items, (cents(e.value), e.event_id), k)(better)), None),
      (et, st) =>
        st.items.iterator.zipWithIndex.map { case ((c, id), i) => TopkOut(et, i + 1L, id, c) })
  }

  def runBoundedTopk(spark: SparkSession, dir: String): DataFrame =
    runBounded(spark, "stream_topk",
      topkStream(typedEvents(graft.tables.Tables.eventsStream(spark, dir)), 3).toDF(),
      OutputMode.Append(), Seq("event_type", "rn")).result

  final case class DayCell(day: Long, n: Long)
  final case class AnomalyState(ring: List[DayCell], curDay: Long, curN: Long)
  final case class AnomalyOut(event_type: String, day: Long, n: Long,
      n_window: Long, med2: Long, mad4: Long, is_anomaly: Boolean)

  /** Stateful streaming twin of [[graft.ops.Stats.anomalyMad]]: per
    * event type the state store carries the trailing ≤28 CLOSED
    * (day, count) cells plus the currently-accumulating day — O(29
    * pairs) per key forever. A day CLOSES when a later-day event of the
    * same type arrives; the closed day is judged against the ring
    * (same doubled-median/MAD integer arithmetic as the batch op) and
    * then joins it. Emission is therefore one verdict per closed day:
    * exactly the batch result MINUS each type's final observed day,
    * which never closes inside the stream — the oracle applies that
    * same predicate, so stream and batch semantics stay provably
    * aligned rather than approximately similar. In-order contract of
    * [[foldByKey]] (day closure is not revisable). */
  def anomalyStream(events: Dataset[Event]): Dataset[AnomalyOut] = {
    import events.sparkSession.implicits._
    def med2Of(xs: Seq[Long]): Long = {
      val s = xs.sorted
      val m = s.size
      if (m % 2 == 1) 2 * s(m / 2) else s(m / 2 - 1) + s(m / 2)
    }
    def verdict(et: String, ring: List[DayCell], day: Long, n: Long): Option[AnomalyOut] =
      if (ring.size < 8) None
      else {
        val win  = ring.map(_.n)
        val m2   = med2Of(win)
        val mad4 = med2Of(win.map(x => math.abs(2 * x - m2)))
        Some(AnomalyOut(et, day, n, ring.size.toLong, m2, mad4,
          math.abs(4 * n - 2 * m2) > 5 * mad4))
      }
    foldByKey(events, _.event_type, AnomalyState(Nil, Long.MinValue, 0L)) { (et, st, e) =>
      val day = e.ts.getTime / 86400000L
      if (st.curDay == Long.MinValue) (AnomalyState(Nil, day, 1L), None)
      else if (day == st.curDay) (st.copy(curN = st.curN + 1), None)
      else (AnomalyState((st.ring :+ DayCell(st.curDay, st.curN)).takeRight(28), day, 1L),
        verdict(et, st.ring, st.curDay, st.curN))
    }
  }

  /** [[anomalyStream]] through the real engine over the bounded fixture
    * — oracle = the batch anomaly_mad SQL minus each type's final day. */
  def runBoundedAnomaly(spark: SparkSession, dir: String): DataFrame =
    runBounded(spark, "stream_anomaly",
      anomalyStream(typedEvents(graft.tables.Tables.eventsStream(spark, dir))).toDF(),
      OutputMode.Append(), Seq("event_type", "day")).result

  /** [[ewmaStream]] through the real engine over the bounded fixture —
    * oracle = the batch lag-chain SQL, which the stream must match
    * row-for-row. */
  def runBoundedEwma(spark: SparkSession, dir: String): DataFrame =
    runBounded(spark, "stream_ewma",
      ewmaStream(typedEvents(graft.tables.Tables.eventsStream(spark, dir))).toDF(),
      OutputMode.Append(), Seq("user_id", "ms", "event_id")).result

  /** Streaming exact dedup through the real engine, driver-checkable:
    * `dropDuplicates` keeps the first-SEEN row per key, which depends
    * on micro-batch task order — so the registered output is the KEY
    * SET only (deterministic under any processing order; oracle =
    * SELECT DISTINCT). Append mode emits keys as first seen; bounded
    * input, so unbounded-state concerns don't apply here (the
    * watermarked variant for unbounded runs is `dedupStream`). */
  def runBoundedDedup(spark: SparkSession, dir: String): DataFrame =
    runBounded(spark, "stream_dedup",
      graft.tables.Tables.eventsStream(spark, dir)
        .select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type"),
      OutputMode.Append(), Seq("user_id", "event_type")).result

  /** Stream-static enrichment join: each micro-batch joins against a
    * static dimension (broadcast per batch — no stream state). The
    * standard shape for attaching user/session metadata on ingest. */
  def enrich(events: DataFrame, userDim: DataFrame): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(userDim), Seq("user_id"), "left")

  /** Stream-stream interval join: purchases matched to the clicks of
    * the same user in the preceding 15 minutes. Both sides carry
    * watermarks and the join condition bounds event-time distance, so
    * each side's buffered state is evictable — the only stream-stream
    * join shape that runs unbounded. */
  def purchaseAttribution(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val c = clicks.withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
    val p = purchases.withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts").as("purchase_ts"), col("event_id").as("purchase_id"))
    p.join(c,
      p("user_id") === c("user_id") &&
        c("click_ts") <= p("purchase_ts") &&
        c("click_ts") >= p("purchase_ts") - expr("INTERVAL 15 minutes"))
      .select(p("user_id"), col("purchase_id"), col("click_id"),
        unix_millis(col("purchase_ts")).as("purchase_ms"),
        unix_millis(col("click_ts")).as("click_ms"))
  }

  /** Left-outer stream-stream interval join: every click joined to the
    * purchases it drove within 15 minutes; unconverted clicks emit a
    * NULL-extended row once the watermark proves no purchase can still
    * match. This is the production use of outer stream joins (funnel /
    * attrition analysis — the nulls ARE the signal) and the semantic
    * the inner join can't express: state eviction doubling as negative
    * evidence.
    *
    * Determinism contract on bounded input: matches emit eagerly (the
    * complete batch inner set, as in [[purchaseAttribution]]); the
    * engine emits a null row when the click's whole match window falls
    * behind the global watermark (= min of the two streams' watermarks).
    * The emitted null set is therefore the unmatched clicks with
    * click_ts + 15 min behind the FINAL watermark — but the exact
    * boundary millisecond is an engine internal, so BOTH sides
    * (engine output post-filter and the batch-LEFT-JOIN oracle) apply
    * the same predicate with a 1 s safety margin inside the boundary:
    * a fixture row landing within ±1 s of the theoretical boundary can
    * never split the compare (the stream_sessionize fixture-edge
    * lesson, designed out rather than asserted around). */
  def clickConversion(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
    val p = purchases.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
    c.join(p,
      c("user_id") === p("p_user_id") &&
        p("purchase_ts") >= c("click_ts") &&
        p("purchase_ts") <= c("click_ts") + expr("INTERVAL 15 minutes"),
      "left_outer")
      .select(col("user_id"), col("click_id"),
        unix_millis(col("click_ts")).as("click_ms"),
        col("purchase_id"), unix_millis(col("purchase_ts")).as("purchase_ms"))
  }

  def runBoundedLeftJoin(spark: SparkSession, dir: String): DataFrame = {
    val clicks = graft.tables.Tables.eventsStream(spark, dir)
      .filter(col("event_type") === "click")
    val purchases = graft.tables.Tables.eventsStream(spark, dir)
      .filter(col("event_type") === "purchase")
    val res = runBounded(spark, "stream_left_join",
      clickConversion(clicks, purchases),
      OutputMode.Append(), Seq("click_id", "purchase_id"),
      needsNoDataBatch = true).result
    // global watermark = min over the two streams' (max event time − delay)
    val ev = graft.tables.Tables.events(spark, dir)
    val wmMs = ev.agg(
      least(
        max(when(col("event_type") === "click", unix_millis(col("ts")))),
        max(when(col("event_type") === "purchase", unix_millis(col("ts"))))))
      .head().getLong(0) - 10L * 60 * 1000
    res.filter(col("purchase_id").isNotNull ||
      col("click_ms") + lit(15L * 60 * 1000) < lit(wmMs - 1000))
  }

  /** The stream-stream interval join through the real engine,
    * driver-checked: clicks and purchases are two independent bounded
    * readStream instances over the same events fixture (a genuine
    * two-stream join, not a self-join rewrite). Inner interval-join
    * matches are emitted eagerly as pairs meet (the watermark only
    * governs state EVICTION, and the interval bound guarantees a click
    * is never evicted before any purchase that could still match it) —
    * so on bounded input the append-mode output is the complete,
    * deterministic match set, oracle = the batch BETWEEN self-join. */
  def runBoundedIntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val clicks = graft.tables.Tables.eventsStream(spark, dir)
      .filter(col("event_type") === "click")
    val purchases = graft.tables.Tables.eventsStream(spark, dir)
      .filter(col("event_type") === "purchase")
    runBounded(spark, "stream_interval_join",
      purchaseAttribution(clicks, purchases),
      OutputMode.Append(), Seq("purchase_id", "click_id")).result
  }

  /** The custom stateful operator through the real engine,
    * driver-checked: [[sessionize]] (flatMapGroupsWithState — the
    * streaming analogue of the kernel's Reduce) over the bounded events
    * stream. Append mode emits a session when a later event proves the
    * gap passed, or when the event-time watermark passes its end — so
    * the deterministic emitted set is exactly the sessions whose end
    * precedes the FINAL watermark (max event time − the 10-min delay):
    * earlier sessions of a user are closed by its later events, and the
    * last session times out iff its end clears that watermark (the
    * engine's event-time-timeout fires on watermark > timeout, hence
    * the strict `<`). Both sides filter to that set: the engine output
    * here, the oracle in its WHERE clause — same contract
    * (end = last + gap) as the session_window oracle. */
  def runBoundedSessionize(spark: SparkSession, dir: String): DataFrame = {
    val ev = typedEvents(graft.tables.Tables.eventsStream(spark, dir))
    val res = runBounded(spark, "stream_sessionize", sessionize(spark, ev).toDF(),
      OutputMode.Append(), Seq("user_id", "start_ms"), needsNoDataBatch = true).result
    val finalWmMs = graft.tables.Tables.events(spark, dir)
      .agg(max(unix_millis(col("ts")))).head().getLong(0) - 10L * 60 * 1000
    res.filter(col("end_ms") < finalWmMs)
  }

  /** Checkpoint/restart round-trip through the real engine — the
    * exactly-once resume property a production pipeline leans on, made
    * driver-checkable. The bounded events fixture is split by TIME at
    * the midpoint (so the second stage carries no late data): stage 1
    * streams the early rows into a PARQUET sink under a checkpoint and
    * terminates; stage 2 drops the late rows into the source directory
    * and starts a FRESH query on the SAME checkpoint + sink. The
    * restarted query resumes from the recorded offsets and aggregation
    * state — batch ids continue, stage-1 files are never re-read, and
    * previously-committed windows never re-emit (the file sink's
    * `_spark_metadata` commit log is the exactly-once protocol; the
    * batch read-back honors it). Append mode + watermark means the
    * emitted set is exactly the windows the FINAL watermark closed —
    * the oracle applies that same predicate to the batch aggregation.
    * Returns (result, stage-1 batch ids, stage-2 batch ids) so the
    * driver query can return the result and StreamingSpec can assert
    * the second run really RESUMED (its batch ids continue after
    * stage 1's) rather than started over. */
  def restartTumblingDetailed(spark: SparkSession, dir: String)
      : (DataFrame, Seq[Long], Seq[Long]) = Checkpoints.scope { ck =>
    graft.ops.withTempDir("graft-restart") { tmp =>
      val (srcDir, outDir, ckpt) = (s"$tmp/src", s"$tmp/out", s"$tmp/ckpt")
      val events = graft.tables.Tables.events(spark, dir)
        .select("event_id", "ts", "user_id", "event_type", "value")
      val Array(minMs, maxMs) = events
        .agg(min(unix_millis(col("ts"))), max(unix_millis(col("ts"))))
        .head().toSeq.map(_.asInstanceOf[Long]).toArray
      val cutoffMs = (minMs + maxMs) / 2

      def runStage(stageFilter: org.apache.spark.sql.Column): Seq[Long] = {
        events.filter(stageFilter).coalesce(2)
          .write.mode("append").parquet(srcDir)
        val src = spark.readStream.schema(events.schema).parquet(srcDir)
        bounded(tumblingCounts(src))(_.format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Append()))
          .recentProgress.map(_.batchId).toSeq
      }

      val b1 = runStage(unix_millis(col("ts")) < cutoffMs)
      val b2 = runStage(unix_millis(col("ts")) >= cutoffMs)
      val res = ck.ckpt(spark.read.parquet(outDir)
        .orderBy("ws_ms", "event_type")) // pin the 4-column result before the rm
      (res, b1, b2)
    }
  }

  /** Driver entry for the restart round-trip: just the merged sink
    * contents (see [[restartTumblingDetailed]] for the proof shape). */
  def runRestartTumbling(spark: SparkSession, dir: String): DataFrame =
    restartTumblingDetailed(spark, dir)._1

  /** Streaming exact dedup by event_id with bounded state: duplicates
    * arriving within the watermark horizon are dropped; state for ids
    * older than the watermark is evicted (the streaming form of the
    * batch dedup operators — at 100 TB/day this is the standard
    * idempotent-ingest guard). */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Custom stateful sessionization (30-min gap) via
    * flatMapGroupsWithState — the streaming twin of
    * Events.sessionWindow (same end semantics: end = last event + gap;
    * Events.sessionize instead reports end = last event).
    * A session is emitted when a later event proves the gap passed, or
    * when the event-time watermark passes start+gap (event-time timeout —
    * processing-time timeouts would busy-loop the no-data trigger).
    */
  def sessionize(spark: SparkSession, events: Dataset[Event]): Dataset[SessionOut] = {
    import spark.implicits._
    val gapMs = 30L * 60 * 1000

    def update(userId: Long, batch: Iterator[Event],
        state: GroupState[SessionState]): Iterator[SessionOut] = {
      if (state.hasTimedOut) {
        // inactivity timeout: close and emit the open session
        val s = state.get
        state.remove()
        Iterator.single(SessionOut(userId, s.startMs, s.lastMs + gapMs, s.n))
      } else {
        val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
        var cur    = state.getOption
        val out    = Seq.newBuilder[SessionOut]
        for (e <- sorted) {
          val ms = e.ts.getTime
          cur match {
            case Some(s) if ms - s.lastMs < gapMs =>
              // out-of-order (late-but-in-watermark) events may arrive in a
              // later batch with ms < lastMs: extend the session envelope,
              // never move its boundaries backward
              cur = Some(SessionState(
                math.min(s.startMs, ms), math.max(s.lastMs, ms), s.n + 1))
            case Some(s) =>
              out += SessionOut(userId, s.startMs, s.lastMs + gapMs, s.n)
              cur = Some(SessionState(ms, ms, 1))
            case None =>
              cur = Some(SessionState(ms, ms, 1))
          }
        }
        cur.foreach { s =>
          val wm  = state.getCurrentWatermarkMs()
          val end = s.lastMs + gapMs
          if (wm > end) {
            // The watermark already passed this session's end (late-but-
            // in-watermark events landed in a batch after it would have
            // closed). A timeout can never be set at/behind the watermark,
            // so a clamped timestamp might never fire on bounded input —
            // emit NOW, under the exact condition (wm > end) the engine's
            // event-time timeout fires on. Keeps the emitted set equal to
            // { sessions with end < final watermark } under any batch split.
            state.remove()
            out += SessionOut(userId, s.startMs, end, s.n)
          } else {
            state.update(s)
            // close via watermark; never set a timeout at/behind it
            // (wm == end leaves a 1 ms clamp: that session emits only if
            // the watermark later advances past end+1 — an exact-ms
            // coincidence the bounded runs never hit, since the whole
            // fixture arrives in one batch at wm = 0)
            state.setTimeoutTimestamp(math.max(wm + 1, end))
          }
        }
        out.result().iterator
      }
    }

    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** STREAMING MERGE-UPSERT via `foreachBatch` — the canonical
    * streaming→lake pattern nothing else here covers: each micro-batch
    * upserts "latest row per key" into an on-disk parquet table, and
    * the table after the LAST batch must equal the one-shot batch
    * answer. The fixture stages the event corpus as four source files
    * and drives them through `maxFilesPerTrigger=1`, so the run is a
    * genuine FOUR-merge composition (order-insensitive by
    * construction: the merge keeps the (ms, event_id)-max struct per
    * user, an idempotent, commutative upsert — exactly why this shape
    * is restart-safe in production). Each merge writes a VERSIONED
    * table dir and reads only the previous version + the batch — the
    * rolling-state cost, never a source rescan; a lakehouse MERGE
    * INTO replaces the version-swap with a transactional commit but
    * the dataflow is identical.
    *
    * Oracle: per-user argmax by (ts, event_id) over all events. */
  def runBoundedForeachMerge(spark: SparkSession, dir: String): DataFrame =
    foreachMergeRun(spark, dir)._1

  /** (result, number of micro-batch merges) — the count lets the spec
    * prove the run was a genuine multi-merge composition. */
  private[graft] def foreachMergeRun(
      spark: SparkSession, dir: String): (DataFrame, Long) = Checkpoints.scope { ck =>
    graft.ops.withTempDir("graft-femerge") { tmp =>
      val srcDir   = s"$tmp/src"
      val tableDir = s"$tmp/table"
      val events = graft.tables.Tables.events(spark, dir)
        .select("event_id", "ts", "user_id", "value")
      (0L until 4L).foreach { b =>
        events.filter(pmod(col("event_id"), lit(4L)) === b)
          .coalesce(1).write.mode("append").parquet(srcDir)
      }
      def latestPerUser(df: DataFrame): DataFrame = df
        .groupBy("user_id")
        .agg(max(struct(col("ms"), col("event_id"), col("cents"))).as("s"))
        .select(col("user_id"), col("s.ms").as("ms"),
          col("s.event_id").as("event_id"), col("s.cents").as("cents"))
      // written on the stream-execution thread (foreachBatch), read on
      // the caller thread after awaitTermination(): AtomicLong gives
      // explicit cross-thread visibility instead of leaning on
      // StreamExecution's internal locking.
      val version = new java.util.concurrent.atomic.AtomicLong(-1L)
      val src = spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      bounded(src)(_
        .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
          val b = latestPerUser(batch.select(
            col("user_id"), unix_millis(col("ts")).as("ms"), col("event_id"),
            cents(col("value")).as("cents")))
          val v = version.get()
          val merged =
            if (v < 0) b
            else latestPerUser(
              spark.read.parquet(s"$tableDir/v$v").unionByName(b))
          merged.write.mode("overwrite").parquet(s"$tableDir/v$id")
          version.set(id)
        }
        .option("checkpointLocation", s"$tmp/ckpt"))
      val finalVersion = version.get()
      require(finalVersion >= 0, "foreachBatch never fired")
      val res = ck.ckpt(spark.read.parquet(s"$tableDir/v$finalVersion")
        .select(col("user_id"), col("ms").as("last_ms"),
          col("event_id").as("last_event_id"), col("cents").as("last_value_cents"))
        .orderBy("user_id")) // must outlive the temp dir
      (res, finalVersion + 1L)
    }
  }

  /** Driver entry for the idempotent-sink run: the committed table
    * contents (see [[idempotentSinkRun]] for the fault-injection proof
    * shape). */
  def runBoundedIdempotentSink(spark: SparkSession, dir: String): DataFrame =
    idempotentSinkRun(spark, dir)._1

  /** EXACTLY-ONCE SINK SEMANTICS beyond plain foreachBatch — the
    * write-audit-publish idempotent-sink protocol every transactional
    * streaming sink implements internally (Kafka's transactional
    * producer, Delta's txn-version table, the file sink's
    * `_spark_metadata`), built from primitives and PROVEN under a real
    * replay: foreachBatch may be re-invoked with the SAME batchId
    * after a crash between the sink write and the engine's commit —
    * the one window where an append-style sink duplicates data. Here
    * each batch (1) SKIPS if its commit marker exists (the idempotent
    * replay path), else (2) writes its rows to a batch-addressed
    * directory, then (3) atomically publishes the marker; readers
    * union only PUBLISHED batches.
    *
    * The replay is not simulated by hand-calling the callback: stage 1
    * streams half the source under a checkpoint; then the engine's own
    * commit record of the LAST stage-1 batch is deleted from
    * `<ckpt>/commits/` (the documented offsets-ahead-of-commits
    * recovery state — precisely "crashed after the sink wrote, before
    * the engine committed"); stage 2 restarts on the same checkpoint,
    * and the engine RE-EXECUTES that batch with the same id and the
    * same offsets-pinned input before processing the new files. The
    * sink's marker check turns the duplicate delivery into a no-op —
    * the returned replay count proves the replay actually happened,
    * and the result hash-matches the one-shot batch projection (a
    * non-idempotent append sink would carry the duplicated batch and
    * fail the oracle). At scale nothing here is driver-bound: batches
    * write distributed parquet; only the marker touch is driver-side,
    * exactly like every production commit protocol. */
  private[graft] def idempotentSinkRun(
      spark: SparkSession, dir: String): (DataFrame, Long, Seq[Long], Seq[Long]) = Checkpoints.scope { ck =>
    graft.ops.withTempDir("graft-idemsink") { tmp =>
      val srcDir     = s"$tmp/src"
      val tableDir   = s"$tmp/table"
      val ckpt       = s"$tmp/ckpt"
      val commitsDir = java.nio.file.Paths.get(s"$tmp/sink_commits")
      java.nio.file.Files.createDirectories(commitsDir)
      val events = graft.tables.Tables.events(spark, dir)
        .select("event_id", "ts", "user_id", "value")
      val replays = new java.util.concurrent.atomic.AtomicLong(0L)

      def addFiles(buckets: Range): Unit = buckets.foreach { b =>
        events.filter(pmod(col("event_id"), lit(4L)) === b)
          .coalesce(1).write.mode("append").parquet(srcDir)
      }
      def stage(): Unit = {
        val src = spark.readStream.schema(events.schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir)
        bounded(src)(_
          .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
            val marker = commitsDir.resolve(f"$id%020d")
            if (java.nio.file.Files.exists(marker)) {
              replays.incrementAndGet() // duplicate delivery absorbed
              ()
            } else {
              batch.select(col("event_id"), unix_millis(col("ts")).as("ms"),
                  col("user_id"),
                  cents(col("value")).as("cents"))
                .write.mode("overwrite").parquet(s"$tableDir/batch_$id") // WRITE
              java.nio.file.Files.write(marker, Array.emptyByteArray)    // PUBLISH
              ()
            }
          }
          .option("checkpointLocation", ckpt))
        ()
      }
      // Batch-id evidence comes from the ENGINE's durable commit log
      // (`<ckpt>/commits/`, one numeric file per committed batch), not
      // `recentProgress` — progress is a ring buffer capped at
      // spark.sql.streaming.numRecentProgressUpdates (100), so a long
      // stage would silently drop early ids and void the replay proof.
      // A stage's ids are the commit-log delta across its run.
      def engineCommits(): Set[Long] = {
        val d = java.nio.file.Paths.get(s"$ckpt/commits")
        if (!java.nio.file.Files.isDirectory(d)) Set.empty
        else graft.ops.listDir(d).map(_.getFileName.toString)
          .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).toSet
      }

      addFiles(0 to 1)
      stage()
      val c1 = engineCommits()
      val b1 = c1.toSeq.sorted
      // FAULT INJECTION: drop the engine's commit record of the last
      // stage-1 batch — the crashed-between-sink-write-and-engine-
      // commit state the exactly-once protocol exists for
      require(b1.nonEmpty, "stage 1 ran no batches")
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(s"$ckpt/commits/${b1.max}"))
      // local-FS detail: ChecksumFs writes a .crc sidecar next to the
      // commit record; a real crash loses both, so drop it too (left
      // behind it would collide with the engine's re-commit rename)
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(s"$ckpt/commits/.${b1.max}.crc"))
      val survivors = c1 - b1.max // commit records still on disk
      addFiles(2 to 3)
      stage() // re-executes batch b1.max, then the new files
      // stage 2's ids = records the ENGINE (re-)wrote this stage:
      // everything now committed minus what survived the injection —
      // includes the re-committed b1.max iff the replay really ran
      val b2 = (engineCommits() -- survivors).toSeq.sorted
      val committed = graft.ops.listDir(commitsDir)
        .map(p => s"$tableDir/batch_${p.getFileName.toString.toLong}").sorted
      val res = ck.ckpt(spark.read.parquet(committed: _*)
        .orderBy("event_id")) // must outlive the temp dir
      (res, replays.get(), b1, b2)
    }
  }

  /** The per-user running aggregate of the two `transformWithState`
    * queries: event count, cents sum and max, and the last event by
    * max (ms, event_id). The max rule makes `add` order-free, so a
    * baseline folded in any order and the stream rows folded on top of
    * it give the one-shot batch aggregate. */
  final case class UserAgg(n: Long, sumCents: Long, maxCents: Long, lastMs: Long, lastId: Long) {
    def add(e: Event): UserAgg = {
      val (c, ms) = (cents(e.value), e.ts.getTime)
      val isLater = ms > lastMs || (ms == lastMs && e.event_id > lastId)
      UserAgg(n + 1L, sumCents + c, math.max(maxCents, c),
        if (isLater) ms else lastMs, if (isLater) e.event_id else lastId)
    }
  }
  private val NoUserAgg = UserAgg(0L, 0L, Long.MinValue, Long.MinValue, 0L)

  final case class TwsOut(
      user_id: Long, n_events: Long, sum_cents: Long, max_cents: Long,
      last_event_id: Long, n_recent: Long)

  /** [[runBoundedTransformState]]'s processor: the Spark 4
    * `StatefulProcessor` API (the arbitrary-state surface superseding
    * `flatMapGroupsWithState`), exercised with its distinguishing
    * feature — MULTIPLE NAMED state variables per key, each its own
    * column family in the store: a `ValueState` carrying the running
    * [[UserAgg]] and a `ListState` ring of the most recent event ids
    * (capped at [[TwsRecentCap]] — a production dedup/replay buffer
    * shape; `ListState.put` rewrites the capped window, so state stays
    * O(1) per key forever). Emits one row per key per batch with the
    * post-batch aggregate — on the bounded single-batch fixture that is
    * exactly the batch GROUP BY the oracle states. */
  private val TwsRecentCap = 3

  private class UserAggProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, TwsOut] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState, ListState}
    import org.apache.spark.sql.Encoders
    @transient private var agg: ValueState[UserAgg] = _
    @transient private var recent: ListState[Long]  = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      agg = getHandle.getValueState[UserAgg](
        "agg", Encoders.product[UserAgg], TTLConfig.NONE)
      recent = getHandle.getListState[Long](
        "recent", Encoders.scalaLong.asInstanceOf[Encoder[Long]], TTLConfig.NONE)
    }
    override def handleInputRows(
        key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[TwsOut] = {
      // the recent-id ring is ordered: per-key (ts, id) total order
      // inside the batch, the in-order contract of [[foldByKey]]
      val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      if (sorted.isEmpty) return Iterator.empty
      val s = sorted.foldLeft(if (agg.exists()) agg.get() else NoUserAgg)(_ add _)
      val ring = sorted.foldLeft(recent.get().toList)((r, e) =>
        (e.event_id :: r).take(TwsRecentCap))
      agg.update(s)
      recent.clear()
      recent.put(ring.toArray)
      Iterator.single(TwsOut(key, s.n, s.sumCents, s.maxCents, s.lastId, ring.length.toLong))
    }
  }

  final case class BootOut(
      user_id: Long, n_events: Long, sum_cents: Long, max_cents: Long, last_event_id: Long)

  /** [[runBoundedStateBootstrap]]'s processor: the INITIAL-STATE
    * variant of the Spark 4 API — `handleInitialState` seeds each
    * key's store from a batch-computed baseline BEFORE the first
    * micro-batch, the warm-start shape a production migration runs
    * when a streaming job takes over from a nightly batch (state is
    * bootstrapped from yesterday's aggregate table, not replayed from
    * the beginning of time). */
  private class BootstrapProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        Long, Event, BootOut, UserAgg] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}
    import org.apache.spark.sql.Encoders
    @transient private var agg: ValueState[UserAgg] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      agg = getHandle.getValueState[UserAgg](
        "agg", Encoders.product[UserAgg], TTLConfig.NONE)
    }
    override def handleInitialState(
        key: Long, initialState: UserAgg, timerValues: TimerValues): Unit =
      agg.update(initialState)
    override def handleInputRows(
        key: Long, rows: Iterator[Event], timerValues: TimerValues): Iterator[BootOut] = {
      if (!rows.hasNext) return Iterator.empty
      // last = max by (ts, id) across BOTH halves: the baseline's last
      // survives unless a stream row genuinely supersedes it
      val s = rows.foldLeft(if (agg.exists()) agg.get() else NoUserAgg)(_ add _)
      agg.update(s)
      Iterator.single(BootOut(key, s.n, s.sumCents, s.maxCents, s.lastId))
    }
  }

  /** State BOOTSTRAP through `transformWithState`'s initial-state
    * surface: the even-id half of the fixture plays "yesterday" —
    * batch-aggregated into a per-user baseline — and the odd-id half
    * streams on top of the seeded store. The composition must equal
    * the one-shot batch aggregate over ALL events, which is exactly
    * what the oracle states — so the hash gate proves the
    * bootstrap+stream path is EXACTLY equivalent to full recompute
    * (the property that makes warm-start migration safe). Users whose
    * events are all in the baseline emit nothing (no input rows), so
    * the oracle restricts to users with at least one odd-id event. */
  def runBoundedStateBootstrap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // "yesterday": batch-side per-user baseline over the even half
    val initial = typedEvents(graft.tables.Tables.events(spark, dir)
        .filter(col("event_id") % 2 === 0))
      .groupByKey(_.user_id)
      .mapGroups((uid, it) => (uid, it.foldLeft(NoUserAgg)(_ add _)))
      .groupByKey(_._1).mapValues(_._2)
    // "today": the odd half arrives as the stream
    val out = typedEvents(graft.tables.Tables.eventsStream(spark, dir)
        .filter(col("event_id") % 2 === 1))
      .groupByKey(_.user_id)
      .transformWithState(new BootstrapProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append(),
        initial)
    runBounded(spark, "stream_state_bootstrap", out.toDF(),
      OutputMode.Append(), Seq("user_id"), confs = Seq(RocksDb)).result
  }

  /** Per-user running aggregate through the NEW `transformWithState`
    * API over the real engine (requires the RocksDB provider, which the
    * run starts with, like [[runBoundedSessionWindowRocks]]). Oracle =
    * the plain batch GROUP BY with a (ts, event_id)-ordered last-event
    * selection. */
  def runBoundedTransformState(spark: SparkSession, dir: String): DataFrame =
    transformStateRun(spark, dir).result

  private[graft] def transformStateRun(spark: SparkSession, dir: String): BoundedRun = {
    import spark.implicits._
    val out = typedEvents(graft.tables.Tables.eventsStream(spark, dir))
      .groupByKey(_.user_id)
      .transformWithState(new UserAggProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
    runBounded(spark, "stream_transform_state", out.toDF(),
      OutputMode.Append(), Seq("user_id"), confs = Seq(RocksDb))
  }
}
