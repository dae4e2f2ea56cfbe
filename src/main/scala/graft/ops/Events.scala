package graft.ops

import graft.functions.TextFunctions.cents
import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream operators, batch form: JSON extraction, tumbling and
  * sliding event-time windows, gap-based sessionization — both the
  * window-function formulation and Spark's native `session_window`.
  * The Structured Streaming formulation of the same windows lives in
  * `graft.streaming.Streams` (same aggregation code paths, so the batch
  * oracle here also validates the streaming logic).
  *
  * Window starts are emitted as epoch millis (integer arithmetic —
  * engine/timezone-proof); money-like `value` sums as exact cents.
  */
object Events {

  /** JSON scalar extraction (`props` is a JSON string column). Parsed
    * ONCE with `from_json`; both output columns project from the single
    * parsed struct. (The earlier `get_json_object` + `from_json` pair ran
    * two parsers per row — 5× the cost of `map_funcs` on the same column.
    * `from_json` is not collapse-cheap, so Catalyst keeps the two-level
    * Project and parses once.) Sorted BEFORE the parse: the global
    * sort's range-boundary sampling pass re-executes the sort's child,
    * so parsing above the sort parses each row once, not twice. */
  def jsonFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select("event_id", "props")
      .orderBy("event_id")
      .withColumn("p", from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType)))))
      .select(
        col("event_id"),
        col("p").getField("k").as("k_path"),
        col("p").getField("k").as("k_struct"))

  /** Spark 4 VARIANT path (`parse_json` → `variant_get`) — the
    * semi-structured columnar type that supersedes string-JSON
    * re-parsing: one parse to the binary Variant encoding, then typed
    * path extraction (nested object, array index, missing-path NULL)
    * without touching the text again. Distinct from [[jsonFuncs]]'
    * schema-ful `from_json`: Variant needs NO declared schema, which
    * is the semi-structured ingestion reality (heterogeneous
    * event payloads). The fixture `props` is a flat `{"k": N}`, so
    * (the pii_redact convention) a deterministic NESTED document is
    * synthesized per event from base columns — identically in the
    * oracle, which extracts the same paths with DuckDB's JSON
    * functions; the hash gate certifies Variant extraction semantics
    * equal classic JSON-path semantics on every row, including the
    * missing-path NULL.
    *
    * Scale shape: per-row parse + extractions, no shuffle but the
    * final sort — scan speed; at 100 TB the variant column would be
    * the stored format and the parse disappears into ingestion. */
  def variantExtract(spark: SparkSession, dir: String): DataFrame = {
    val js = concat(
      lit("{\"p\": "), col("props"),
      lit(", \"u\": {\"id\": "), col("user_id").cast("string"),
      lit(", \"tier\": "), (col("user_id") % 5).cast("string"),
      lit("}, \"tags\": [\""), col("event_type"),
      lit("\", \"x\"], \"m\": "), cents(col("value")).cast("string"),
      lit("}"))
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("props"))
      .orderBy("event_id")
      .withColumn("v", parse_json(js))
      .select(
        col("event_id"),
        variant_get(col("v"), "$.p.k", "bigint").as("k"),
        variant_get(col("v"), "$.u.tier", "bigint").as("tier"),
        variant_get(col("v"), "$.tags[0]", "string").as("tag0"),
        variant_get(col("v"), "$.m", "bigint").as("m_cents"),
        variant_get(col("v"), "$.absent", "bigint").as("missing"))
  }

  private val variantExtractSql: String =
    """WITH synth AS (
      |  SELECT event_id,
      |    '{"p": ' || props || ', "u": {"id": ' || CAST(user_id AS VARCHAR)
      |      || ', "tier": ' || CAST(user_id % 5 AS VARCHAR)
      |      || '}, "tags": ["' || event_type
      |      || '", "x"], "m": ' || CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR)
      |      || '}' AS js
      |  FROM events
      |)
      |SELECT event_id,
      |  CAST(json_extract(js, '$.p.k') AS BIGINT) AS k,
      |  CAST(json_extract(js, '$.u.tier') AS BIGINT) AS tier,
      |  json_extract_string(js, '$.tags[0]') AS tag0,
      |  CAST(json_extract(js, '$.m') AS BIGINT) AS m_cents,
      |  CAST(json_extract(js, '$.absent') AS BIGINT) AS missing
      |FROM synth ORDER BY event_id""".stripMargin

  /** tumbling 1-hour windows via Spark's native window(); start emitted
    * as epoch ms. Partial aggregation applies — scales like any groupBy.
    * Core shared with the streaming twin (`Streams.tumblingAgg`). */
  def eventTumbling(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.tumblingAgg(Tables.events(spark, dir))
      .orderBy("ws_ms", "event_type")

  /** sliding 1-hour windows every 30 minutes (each event lands in two
    * windows — Spark explodes internally, same two starts the oracle
    * derives by integer epoch arithmetic). */
  def eventSliding(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("sum_value_cents"))
      .select(unix_millis(col("w.start")).as("ws_ms"), col("event_type"),
        col("n"), col("sum_value_cents"))
      .orderBy("ws_ms", "event_type")

  /** Gap-based sessionization (30-min inactivity), window-function form:
    * new session when ts - lag(ts) >= gap (matches `session_window`
    * merge semantics: events merge while next < prev_end). One shuffle
    * on user_id; cumulative-sum session ids stay partition-local. */
  /** Per-user TIME-weighted average of the event value (TWAP — the
    * metrics/finance integral ∫v(t)dt / T under last-value-holds
    * semantics): a plain mean over-weights bursts, which is exactly
    * when gauge-style values (queue depth, price, session quality)
    * mislead; TWAP weights each observation by how long it REMAINED
    * the current value. Segment duration = lead(ts) − ts per user;
    * single-event users have zero span and ship NULL (stated, not a
    * fake 0). Weighted sums are exact integer millis×ms products in
    * DECIMAL(38); one floor division at the end.
    *
    * Scale shape: one USER-partitioned ordered window for the lead
    * (bounded per-user state), one partial-aggregated per-user
    * rollup — never a global order. */
  def twap(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ms", "event_id")
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"),
        expr("CAST(round(value * 1000) AS BIGINT)").as("v"))
      .withColumn("dt", lead(col("ms"), 1).over(byUser) - col("ms"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        (max("ms") - min("ms")).as("span_ms"),
        sum(expr("CAST(v AS DECIMAL(38,0)) * dt")).as("wsum"))
      .select(col("user_id"), col("n_events"), col("span_ms"),
        when(col("span_ms") > 0,
          expr("CAST((wsum * 1000) div span_ms AS BIGINT)")).as("twap_micros"))
      .orderBy("user_id")
  }

  private val twapSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, epoch_ms(ts) AS ms,
      |         CAST(round(value * 1000) AS BIGINT) AS v
      |  FROM events
      |), seg AS (
      |  SELECT user_id, ms, v,
      |         lead(ms, 1) OVER (PARTITION BY user_id ORDER BY ms, event_id) - ms AS dt
      |  FROM ev
      |)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(max(ms) - min(ms) AS BIGINT) AS span_ms,
      |       CASE WHEN max(ms) - min(ms) > 0
      |            THEN CAST((sum(CAST(v AS HUGEINT) * dt) * 1000) // (max(ms) - min(ms)) AS BIGINT)
      |       END AS twap_micros
      |FROM seg GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Each event claims a fixed attention window for [[intervalUnion]];
    * 5 minutes, the common engagement-accounting default. */
  private val IntervalMs = 5L * 60 * 1000

  /** Per-user interval UNION — exact engaged time when every event
    * claims a [ts, ts+5 min) window and overlaps must not double-count
    * (the billing/engagement metric [[sessionize]] does not compute:
    * gap-sessionization counts first-to-last SPAN, which overstates a
    * user who fires two events 29 minutes apart; the union counts
    * covered time only). The classic sweep made window-functional:
    * ordered per user, an interval opens an ISLAND when its start
    * clears the running max of prior ends; islands then aggregate to
    * (min start, max end) and the union is Σ island lengths. All
    * integer milliseconds.
    *
    * Scale shape: one USER-partitioned ordered window (per-user
    * bounded state, the sessionize class — never a global order), one
    * (user, island) partial-aggregated groupBy, one per-user rollup. */
  def intervalUnion(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("s", "event_id")
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("s"),
        (unix_millis(col("ts")) + IntervalMs).as("e"))
      .withColumn("prev_max_e",
        max(col("e")).over(byUser.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_max_e").isNull || col("s") > col("prev_max_e"), 1L).otherwise(0L))
      .withColumn("island", sum("new_island").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "island")
      .agg(count(lit(1)).as("n_ev"), min("s").as("is_s"), max("e").as("is_e"))
      .groupBy("user_id")
      .agg(
        sum("n_ev").as("n_events"),
        count(lit(1)).as("n_intervals"),
        sum(col("is_e") - col("is_s")).as("covered_ms"))
      .orderBy("user_id")
  }

  private val intervalUnionSql: String =
    s"""WITH iv AS (
       |  SELECT user_id, event_id, epoch_ms(ts) AS s, epoch_ms(ts) + $IntervalMs AS e
       |  FROM events
       |), flagged AS (
       |  SELECT user_id, event_id, s, e,
       |         CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
       |                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
       |                OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
       |                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |              THEN 1 ELSE 0 END AS new_island
       |  FROM iv
       |), isl AS (
       |  -- cumulative island id must use the SAME (s, event_id) tie
       |  -- order as the flag window: a tied row sorted ahead of its
       |  -- group's flag row would leak across a gap into the previous
       |  -- island, and which row leaks is engine-dependent
       |  SELECT user_id, s, e,
       |         sum(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id
       |                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM flagged
       |), grouped AS (
       |  SELECT user_id, island, CAST(count(*) AS BIGINT) AS n_ev,
       |         min(s) AS is_s, max(e) AS is_e
       |  FROM isl GROUP BY user_id, island
       |)
       |SELECT user_id, CAST(sum(n_ev) AS BIGINT) AS n_events,
       |       CAST(count(*) AS BIGINT) AS n_intervals,
       |       CAST(sum(is_e - is_s) AS BIGINT) AS covered_ms
       |FROM grouped GROUP BY user_id ORDER BY user_id""".stripMargin

  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapMs  = 30L * 60 * 1000
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), cents(col("value")).as("v_cents"))
      .withColumn("prev_ms", lag(unix_millis(col("ts")), 1).over(byUser))
      .withColumn("new_s",
        when(col("prev_ms").isNull || (unix_millis(col("ts")) - col("prev_ms")) >= gapMs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum("new_s").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(
        min(unix_millis(col("ts"))).as("start_ms"),
        max(unix_millis(col("ts"))).as("end_ms"),
        count(lit(1)).as("n_events"),
        sum("v_cents").as("sum_value_cents"))
      .orderBy("user_id", "session_id")
  }

  /** Same sessions through Spark's native session_window (the engine
    * merges adjacent windows; end = last event + gap). The aggregation
    * core is `Streams.sessionWindowAgg` — shared with the streaming
    * twin so batch and stream provably compute the same thing. */
  def sessionWindow(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.sessionWindowAgg(Tables.events(spark, dir))
      .orderBy("user_id", "start_ms")

  /** pivot: event_type counts as columns per user (relational pivot =
    * conditional aggregation; Spark's .pivot() generates exactly that). */
  def pivotCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      // n_-prefixed: "view" is a reserved word in the oracle dialect
      .toDF("user_id", "n_click", "n_error", "n_purchase", "n_signup", "n_view")
      .orderBy("user_id")

  /** map-type functions: parse props into map<string,string>, then key
    * extraction / cardinality / flattening. */
  def mapFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select("event_id", "props")
      .orderBy("event_id")
      .withColumn("m", from_json(col("props"),
        org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.StringType)))
      .select(
        col("event_id"),
        size(col("m")).cast("long").as("n_keys"),
        element_at(map_keys(col("m")), 1).as("first_key"),
        element_at(col("m"), "k").cast("long").as("k_val"))

  /** Oracles shared by each batch/streaming pair below — the pairs
    * exist to assert batch and stream compute the same thing, so the
    * oracle equality is structural, not copy-paste. */
  private val sessionWindowOracleSql =
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts, CAST(round(value * 100) AS BIGINT) AS v_cents,
      |         CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
      |                OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w >= 1800000
      |              THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sessions AS (
      |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged
      |)
      |SELECT user_id, min(epoch_ms(ts)) AS start_ms, max(epoch_ms(ts)) + 1800000 AS end_ms,
      |       count(*) AS n_events, CAST(sum(v_cents) AS BIGINT) AS sum_value_cents
      |FROM sessions GROUP BY user_id, session_id ORDER BY user_id, start_ms""".stripMargin

  /** Oracle for the engine-run `flatMapGroupsWithState` sessionize: the
    * same gap-session derivation as [[sessionWindowOracleSql]] (end =
    * last event + gap; no value sum — `Streams.SessionOut` carries
    * counts only), restricted to the deterministic emittable set — the
    * sessions whose end precedes the FINAL watermark (max event time −
    * the 10-minute delay). `Streams.runBoundedSessionize` applies the
    * identical predicate to the engine output, so both sides filter
    * with one contract (see its doc comment for the emission argument).
    */
  private val streamSessionizeOracleSql =
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts,
      |         CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
      |                OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w >= 1800000
      |              THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sessions AS (
      |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged
      |), sess AS (
      |  SELECT user_id, min(epoch_ms(ts)) AS start_ms,
      |         max(epoch_ms(ts)) + 1800000 AS end_ms, count(*) AS n_events
      |  FROM sessions GROUP BY user_id, session_id
      |)
      |SELECT user_id, start_ms, end_ms, n_events FROM sess
      |WHERE end_ms < (SELECT max(epoch_ms(ts)) - 600000 FROM events)
      |ORDER BY user_id, start_ms""".stripMargin

  /** Oracle for the checkpoint/restart round-trip: the same tumbling
    * aggregation, restricted to the windows the FINAL watermark (max
    * event time − the 10-minute delay) has closed — append mode to a
    * file sink emits exactly those. `StreamingSpec` pins the engine
    * emission predicate (`end <= watermark`) and the no-boundary-tie
    * fixture invariant that keeps <= vs < unobservable here. */
  private val restartOracleSql =
    """WITH agg AS (
      |  SELECT (epoch_ms(ts) // 3600000) * 3600000 AS ws_ms, event_type,
      |         count(*) AS n,
      |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
      |  FROM events GROUP BY ws_ms, event_type
      |)
      |SELECT ws_ms, event_type, n, sum_value_cents FROM agg
      |WHERE ws_ms + 3600000 <= (SELECT max(epoch_ms(ts)) - 600000 FROM events)
      |ORDER BY ws_ms, event_type""".stripMargin

  private val tumblingOracleSql =
    """SELECT (epoch_ms(ts) // 3600000) * 3600000 AS ws_ms, event_type,
      |       count(*) AS n, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
      |FROM events GROUP BY ws_ms, event_type ORDER BY ws_ms, event_type""".stripMargin

  /** Ordered-funnel analysis (view → click within 1 h → purchase within
    * 1 h): per user, the first view, the first click inside the hour
    * after that view, and the first purchase inside the hour after that
    * click — the sequential-pattern staple of product analytics, and a
    * shape the plain joins/windows above don't cover (each stage's
    * filter depends on the previous stage's aggregate; the conversion
    * window makes step attainment data-dependent).
    *
    * Scale shape: three chained per-user min-aggregations, each
    * partial+final on user_id; the stage joins carry one row per user
    * (users ≪ events), so every join input after the first aggregate is
    * user-sized. All outputs exact epoch-ms longs — no float anywhere. */
  def funnelSteps(spark: SparkSession, dir: String): DataFrame = {
    val hourMs = 3600L * 1000
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_millis(col("ts")).as("ms"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ms").as("view_ms"))
    val c = ev.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("ms") >= col("view_ms") && col("ms") <= col("view_ms") + hourMs)
      .groupBy("user_id").agg(min("ms").as("click_ms"))
    val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("ms") >= col("click_ms") && col("ms") <= col("click_ms") + hourMs)
      .groupBy("user_id").agg(min("ms").as("purchase_ms"))
    v.join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .select(col("user_id"), col("view_ms"), col("click_ms"), col("purchase_ms"),
        (lit(1L) + when(col("click_ms").isNotNull, 1L).otherwise(0L)
          + when(col("purchase_ms").isNotNull, 1L).otherwise(0L)).as("funnel_step"))
      .orderBy("user_id")
  }

  /** Daily cohort retention: users grouped by first-activity day,
    * counted on each subsequent day they PURCHASED — the
    * engagement-curve aggregation every analytics stack ships (the
    * purchase restriction and day granularity keep the curve
    * non-degenerate on fixtures where every user has some event every
    * week). Day ids are exact integer divisions of epoch ms (Spark
    * `div` = DuckDB `//`), so every value is an exact long. Shape: one
    * per-user min, one (user, day) dedup, one counting aggregate — all
    * partial+final. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val dayMs = 24L * 3600 * 1000
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_millis(col("ts")).as("ms"))
    val first = ev.groupBy("user_id").agg(min("ms").as("first_ms"))
      .select(col("user_id"), expr(s"first_ms div $dayMs").as("cohort_day"))
    val daily = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), expr(s"ms div $dayMs").as("day")).distinct()
    daily.join(first, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Gaps-and-islands: longest consecutive-day activity streak per user.
    * The island id is the classic `day_number − row_number()` trick —
    * constant within a run of consecutive days. All three stages are
    * per-user (partitioned window, then two partial+final aggregates on
    * keys that start with user_id), so the plan is one shuffle on
    * user_id reused end-to-end; nothing global, all values exact longs. */
  def userStreaks(spark: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("d")
    val runs = days
      .withColumn("grp",
        datediff(col("d"), lit(java.sql.Date.valueOf("2024-01-01"))).cast("long")
          - row_number().over(w))
      .groupBy("user_id", "grp")
      .agg(count(lit(1)).as("run_len"))
    runs.groupBy("user_id")
      .agg(
        max("run_len").as("longest_streak"),
        count(lit(1)).as("n_streaks"),
        sum("run_len").as("n_active_days"))
      .orderBy("user_id")
  }

  /** Last-touch attribution: each purchase is credited to the most
    * recent preceding click by the same user within a 7-day lookback,
    * then attributed revenue is rolled up by click day. The carry is a
    * running `last(..., ignoreNulls)` over a per-user window ordered by
    * (ts, event_id) — a deterministic total order, so ties at the same
    * timestamp resolve identically in both engines. One shuffle on
    * user_id for the window, then a partial+final rollup on day; the
    * as-of-join formulation would shuffle twice. */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lookbackMs = 7L * 86400000L
    Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"), col("value"))
      .withColumn("last_click_ms",
        last(when(col("event_type") === "click", unix_millis(col("ts"))), ignoreNulls = true)
          .over(w))
      .filter(col("event_type") === "purchase" && col("last_click_ms").isNotNull &&
        unix_millis(col("ts")) - col("last_click_ms") <= lookbackMs)
      .groupBy(date_format(timestamp_millis(col("last_click_ms")), "yyyy-MM-dd").as("click_day"))
      .agg(count(lit(1)).as("n_purchases"), sum(cents(col("value"))).as("attributed_cents"))
      .orderBy("click_day")
  }

  /** Trailing 7-day distinct active users per day — the rolling-DAU
    * metric. Sliding distinct-counts can't ride a window frame (distinct
    * isn't algebraic), so the scalable form is contribute-and-count:
    * dedup (user, day) once, explode each to the ≤7 target days it
    * contributes to, count distinct per target day (map-side partial
    * dedup applies). The shuffle carries (day, user_id) longs — 7× the
    * deduped activity table, independent of raw event volume. The
    * BETWEEN-join oracle is the quadratic formulation the explode
    * avoids. */
  def rollingDistinct(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val ud = ck.ckpt(Tables.events(spark, dir)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"))
      .select(col("user_id"), expr("ms div 86400000").as("day"))
      .distinct()) // (user, day) ≪ events; consumed by both the day set and the explode
    val observed = ud.select("day").distinct()
    ud.select(col("user_id"), explode(sequence(col("day"), col("day") + 6)).as("day"))
      .join(broadcast(observed), "day")
      .groupBy("day")
      .agg(countDistinct("user_id").as("n_users_7d"))
      .orderBy("day")
  }

  /** Event-type transition matrix (first-order Markov): consecutive
    * event pairs per user (ordered by the deterministic (ts, event_id)
    * total order), counted globally, with per-source transition
    * probabilities. One per-user window shuffle, then a partial+final
    * count on the ≤|types|² pairs; the probability is one division of
    * exact longs. The behavioral-model staple for session analysis. */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val cnt = ck.ckpt(Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type").as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))) // ≤|types|² rows, consumed twice — don't re-run the window
    val tot = cnt.groupBy("from_type").agg(sum("n").as("tot"))
    cnt.join(broadcast(tot), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("tot").cast("double"), 6).as("p"))
      .orderBy("from_type", "to_type")
  }

  /** [[transitionStationary]] power-iteration depth — the ≤5-state
    * fixture chain contracts fast; 20 sweeps is past fixpoint at micros
    * resolution while keeping the unrolled oracle readable. */
  private val StationaryIters = 20

  /** Stationary distribution of the event-type Markov chain — the
    * long-run behavioral mix π = πP that [[eventTransitions]]'s
    * one-step matrix only implies ("if users keep behaving like this,
    * what fraction of all activity ends up in each state?" — the
    * steady-state a capacity planner or simulator actually consumes).
    * Power iteration from uniform, each sweep quantized to integral
    * micros (πⱼ ← Σᵢ πᵢ·pᵢⱼ div 10⁶ with pᵢⱼ itself exact micros), so
    * every iterate is bit-replayable cross-engine; Σπ drifts a few
    * micros below 10⁶ under flooring — documented, not renormalized.
    *
    * Scale shape: the transition counts are the [[eventTransitions]]
    * distributed pass (user-partitioned lead + partial-agg); the
    * matrix is |types|²-BOUNDED METADATA (≤25 cells here), so the
    * power iteration runs on the driver over collected cells — the
    * k×dim-centroid convention, never a data-sized collect. */
  def transitionStationary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type").as("from_type"))
      .withColumn("to_type",
        lead(col("from_type"), 1).over(
          Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))))
      .filter(col("to_type").isNotNull)
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val types = cells.flatMap(c => Seq(c._1, c._2)).distinct.sorted
    val tot = cells.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val p = cells.map { case (f, t, n) => (f, t) -> n * 1000000L / tot(f) }.toMap
    var pi = types.map(_ -> 1000000L / types.length).toMap
    (1 to StationaryIters).foreach { _ =>
      pi = types.map { j =>
        j -> types.map(i => pi(i) * p.getOrElse((i, j), 0L)).sum / 1000000L
      }.toMap
    }
    types.map(t => (t, tot.getOrElse(t, 0L), pi(t))).toSeq
      .toDF("event_type", "n_out", "pi_micros")
      .orderBy("event_type")
  }

  private lazy val stationarySql: String = {
    val sweeps = (1 to StationaryIters).map { t =>
      s"""pi$t AS (
         |  SELECT p.to_type AS event_type,
         |         CAST(sum(prev.pi * p.pm) // 1000000 AS BIGINT) AS pi
         |  FROM pm p JOIN pi${t - 1} prev ON prev.event_type = p.from_type
         |  GROUP BY p.to_type
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH seq AS (
       |  SELECT event_type AS from_type,
       |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
       |  FROM events
       |), cnt AS MATERIALIZED (
       |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n FROM seq
       |  WHERE to_type IS NOT NULL GROUP BY from_type, to_type
       |), tot AS (
       |  SELECT from_type, CAST(sum(n) AS BIGINT) AS tot FROM cnt GROUP BY from_type
       |), pm AS MATERIALIZED (
       |  SELECT c.from_type, c.to_type, CAST(c.n * 1000000 // t.tot AS BIGINT) AS pm
       |  FROM cnt c JOIN tot t USING (from_type)
       |), types AS (
       |  SELECT DISTINCT from_type AS event_type FROM cnt
       |  UNION SELECT DISTINCT to_type FROM cnt
       |), ntypes AS (SELECT CAST(count(*) AS BIGINT) AS k FROM types),
       |pi0 AS (
       |  SELECT event_type, CAST(1000000 // k AS BIGINT) AS pi FROM types CROSS JOIN ntypes
       |),
       |$sweeps
       |SELECT t.event_type,
       |       CAST(coalesce(o.tot, 0) AS BIGINT) AS n_out,
       |       CAST(coalesce(f.pi, 0) AS BIGINT) AS pi_micros
       |FROM types t
       |LEFT JOIN tot o ON o.from_type = t.event_type
       |LEFT JOIN pi$StationaryIters f ON f.event_type = t.event_type
       |ORDER BY t.event_type""".stripMargin
  }

  private val transitionsSql: String =
    """WITH seq AS (
      |  SELECT event_type AS from_type,
      |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      |  FROM events
      |), cnt AS (
      |  SELECT from_type, to_type, count(*) AS n FROM seq
      |  WHERE to_type IS NOT NULL GROUP BY from_type, to_type
      |), tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot FROM cnt GROUP BY from_type)
      |SELECT c.from_type, c.to_type, CAST(c.n AS BIGINT) AS n,
      |       round(CAST(c.n AS DOUBLE) / CAST(tot.tot AS DOUBLE), 6) AS p
      |FROM cnt c JOIN tot ON c.from_type = tot.from_type
      |ORDER BY c.from_type, c.to_type""".stripMargin

  /** Frequent 3-event SEQUENCES per user — the order-sensitive sibling
    * of the basket miner (frequent_itemsets counts co-presence;
    * sequential pattern mining counts "click THEN view THEN purchase"
    * in that order) and the L3 generalization of [[eventTransitions]]'
    * bigram matrix: consecutive event-type trigrams within each user's
    * timeline, counted corpus-wide, with each trigram's share of all
    * trigrams in exact integral micros; top-20 by support.
    *
    * Scale shape: the trigram extraction is the SAME user-partitioned
    * ordered window the whole events family rides (two `lead`s on one
    * window — one shuffle on user_id, same as sessionize/streaks); the
    * count collapse is ≤|types|³ cells, the total is a broadcast 1-row,
    * and the cut is a TakeOrdered top-20, never a global sort. */
  def frequentSequences(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val tri = ck.ckpt(Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type").as("t1"))
      .withColumn("t2", lead(col("t1"), 1).over(w))
      .withColumn("t3", lead(col("t1"), 2).over(w))
      .filter(col("t3").isNotNull)
      .groupBy("t1", "t2", "t3")
      .agg(count(lit(1)).as("n"))) // ≤|types|³ cells; feeds the total and the cut
    val tot = tri.agg(sum("n").as("tot"))
    tri.crossJoin(broadcast(tot))
      .select(col("t1"), col("t2"), col("t3"), col("n"),
        expr("CAST((CAST(n AS DECIMAL(38,0)) * 1000000) div tot AS BIGINT)")
          .as("supp_micros"))
      .orderBy(desc("n"), col("t1"), col("t2"), col("t3"))
      .limit(20)
  }

  private val frequentSequencesSql: String =
    """WITH seq AS (
      |  SELECT event_type AS t1,
      |         lead(event_type, 1) OVER w AS t2,
      |         lead(event_type, 2) OVER w AS t3
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), tri AS (
      |  SELECT t1, t2, t3, count(*) AS n FROM seq
      |  WHERE t3 IS NOT NULL GROUP BY t1, t2, t3
      |), tot AS (SELECT sum(n) AS tot FROM tri)
      |SELECT t1, t2, t3, CAST(n AS BIGINT) AS n,
      |       CAST((CAST(n AS HUGEINT) * 1000000) // tot AS BIGINT) AS supp_micros
      |FROM tri CROSS JOIN tot
      |ORDER BY n DESC, t1, t2, t3
      |LIMIT 20""".stripMargin

  private val rollingDistinctSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day FROM events
      |), days AS (SELECT DISTINCT day FROM ud)
      |SELECT d.day, count(DISTINCT u.user_id) AS n_users_7d
      |FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
      |GROUP BY d.day ORDER BY d.day""".stripMargin

  private val streaksSql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d FROM events
      |), isl AS (
      |  SELECT user_id, d,
      |         datediff('day', DATE '2024-01-01', d)
      |           - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d) AS BIGINT) AS grp
      |  FROM days
      |), runs AS (
      |  SELECT user_id, grp, count(*) AS run_len FROM isl GROUP BY user_id, grp
      |)
      |SELECT user_id, CAST(max(run_len) AS BIGINT) AS longest_streak,
      |       CAST(count(*) AS BIGINT) AS n_streaks,
      |       CAST(sum(run_len) AS BIGINT) AS n_active_days
      |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin

  private val attributionSql: String =
    """WITH ordered AS (
      |  SELECT user_id, ts, event_id, event_type, value,
      |         last_value(CASE WHEN event_type = 'click' THEN epoch_ms(ts) END IGNORE NULLS)
      |           OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_ms
      |  FROM events WHERE event_type IN ('click','purchase')
      |)
      |SELECT strftime(date_trunc('day', make_timestamp(last_click_ms * 1000)), '%Y-%m-%d') AS click_day,
      |       count(*) AS n_purchases,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS attributed_cents
      |FROM ordered
      |WHERE event_type = 'purchase' AND last_click_ms IS NOT NULL
      |  AND epoch_ms(ts) - last_click_ms <= 7 * 86400000
      |GROUP BY click_day ORDER BY click_day""".stripMargin

  private val funnelSql: String =
    """WITH ev AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
      |v AS (SELECT user_id, min(ms) AS view_ms FROM ev
      |      WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(e.ms) AS click_ms FROM ev e JOIN v ON e.user_id = v.user_id
      |      WHERE e.event_type = 'click' AND e.ms >= v.view_ms
      |        AND e.ms <= v.view_ms + 3600000 GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(e.ms) AS purchase_ms FROM ev e JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase' AND e.ms >= c.click_ms
      |        AND e.ms <= c.click_ms + 3600000 GROUP BY e.user_id)
      |SELECT v.user_id, v.view_ms, c.click_ms, p.purchase_ms,
      |       CAST(1 + (CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END)
      |              + (CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS funnel_step
      |FROM v LEFT JOIN c ON v.user_id = c.user_id LEFT JOIN p ON v.user_id = p.user_id
      |ORDER BY v.user_id""".stripMargin

  private val cohortSql: String =
    """WITH ev AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
      |first AS (SELECT user_id, min(ms) // 86400000 AS cohort_day FROM ev GROUP BY user_id),
      |daily AS (SELECT DISTINCT user_id, ms // 86400000 AS day FROM ev
      |          WHERE event_type = 'purchase')
      |SELECT f.cohort_day, d.day - f.cohort_day AS day_offset, count(*) AS n_users
      |FROM daily d JOIN first f ON d.user_id = f.user_id
      |GROUP BY f.cohort_day, day_offset
      |ORDER BY cohort_day, day_offset""".stripMargin

  private val EwmaWindow = 16

  /** Per-user exponentially-decayed value sum — the time-series smoother
    * behind anomaly baselines and engagement scores. True EWMA carries
    * an irrational-in-binary recursion that can never hash-gate, so the
    * operator computes its exact dyadic sibling: over the last
    * [[EwmaWindow]] events, decayed = Σₖ cents(value₍ₜ₋ₖ₎)·2^(W−1−k) —
    * most-recent weighs 2^15, halving per step, all exact longs (cents
    * ≤ 1e7 × 2^15 × 16 ≪ 2^63).
    *
    * Scale shape: ONE per-user window (partitioned on user_id, ordered
    * by the (ms, event_id) total order) evaluates all 16 lag terms in a
    * single pass — key-partitioned state, no global window, the
    * user_streaks shuffle shape. */
  def ewmaSmooth(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    val decayed = (0 until EwmaWindow).map(k =>
      coalesce(lag(col("c"), k).over(w), lit(0L)) * lit(1L << (EwmaWindow - 1 - k)))
      .reduce(_ + _)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ms"),
        cents(col("value")).as("c"))
      .withColumn("decayed", decayed)
      .select("event_id", "user_id", "ms", "decayed")
      .orderBy("user_id", "ms", "event_id")
  }

  private val ewmaSql: String = {
    val terms = (0 until EwmaWindow).map(k =>
      s"coalesce(lag(c, $k) OVER w, 0) * ${1L << (EwmaWindow - 1 - k)}")
      .mkString(" + ")
    s"""WITH ev AS (
       |  SELECT event_id, user_id, epoch_ms(ts) AS ms,
       |         CAST(round(value * 100) AS BIGINT) AS c
       |  FROM events
       |)
       |SELECT event_id, user_id, ms, CAST($terms AS BIGINT) AS decayed
       |FROM ev
       |WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)
       |ORDER BY user_id, ms, event_id""".stripMargin
  }

  private[graft] val RateCap = 3 // shared with the streaming twin

  /** Per-user daily event cap — the rate limiter an event-ingest
    * curation applies before training on interaction data (a runaway
    * client or bot must not dominate a user-day): keep the first
    * [[RateCap]] events per (user, day) by the (ts, event_id) total
    * order. The window key (user_id, day) is FINE-grained, so each
    * window holds one user-day — tiny state at any scale and no hot
    * partition (contrast `source_cap`, whose coarse hot keys need the
    * bounded-heap/broadcast-threshold shape instead). */
  def rateCap(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "day").orderBy("ms", "event_id")
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        expr("unix_millis(ts) div 86400000").as("day"),
        unix_millis(col("ts")).as("ms"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= RateCap)
      .select("user_id", "day", "rn", "event_id", "ms")
      .orderBy("user_id", "day", "rn")
  }

  private val rateCapSql: String =
    s"""WITH ev AS (
       |  SELECT event_id, user_id, epoch_ms(ts) // 86400000 AS day, epoch_ms(ts) AS ms
       |  FROM events
       |), ranked AS (
       |  SELECT user_id, day, event_id, ms,
       |         CAST(row_number() OVER (PARTITION BY user_id, day
       |                                 ORDER BY ms, event_id) AS BIGINT) AS rn
       |  FROM ev
       |)
       |SELECT user_id, day, rn, event_id, ms FROM ranked
       |WHERE rn <= $RateCap ORDER BY user_id, day, rn""".stripMargin

  /** level quantum for [[changelogCompact]]: cents div 5000 = $50
    * gauge levels, shared with the streaming twin. */
  private[graft] val ChangelogQuantum = 5000L

  /** CDC-style changelog compaction: per user, keep an event only when
    * its $50 value LEVEL differs from the user's previous event — the
    * consecutive-duplicate squash a change-data-capture pipeline runs
    * so a sensor/heartbeat stream stores changes, not readings
    * (complements [[debounceEvents]], which collapses by TIME gap, and
    * dedup, which collapses identical rows globally; raw cents almost
    * never repeat, which would make the squash vacuous — the LEVEL is
    * what a monitoring CDC stores). One lag + one row_number on the
    * family's user-partitioned order; kept rows get their ordinal
    * among kept. */
  def changelogCompact(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ms"),
        expr(s"CAST(round(value * 100) AS BIGINT) div $ChangelogQuantum").as("level"))
      .withColumn("prev", lag(col("level"), 1).over(w))
      .filter(col("prev").isNull || col("level") =!= col("prev"))
    ev.withColumn("rn", row_number().over(w).cast("long"))
      .select("user_id", "rn", "event_id", "ms", "level")
      .orderBy("user_id", "rn")
  }

  private val changelogSql: String =
    s"""WITH ev AS (
       |  SELECT event_id, user_id, epoch_ms(ts) AS ms,
       |         CAST(round(value * 100) AS BIGINT) // $ChangelogQuantum AS level
       |  FROM events
       |), lagged AS (
       |  SELECT user_id, event_id, ms, level,
       |         lag(level) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev
       |  FROM ev
       |), kept AS (
       |  SELECT user_id, event_id, ms, level FROM lagged
       |  WHERE prev IS NULL OR level <> prev
       |)
       |SELECT user_id,
       |       CAST(row_number() OVER (PARTITION BY user_id ORDER BY ms, event_id) AS BIGINT) AS rn,
       |       event_id, ms, level
       |FROM kept ORDER BY user_id, rn""".stripMargin

  private[graft] val DebounceMs = 21600000L // 6 h; shared with the streaming twin

  /** Per-user debounce: keep an event only if ≥ [[DebounceMs]] has
    * passed since the last KEPT event — the burst-collapse an
    * interaction-data curation runs so a retry storm contributes one
    * training signal, not hundreds. The gate depends on which earlier
    * events SURVIVED, so this is a running recursion no window function
    * can express (contrast [[rateCap]]'s rank filter) — the genuine
    * secondary-sort case: repartition by user, sortWithinPartitions
    * (user, ms, event_id), one O(1)-state `mapPartitions` pass whose
    * state (current user, last-kept ms, kept ordinal) resets on user
    * change — the [[graft.ops.Curation.sequencePack]] convention. The
    * shuffle carries three longs per event; at 100 TB the pass streams
    * each user's sorted run once with constant memory. The DuckDB
    * oracle replays the same recursion as a recursive CTE advancing
    * every user one event per step. */
  def debounceEvents(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val parts = spark.sparkContext.defaultParallelism
    Tables.events(spark, dir)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"), col("event_id"))
      .repartition(parts, col("user_id"))
      .sortWithinPartitions("user_id", "ms", "event_id")
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        var user     = Long.MinValue
        var lastKept = Long.MinValue
        var seq      = 0L
        it.flatMap { case (u, ms, eid) =>
          if (u != user) {
            user = u; lastKept = ms; seq = 1L
            Some((u, eid, ms, seq))
          } else if (ms - lastKept >= DebounceMs) {
            lastKept = ms; seq += 1L
            Some((u, eid, ms, seq))
          } else None
        }
      }
      .toDF("user_id", "event_id", "ms", "keep_seq")
      .orderBy("user_id", "keep_seq")
  }

  private val debounceSql: String =
    s"""WITH RECURSIVE ev AS (
       |  SELECT user_id, epoch_ms(ts) AS ms, event_id,
       |         CAST(row_number() OVER (PARTITION BY user_id
       |                                 ORDER BY epoch_ms(ts), event_id) AS BIGINT) AS rn
       |  FROM events
       |), step(user_id, rn, ms, event_id, last_kept, keep_seq, kept) AS (
       |  SELECT user_id, rn, ms, event_id, ms, CAST(1 AS BIGINT), TRUE FROM ev WHERE rn = 1
       |  UNION ALL
       |  SELECT e.user_id, e.rn, e.ms, e.event_id,
       |         CASE WHEN e.ms - s.last_kept >= $DebounceMs THEN e.ms ELSE s.last_kept END,
       |         CASE WHEN e.ms - s.last_kept >= $DebounceMs THEN s.keep_seq + 1 ELSE s.keep_seq END,
       |         e.ms - s.last_kept >= $DebounceMs
       |  FROM step s JOIN ev e ON e.user_id = s.user_id AND e.rn = s.rn + 1
       |)
       |SELECT user_id, event_id, ms, keep_seq FROM step WHERE kept
       |ORDER BY user_id, keep_seq""".stripMargin

  private val GapBuckets = 211 // prime user hash keeps real gaps at every SF

  /** Calendar gap-fill: densify each (event_type, user-bucket) daily
    * series to its full min..max day range, zero-filling event counts
    * and carrying the last observed daily value total forward (LOCF) —
    * the regularization step before any rolling-window or trend
    * operator that assumes an unbroken time axis ([[anomalyMad]],
    * [[volumeTrend]]).
    *
    * Scale shape: the spine is `explode(sequence(min_day, max_day))`
    * per group — row growth bounded by groups × CALENDAR SPAN, not by
    * event count — and the LOCF window is partitioned by the same fine
    * (type, bucket) key, so per-window state is one span of days. Each
    * group's range starts at its own first observed day, so LOCF never
    * sees a leading null. */
  def calendarGapFill(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(col("event_type"), expr(s"user_id % $GapBuckets").as("bucket"),
        expr("unix_millis(ts) div 86400000").as("day"), cents(col("value")).as("c"))
      .groupBy("event_type", "bucket", "day")
      .agg(count(lit(1)).as("cnt"), sum("c").as("daycents"))
    val spine = daily.groupBy("event_type", "bucket")
      .agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("event_type"), col("bucket"),
        explode(expr("sequence(d0, d1)")).as("day"))
    val w = Window.partitionBy("event_type", "bucket").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, 0)
    spine.join(daily, Seq("event_type", "bucket", "day"), "left")
      .withColumn("filled_cents", last(col("daycents"), ignoreNulls = true).over(w))
      .select(col("event_type"), col("bucket"), col("day"),
        coalesce(col("cnt"), lit(0L)).as("n_events"),
        coalesce(col("daycents"), lit(0L)).as("day_cents"),
        col("filled_cents"))
      .orderBy("event_type", "bucket", "day")
  }

  private val gapFillSql: String =
    s"""WITH daily AS (
       |  SELECT event_type, user_id % $GapBuckets AS bucket,
       |         epoch_ms(ts) // 86400000 AS day,
       |         CAST(count(*) AS BIGINT) AS cnt,
       |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS daycents
       |  FROM events GROUP BY 1, 2, 3
       |), spine AS (
       |  SELECT event_type, bucket, unnest(generate_series(min(day), max(day))) AS day
       |  FROM daily GROUP BY event_type, bucket
       |)
       |SELECT s.event_type, s.bucket, s.day,
       |       CAST(coalesce(d.cnt, 0) AS BIGINT) AS n_events,
       |       CAST(coalesce(d.daycents, 0) AS BIGINT) AS day_cents,
       |       CAST(last_value(d.daycents IGNORE NULLS) OVER (
       |         PARTITION BY s.event_type, s.bucket ORDER BY s.day
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS filled_cents
       |FROM spine s LEFT JOIN daily d
       |  ON d.event_type = s.event_type AND d.bucket = s.bucket AND d.day = s.day
       |ORDER BY s.event_type, s.bucket, s.day""".stripMargin

  val entries: Seq[QueryDef] = Seq(
    QueryDef.sql("calendar_gap_fill", gapFillSql)(calendarGapFill),
    QueryDef.sql("debounce_events", debounceSql)(debounceEvents),
    // stateful streaming twin, same oracle (the stream_ewma convention)
    QueryDef.sql("stream_debounce", debounceSql)(
      (s, d) => graft.streaming.Streams.runBoundedDebounce(s, d)),
    QueryDef.sql("ewma_smooth", ewmaSql)(ewmaSmooth),
    QueryDef.sql("rate_cap", rateCapSql)(rateCap),
    QueryDef.sql("changelog_compact", changelogSql)(changelogCompact),
    // stateful streaming twin, same oracle (the stream_ewma convention)
    QueryDef.sql("stream_changelog", changelogSql)(
      (s, d) => graft.streaming.Streams.runBoundedChangelog(s, d)),
    // stateful streaming twin, same oracle (the stream_ewma convention)
    QueryDef.sql("stream_rate_cap", rateCapSql)(
      (s, d) => graft.streaming.Streams.runBoundedRateCap(s, d)),
    // bounded-heap top-k in the state store; the window row_number SQL
    // is the oracle (same ordering contract as group_topk_agg)
    QueryDef.sql("stream_topk",
      """SELECT event_type, rn, event_id, cents FROM (
        |  SELECT event_type, event_id,
        |         CAST(round(value * 100) AS BIGINT) AS cents,
        |         CAST(row_number() OVER (PARTITION BY event_type
        |           ORDER BY CAST(round(value * 100) AS BIGINT) DESC, event_id) AS BIGINT) AS rn
        |  FROM events) t
        |WHERE rn <= 3 ORDER BY event_type, rn""".stripMargin)(
      (s, d) => graft.streaming.Streams.runBoundedTopk(s, d)),
    // the stateful streaming twin shares the batch oracle: the bounded
    // run must reproduce the lag-chain result row-for-row
    QueryDef.sql("stream_ewma", ewmaSql)(
      (s, d) => graft.streaming.Streams.runBoundedEwma(s, d)),
    QueryDef.sql("funnel_steps", funnelSql)(funnelSteps),
    QueryDef.sql("cohort_retention", cohortSql)(cohortRetention),
    QueryDef.sql("user_streaks", streaksSql)(userStreaks),
    QueryDef.sql("attribution", attributionSql)(attribution),
    QueryDef.sql("rolling_distinct", rollingDistinctSql)(rollingDistinct),
    QueryDef.sql("event_transitions", transitionsSql)(eventTransitions),
    QueryDef.sql("frequent_sequences", frequentSequencesSql)(frequentSequences),
    QueryDef.sql("map_funcs",
      """SELECT event_id,
        |       CAST(len(json_keys(props)) AS BIGINT) AS n_keys,
        |       json_keys(props)[1] AS first_key,
        |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
        |FROM events ORDER BY event_id""".stripMargin)(mapFuncs),
    QueryDef.sql("pivot_counts",
      """SELECT user_id,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)(pivotCounts),
    QueryDef.sql("json_funcs",
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_path,
        |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_struct
        |FROM events ORDER BY event_id""".stripMargin)(jsonFuncs),
    QueryDef.sql("variant_extract", variantExtractSql)(variantExtract),
    // the Spark 4 StatefulProcessor (transformWithState) surface over
    // the real engine + RocksDB store; single-batch bounded run ≡ the
    // batch GROUP BY with (ts, event_id)-ordered last-event selection
    QueryDef.sql("stream_transform_state",
      """WITH ev AS (
        |  SELECT event_id, ts, user_id, CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events
        |), lastp AS (
        |  SELECT user_id, event_id AS last_event_id FROM (
        |    SELECT user_id, event_id,
        |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM ev) t WHERE rn = 1
        |), agg AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents, CAST(max(cents) AS BIGINT) AS max_cents
        |  FROM ev GROUP BY user_id
        |)
        |SELECT a.user_id, a.n_events, a.sum_cents, a.max_cents, l.last_event_id,
        |  CAST(least(3, a.n_events) AS BIGINT) AS n_recent
        |FROM agg a JOIN lastp l USING (user_id) ORDER BY user_id""".stripMargin)(
      (s, d) => graft.streaming.Streams.runBoundedTransformState(s, d)),
    // initial-state bootstrap: batch baseline (even ids) + stream (odd
    // ids) must compose to EXACTLY the one-shot aggregate over all
    // events — the oracle states the whole, restricted to users that
    // actually streamed a row (no-input keys emit nothing)
    QueryDef.sql("stream_state_bootstrap",
      """WITH ev AS (
        |  SELECT event_id, ts, user_id, CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events
        |), streamed AS (
        |  SELECT DISTINCT user_id FROM ev WHERE event_id % 2 = 1
        |), lastp AS (
        |  SELECT user_id, event_id AS last_event_id FROM (
        |    SELECT user_id, event_id,
        |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM ev) t WHERE rn = 1
        |), agg AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents, CAST(max(cents) AS BIGINT) AS max_cents
        |  FROM ev GROUP BY user_id
        |)
        |SELECT a.user_id, a.n_events, a.sum_cents, a.max_cents, l.last_event_id
        |FROM agg a JOIN lastp l USING (user_id) JOIN streamed s USING (user_id)
        |ORDER BY a.user_id""".stripMargin)(
      (s, d) => graft.streaming.Streams.runBoundedStateBootstrap(s, d)),
    // foreachBatch merge-upsert: four maxFilesPerTrigger=1 micro-batch
    // merges must compose to the one-shot per-user latest row
    QueryDef.sql("stream_foreach_merge",
      """SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) AS last_ms,
        |       event_id AS last_event_id,
        |       CAST(round(value * 100) AS BIGINT) AS last_value_cents
        |FROM (
        |  SELECT user_id, ts, event_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin)(
      (s, d) => graft.streaming.Streams.runBoundedForeachMerge(s, d)),
    // exactly-once idempotent sink: write-audit-publish foreachBatch
    // under a REAL engine replay (the last stage-1 engine commit is
    // deleted, so the restarted query re-delivers that batch with the
    // same id) — the committed table must still be exactly the source
    // rows; a non-idempotent append sink would duplicate the replayed
    // batch and fail this hash
    QueryDef.sql("stream_idempotent_sink",
      """SELECT event_id, CAST(epoch_ms(ts) AS BIGINT) AS ms, user_id,
        |       CAST(round(value * 100) AS BIGINT) AS cents
        |FROM events ORDER BY event_id""".stripMargin)(
      (s, d) => graft.streaming.Streams.runBoundedIdempotentSink(s, d)),
    QueryDef.sql("stream_tumbling", tumblingOracleSql)(
      (s, d) => graft.streaming.Streams.runBoundedTumbling(s, d)),
    // three-micro-batch late-data run (on-time minus carrier, carrier,
    // late): the oracle states the engine's TWO-watermark drop rule
    // exactly — batch 1 = on-time-minus-carrier final counts; batch 2
    // re-emits the carrier's window; batch 3 re-emits only windows
    // that ACCEPTED late rows under the armed late-events watermark
    // W = floor-ms(max on-time ts) − 600s (accept iff ws + 1h > W)
    QueryDef.sql("stream_late_drops",
      """WITH ev AS (
        |  SELECT event_id, ts, event_type,
        |         CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events
        |), ont AS (SELECT * FROM ev WHERE event_id % 5 != 0
        |), late AS (SELECT * FROM ev WHERE event_id % 5 = 0
        |), car AS (SELECT * FROM ont ORDER BY ts DESC, event_id DESC LIMIT 1
        |), a AS (SELECT * FROM ont WHERE event_id NOT IN (SELECT event_id FROM car)
        |), wm AS (SELECT epoch_us(max(ts)) // 1000 - 600000 AS w FROM ont
        |), wa AS (
        |  SELECT (epoch_ms(ts) // 3600000) * 3600000 AS ws_ms, event_type,
        |         CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS sv
        |  FROM a GROUP BY 1, 2
        |), b1 AS (
        |  SELECT c.ws_ms, c.event_type,
        |         coalesce(wa.n, 0) + 1 AS n, coalesce(wa.sv, 0) + c.cents AS sv
        |  FROM (SELECT (epoch_ms(ts) // 3600000) * 3600000 AS ws_ms, event_type, cents
        |        FROM car) c
        |  LEFT JOIN wa ON c.ws_ms = wa.ws_ms AND c.event_type = wa.event_type
        |), onw AS (
        |  SELECT (epoch_ms(ts) // 3600000) * 3600000 AS ws_ms, event_type,
        |         CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS sv
        |  FROM ont GROUP BY 1, 2
        |), acc AS (
        |  SELECT (epoch_ms(late.ts) // 3600000) * 3600000 AS ws_ms, late.event_type,
        |         CAST(count(*) AS BIGINT) AS n, CAST(sum(late.cents) AS BIGINT) AS sv
        |  FROM late CROSS JOIN wm
        |  WHERE (epoch_ms(late.ts) // 3600000) * 3600000 + 3600000 > wm.w
        |  GROUP BY 1, 2
        |), b2 AS (
        |  SELECT acc.ws_ms, acc.event_type,
        |         acc.n + coalesce(onw.n, 0) AS n, acc.sv + coalesce(onw.sv, 0) AS sv
        |  FROM acc LEFT JOIN onw ON acc.ws_ms = onw.ws_ms AND acc.event_type = onw.event_type
        |)
        |SELECT ws_ms, event_type, n, sv AS sum_value_cents FROM wa
        |UNION ALL SELECT ws_ms, event_type, n, sv FROM b1
        |UNION ALL SELECT ws_ms, event_type, n, sv FROM b2
        |ORDER BY ws_ms, event_type, n""".stripMargin)(
      (s, d) => graft.streaming.Streams.runBoundedLateDrops(s, d)),
    QueryDef.sql("stream_enrich",
      """SELECT e.event_id, e.user_id, c.c_mktsegment AS segment
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY e.event_id""".stripMargin)(
      (s, d) => graft.streaming.Streams.runBoundedEnrich(s, d)),
    QueryDef.sql("stream_dedup",
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin)(
      (s, d) => graft.streaming.Streams.runBoundedDedup(s, d)),
    QueryDef.sql("event_tumbling", tumblingOracleSql)(eventTumbling),
    QueryDef.sql("event_sliding",
      """SELECT ws_ms, event_type, count(*) AS n,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
        |FROM (
        |  SELECT (epoch_ms(ts) // 1800000) * 1800000 AS ws_ms, event_type, value FROM events
        |  UNION ALL
        |  SELECT (epoch_ms(ts) // 1800000) * 1800000 - 1800000 AS ws_ms, event_type, value FROM events
        |) t GROUP BY ws_ms, event_type ORDER BY ws_ms, event_type""".stripMargin)(eventSliding),
    QueryDef.sql("interval_union", intervalUnionSql)(intervalUnion),
    QueryDef.sql("twap", twapSql)(twap),
    QueryDef.sql("transition_stationary", stationarySql)(transitionStationary),
    QueryDef.sql("sessionize",
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts, CAST(round(value * 100) AS BIGINT) AS v_cents,
        |         CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
        |                OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w >= 1800000
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sessions AS (
        |  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged
        |)
        |SELECT user_id, session_id, min(epoch_ms(ts)) AS start_ms, max(epoch_ms(ts)) AS end_ms,
        |       count(*) AS n_events, CAST(sum(v_cents) AS BIGINT) AS sum_value_cents
        |FROM sessions GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin)(
      sessionize),
    QueryDef.sql("event_session_window", sessionWindowOracleSql)(sessionWindow),
    QueryDef.sql("stream_session_window", sessionWindowOracleSql)(
      (s, d) => graft.streaming.Streams.runBoundedSessionWindow(s, d)),
    // identical aggregation + oracle under the RocksDB state store —
    // the provider a large-state production run uses (see
    // Streams.runBoundedSessionWindowRocks)
    QueryDef.sql("stream_session_rocksdb", sessionWindowOracleSql)(
      (s, d) => graft.streaming.Streams.runBoundedSessionWindowRocks(s, d)),
    // the stream-stream interval join through the real engine; the
    // oracle is the batch BETWEEN self-join (eager inner-join emission
    // makes the bounded append output the complete match set — see
    // Streams.runBoundedIntervalJoin)
    QueryDef.sql("stream_interval_join",
      """SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
        |       epoch_ms(p.ts) AS purchase_ms, epoch_ms(c.ts) AS click_ms
        |FROM events p JOIN events c
        |  ON p.user_id = c.user_id
        | AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND c.ts BETWEEN p.ts - INTERVAL 15 MINUTE AND p.ts
        |ORDER BY purchase_id, click_id""".stripMargin)(
      (s, d) => graft.streaming.Streams.runBoundedIntervalJoin(s, d)),
    // left-outer stream-stream interval join: matches = the batch inner
    // set; null-extended rows = unmatched clicks whose match window is
    // a safety margin behind the final global watermark — the SAME
    // predicate both engines apply (see Streams.clickConversion)
    QueryDef.sql("stream_left_join",
      """WITH wm AS (
        |  SELECT least(
        |    max(CASE WHEN event_type = 'click' THEN epoch_ms(ts) END),
        |    max(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END)
        |  ) - 600000 AS wm_ms FROM events
        |)
        |SELECT c.user_id, c.event_id AS click_id, epoch_ms(c.ts) AS click_ms,
        |       p.event_id AS purchase_id, epoch_ms(p.ts) AS purchase_ms
        |FROM events c
        |LEFT JOIN events p
        |  ON c.user_id = p.user_id AND p.event_type = 'purchase'
        | AND p.ts BETWEEN c.ts AND c.ts + INTERVAL 15 MINUTE
        |CROSS JOIN wm
        |WHERE c.event_type = 'click'
        |  AND (p.event_id IS NOT NULL OR epoch_ms(c.ts) + 900000 < wm.wm_ms - 1000)
        |ORDER BY click_id, purchase_id""".stripMargin)(
      (s, d) => graft.streaming.Streams.runBoundedLeftJoin(s, d)),
    QueryDef.sql("stream_sessionize", streamSessionizeOracleSql)(
      (s, d) => graft.streaming.Streams.runBoundedSessionize(s, d)),
    QueryDef.sql("stream_restart", restartOracleSql)(
      (s, d) => graft.streaming.Streams.runRestartTumbling(s, d)),
  )
}
