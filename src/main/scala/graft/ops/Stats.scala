package graft.ops

import graft.tables.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution statistics for corpus/pipeline diagnostics, all emitted
  * in exact integer arithmetic so the DuckDB hash gate cannot flip on
  * float rounding (PERF.md lesson: order-dependent double sums and
  * cross-engine log quantization are not hash-gateable; integer order
  * statistics and exact integral division are):
  *
  *   - `ks_test`        two-sample Kolmogorov–Smirnov D as an exact
  *                      integer max over a distributed prefix-sum scan
  *   - `robust_outliers` per-group median/MAD outlier counts on doubled
  *                      integer cents (no interpolation ambiguity)
  *   - `key_skew_profile` power-of-two histogram of group sizes — the
  *                      skew diagnostic run before choosing a salting or
  *                      AQE strategy on a new key
  *
  * Scale posture: everything aggregates to reduced forms before any
  * shuffle — (value, count) cells for KS and the medians, (key, count)
  * sizes for the skew profile. No global-order window is ever applied
  * to raw rows: the KS prefix sum runs per-range-partition with
  * driver-broadcast partition offsets (the `tileByRange` pattern that
  * de-scale-killed `zorder_layout`), so the widest sequential state is
  * one partition of *distinct* values, never the event table.
  */
object Stats {

  private def cents(c: Column): Column = graft.functions.TextFunctions.cents(c)

  /** partitions for the KS range-partitioned prefix scan (32 matches
    * the session shuffle parallelism; correctness is offset-exact for
    * any value). */
  private val ScanPartitions = 32

  /** Pooled two-sample ECDF scan shared by `ks_test` and
    * `mann_whitney`: click/purchase values reduced to (v, na, nb)
    * cells — per-DISTINCT-value state — then cumulated with
    * per-range-partition window sums plus driver-computed partition
    * offsets (RangePartitioner assigns ascending key ranges to
    * ascending partition ids, so a partition's offset is the sum of
    * earlier partitions' totals). Returns the cells with inclusive
    * cumulative counts `ca`/`cb` and the two sample sizes. */
  private def pooledCum(spark: SparkSession, dir: String): (DataFrame, Long, Long) = {
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(cents(col("value")).as("v"), (col("event_type") === "click").as("isa"))
    val cells = ev.groupBy("v").agg(
      sum(when(col("isa"), 1L).otherwise(0L)).as("na"),
      sum(when(!col("isa"), 1L).otherwise(0L)).as("nb"))
    cumulateCells(cells)
  }

  /** The distributed two-sample cumulation behind [[pooledCum]], over
    * ANY (v, na, nb) cell table — also feeds [[rocAuc]], whose cells
    * come from per-doc scores instead of event values. */
  private def cumulateCells(cells: DataFrame): (DataFrame, Long, Long) = Checkpoints.scope { ck =>
    val parted = ck.ckpt(cells
      .repartitionByRange(ScanPartitions, col("v"))
      .sortWithinPartitions("v")
      .withColumn("pid", spark_partition_id())) // pin partition ids before they are used twice
    val ptots = parted.groupBy("pid")
      .agg(sum("na").as("ta"), sum("nb").as("tb"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val n = ptots.map(_._2).sum // total click rows
    val m = ptots.map(_._3).sum // total purchase rows
    var (accA, accB) = (0L, 0L)
    val offA = ptots.map { case (p, a, _) => val o = p -> accA; accA += a; o }.toMap
    val offB = ptots.map { case (p, _, b) => val o = p -> accB; accB += b; o }.toMap
    val w = Window.partitionBy("pid").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = parted
      .withColumn("ca", element_at(typedLit(offA), col("pid")) + sum("na").over(w))
      .withColumn("cb", element_at(typedLit(offB), col("pid")) + sum("nb").over(w))
    (cum, n, m)
  }

  /** Loud BIGINT-width guard for a DECIMAL(38,0) statistic: in non-ANSI
    * mode a plain `.cast("long")` past Long range returns NULL silently
    * — while the DuckDB oracle's CAST(HUGEINT AS BIGINT) raises. Raise
    * on both engines instead: the n·m < 2⁶³ output-width bound of
    * ks_test/mann_whitney is a documented contract, and breaching it
    * must fail the job, not null the statistic. */
  private[graft] def toLongChecked(c: Column, what: String): Column =
    when(abs(c) > lit(Long.MaxValue).cast("decimal(38,0)"),
      raise_error(concat(lit(s"$what exceeds BIGINT output width: "), c.cast("string"))))
      .otherwise(c).cast("long")

  /** Two-sample KS over `value` (integer cents) between the `click` and
    * `purchase` event streams, on the [[pooledCum]] scan. D is reported
    * as the exact integer numerator max|ca·m − cb·n| over denominator
    * n·m, plus its integral-micros form — both bit-stable across
    * engines. */
  def ksTest(spark: SparkSession, dir: String): DataFrame = {
    val (cum, n, m) = pooledCum(spark, dir)
    // the cumulation products ca·m / cb·n run in DECIMAL(38,0) (2^63² ≈
    // 8.5e37 < 1e38, so two full-long factors still fit) — no Long wrap at
    // any n·m. The d_num OUTPUT column stays BIGINT, which bounds the
    // reportable numerator at n·m < 2^63 (~3e9 rows/sample): an output-
    // width bound, not an arithmetic one (d_micros is always < 1e6).
    cum
      .agg(max(abs(col("ca").cast("decimal(38,0)") * m -
        col("cb").cast("decimal(38,0)") * n)).as("d_num_dec"))
      .select(
        lit(n).as("n_a"), lit(m).as("n_b"),
        // output-width bound n·m < 2^63 enforced loudly (oracle's
        // HUGEINT→BIGINT cast raises too — same failure mode)
        toLongChecked(col("d_num_dec"), "ks_test d_num").as("d_num"),
        // decimal-exact integral division: immune to long overflow at scale
        expr(s"CAST((d_num_dec * 1000000) div (CAST($n AS DECIMAL(38,0)) * $m) AS BIGINT)")
          .as("d_micros"))
  }

  private val ksTestSql: String =
    """WITH ev AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS v,
      |         event_type = 'click' AS isa
      |  FROM events WHERE event_type IN ('click', 'purchase')
      |), cells AS (
      |  SELECT v, sum(CASE WHEN isa THEN 1 ELSE 0 END) AS na,
      |            sum(CASE WHEN isa THEN 0 ELSE 1 END) AS nb
      |  FROM ev GROUP BY v
      |), cum AS (
      |  SELECT sum(na) OVER (ORDER BY v) AS ca,
      |         sum(nb) OVER (ORDER BY v) AS cb
      |  FROM cells
      |), tot AS (
      |  SELECT sum(na) AS n, sum(nb) AS m FROM cells
      |)
      |SELECT CAST(n AS BIGINT) AS n_a, CAST(m AS BIGINT) AS n_b,
      |       CAST(max(abs(ca * m - cb * n)) AS BIGINT) AS d_num,
      |       CAST((CAST(max(abs(ca * m - cb * n)) AS HUGEINT) * 1000000)
      |            // (CAST(n AS HUGEINT) * m) AS BIGINT) AS d_micros
      |FROM cum CROSS JOIN tot GROUP BY n, m""".stripMargin

  /** Mann–Whitney U rank-sum test on the same click-vs-purchase pooled
    * scan — the standard nonparametric significance test on non-normal
    * metric distributions. U statistics are carried DOUBLED so the
    * half-credit for ties stays integral: per value cell,
    * 2·U_a += na·(2·cb_below + nb) = na·(2·cb − nb) with `cb` the
    * inclusive purchase cumulation — no float ever enters. The
    * common-language effect size U_a/(n·m) is emitted in decimal-exact
    * integral micros; the identity U_a + U_b = n·m is pinned in
    * `StatsSpec`. */
  def mannWhitney(spark: SparkSession, dir: String): DataFrame = {
    val (cum, n, m) = pooledCum(spark, dir)
    // per-cell products and the global sum run in DECIMAL(38,0) so 2·U
    // never wraps a Long at scale (same posture as ksTest); 2·n·m is built
    // as BigDecimal on the driver for the same reason. The u2_* OUTPUT
    // columns stay BIGINT — an output-width bound (n·m < 2^63), not an
    // arithmetic one (cles_micros is always ≤ 1e6) — enforced loudly by
    // toLongChecked, matching the oracle's raising HUGEINT→BIGINT cast.
    val nm2 = BigDecimal(n) * BigDecimal(m) * 2
    cum
      .agg(sum(col("na").cast("decimal(38,0)") *
        (lit(2L) * col("cb").cast("decimal(38,0)") - col("nb"))).as("u2_a_dec"))
      .select(
        lit(n).as("n_a"), lit(m).as("n_b"),
        toLongChecked(col("u2_a_dec"), "mann_whitney u2_a").as("u2_a"),
        toLongChecked(lit(nm2) - col("u2_a_dec"), "mann_whitney u2_b").as("u2_b"),
        expr(s"CAST((u2_a_dec * 1000000) div (CAST($n AS DECIMAL(38,0)) * 2 * $m) AS BIGINT)")
          .as("cles_micros"))
  }

  private val mannWhitneySql: String =
    """WITH ev AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS v,
      |         event_type = 'click' AS isa
      |  FROM events WHERE event_type IN ('click', 'purchase')
      |), cells AS (
      |  SELECT v, sum(CASE WHEN isa THEN 1 ELSE 0 END) AS na,
      |            sum(CASE WHEN isa THEN 0 ELSE 1 END) AS nb
      |  FROM ev GROUP BY v
      |), cum AS (
      |  SELECT na, nb, sum(nb) OVER (ORDER BY v) AS cb FROM cells
      |), tot AS (
      |  SELECT sum(na) AS n, sum(nb) AS m FROM cells
      |)
      |SELECT CAST(n AS BIGINT) AS n_a, CAST(m AS BIGINT) AS n_b,
      |       CAST(sum(na * (2 * cb - nb)) AS BIGINT) AS u2_a,
      |       CAST(2 * n * m - sum(na * (2 * cb - nb)) AS BIGINT) AS u2_b,
      |       CAST((CAST(sum(na * (2 * cb - nb)) AS HUGEINT) * 1000000)
      |            // (CAST(2 * n AS HUGEINT) * m) AS BIGINT) AS cles_micros
      |FROM cum CROSS JOIN tot GROUP BY n, m""".stripMargin

  /** Per-event-type robust (median/MAD) outlier counts. All order
    * statistics are carried DOUBLED (med2 = lo+hi, mad4 = 2·median of
    * |2v − med2|) so the n-even interpolation midpoint is an exact
    * integer on both engines, and the outlier test |v − med| > 3·MAD
    * becomes the pure-integer 2·d2 > 3·mad4. Medians are computed from
    * (type, v, freq) cells via weighted exact percentile — per-distinct-
    * value aggregation state (the `equidepth_histogram` shape), not a
    * per-row sort. */
  def robustOutliers(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val cells = ck.ckpt(Tables.events(spark, dir)
      .select(col("event_type").as("t"), cents(col("value")).as("v"))
      .groupBy("t", "v").agg(count(lit(1)).as("f"))) // feeds the median pass and the deviation pass
    val med = cells.groupBy("t")
      .agg((expr("percentile(v, 0.5D, f)") * 2).cast("long").as("med2"))
    // feeds the MAD pass and the outlier count
    val dev = ck.ckpt(cells.join(broadcast(med), "t")
      .withColumn("d2", abs(lit(2L) * col("v") - col("med2"))))
    val mad = dev.groupBy("t")
      .agg((expr("percentile(d2, 0.5D, f)") * 2).cast("long").as("mad4"))
    dev.join(broadcast(mad), "t")
      .groupBy(col("t").as("event_type"), col("med2"), col("mad4"))
      .agg(
        sum("f").as("n"),
        sum(when(lit(2L) * col("d2") > lit(3L) * col("mad4"), col("f")).otherwise(0L))
          .as("n_outliers"))
      .select("event_type", "n", "med2", "mad4", "n_outliers")
      .orderBy("event_type")
  }

  private val robustOutliersSql: String =
    """WITH ev AS (
      |  SELECT event_type AS t, CAST(round(value * 100) AS BIGINT) AS v FROM events
      |), med AS (
      |  SELECT t, CAST(quantile_cont(v, 0.5) * 2 AS BIGINT) AS med2 FROM ev GROUP BY t
      |), dev AS (
      |  SELECT ev.t, med.med2, abs(2 * v - med2) AS d2 FROM ev JOIN med ON ev.t = med.t
      |), mad AS (
      |  SELECT t, CAST(quantile_cont(d2, 0.5) * 2 AS BIGINT) AS mad4 FROM dev GROUP BY t
      |)
      |SELECT dev.t AS event_type, CAST(count(*) AS BIGINT) AS n, dev.med2, mad.mad4,
      |       CAST(sum(CASE WHEN 2 * d2 > 3 * mad4 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM dev JOIN mad ON dev.t = mad.t
      |GROUP BY dev.t, dev.med2, mad.mad4
      |ORDER BY event_type""".stripMargin

  /** Per-group discrete quantiles (documents' n_chars by source):
    * p_k = the value at rank ⌈k·n/100⌉ — a type-1 order statistic, so
    * the answer is always an actual data value and both engines agree
    * bit-for-bit (interpolated quantiles at non-dyadic fractions like
    * 0.99 are last-ULP unstable cross-engine; ranks are integers).
    * Selection runs on (source, value, freq) cells — per-DISTINCT-value
    * state — with a GROUP-partitioned cumulative window (parallel
    * across groups, never a global sort): the quantile is the smallest
    * value whose cumulative count reaches the target rank, one
    * conditional-min aggregate per percentile. */
  def groupQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(spark, dir)
      .groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("f"))
    val w = Window.partitionBy("source").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = cells.withColumn("c", sum("f").over(w))
    val n = cells.groupBy("source").agg(sum("f").as("n"))
    def at(k: Int) = // ceil(k·n/100) as exact integer arithmetic
      min(when(col("c") >= expr(s"($k * n + 99) div 100"), col("v")))
    cum.join(broadcast(n), "source")
      .groupBy(col("source"), col("n").as("n_docs"))
      .agg(
        at(50).as("p50"), at(90).as("p90"), at(99).as("p99"),
        max("v").as("max_chars"))
      .select("source", "n_docs", "p50", "p90", "p99", "max_chars")
      .orderBy("source")
  }

  private val groupQuantilesSql: String =
    """WITH cells AS (
      |  SELECT source, n_chars AS v, count(*) AS f FROM documents GROUP BY 1, 2
      |), cum AS (
      |  SELECT source, v, f, sum(f) OVER (PARTITION BY source ORDER BY v) AS c FROM cells
      |), n AS (
      |  SELECT source, sum(f) AS n FROM cells GROUP BY source
      |)
      |SELECT cum.source, CAST(n.n AS BIGINT) AS n_docs,
      |       CAST(min(CASE WHEN c >= (50 * n.n + 99) // 100 THEN v END) AS BIGINT) AS p50,
      |       CAST(min(CASE WHEN c >= (90 * n.n + 99) // 100 THEN v END) AS BIGINT) AS p90,
      |       CAST(min(CASE WHEN c >= (99 * n.n + 99) // 100 THEN v END) AS BIGINT) AS p99,
      |       CAST(max(v) AS BIGINT) AS max_chars
      |FROM cum JOIN n ON cum.source = n.source
      |GROUP BY cum.source, n.n ORDER BY cum.source""".stripMargin

  /** WEIGHTED per-group quantiles (lineitem price cents by return
    * flag, weighted by quantity units) — the importance-weighted
    * sibling of [[groupQuantiles]], the shape a curation pipeline
    * needs when rows carry unequal mass (token counts, sampling
    * weights from [[Curation.dsirWeights]]): "the median token is in a
    * document of what quality score?" is a weight-by-tokens quantile,
    * not a row quantile. The weighted p-quantile is the smallest value
    * whose cumulative weight reaches ⌈p·W⌉ — an exact integer
    * selection on (group, value, Σweight) cells with a GROUP-
    * partitioned cumulative window (parallel across groups, no global
    * sort), so both engines agree bit-for-bit. */
  def weightedMedian(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("flag"), cents(col("l_extendedprice")).as("v"),
        expr("CAST(round(l_quantity) AS BIGINT)").as("wt"))
      .groupBy("flag", "v").agg(sum("wt").as("f"))
    val w = Window.partitionBy("flag").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // wtot as a whole-partition window on the SAME flag partitioning as
    // the running sum (round 21, opt guide §2.4): the old broadcast-join
    // `tot` arm rebuilt the cells aggregate from a second full lineitem
    // scan (the join's IsNotNull pushdown made the two subtrees differ,
    // so ReuseExchange never fired) — one scan, zero joins now.
    val wAll = Window.partitionBy("flag")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = cells
      .withColumn("c", sum("f").over(w))
      .withColumn("wtot", sum("f").over(wAll))
    def at(num: Int, den: Int) = // smallest v with cumweight ≥ ⌈num·W/den⌉
      min(when(col("c") >= expr(s"($num * wtot + ${den - 1}) div $den"), col("v")))
    cum
      .groupBy(col("flag"), col("wtot").as("w_total"))
      .agg(at(1, 4).as("wp25_cents"), at(1, 2).as("wmed_cents"),
        at(3, 4).as("wp75_cents"))
      .select("flag", "w_total", "wp25_cents", "wmed_cents", "wp75_cents")
      .orderBy("flag")
  }

  private val weightedMedianSql: String =
    """WITH cells AS (
      |  SELECT l_returnflag AS flag,
      |         CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
      |         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS f
      |  FROM lineitem GROUP BY 1, 2
      |), cum AS (
      |  SELECT flag, v, f, sum(f) OVER (PARTITION BY flag ORDER BY v) AS c FROM cells
      |), tot AS (
      |  SELECT flag, sum(f) AS wtot FROM cells GROUP BY flag
      |)
      |SELECT cum.flag, CAST(tot.wtot AS BIGINT) AS w_total,
      |       CAST(min(CASE WHEN c >= (1 * tot.wtot + 3) // 4 THEN v END) AS BIGINT) AS wp25_cents,
      |       CAST(min(CASE WHEN c >= (1 * tot.wtot + 1) // 2 THEN v END) AS BIGINT) AS wmed_cents,
      |       CAST(min(CASE WHEN c >= (3 * tot.wtot + 3) // 4 THEN v END) AS BIGINT) AS wp75_cents
      |FROM cum JOIN tot ON cum.flag = tot.flag
      |GROUP BY cum.flag, tot.wtot ORDER BY cum.flag""".stripMargin

  /** Power-of-two histogram of per-key group sizes (events by user_id):
    * bucket = floor(log2(size)) computed EXACTLY as the bit length of
    * the count (`length(bin(n)) − 1` — both engines print the same
    * minimal binary string; float log2 lands on x.999… at power-of-two
    * boundaries and is not hash-safe). Two aggregations, both on
    * reduced forms; the histogram is at most 64 rows however large the
    * table — the cheap first look at whether a key needs salting. */
  def keySkewProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .groupBy((length(bin(col("n"))) - 1).cast("long").as("bucket"))
      .agg(
        count(lit(1)).as("n_keys"),
        sum("n").as("n_rows"),
        min("n").as("min_size"),
        max("n").as("max_size"))
      .orderBy("bucket")

  private val keySkewProfileSql: String =
    """WITH sizes AS (
      |  SELECT user_id, count(*) AS n FROM events GROUP BY user_id
      |)
      |SELECT CAST(length(bin(n)) - 1 AS BIGINT) AS bucket,
      |       CAST(count(*) AS BIGINT) AS n_keys,
      |       CAST(sum(n) AS BIGINT) AS n_rows,
      |       CAST(min(n) AS BIGINT) AS min_size,
      |       CAST(max(n) AS BIGINT) AS max_size
      |FROM sizes GROUP BY 1 ORDER BY bucket""".stripMargin

  /** Welch's unequal-variance t-test on the same click-vs-purchase
    * cents samples as `ks_test`/`mann_whitney` — the parametric
    * mean-difference companion to their distribution tests. Needs only
    * the six algebraic sums (n, Σv, Σv²) per sample — one conditional
    * aggregate over the scan, no ECDF machinery — so at 100 TB this is
    * a single partial-aggregated pass.
    *
    * Determinism contract: t² is a RATIONAL of the integer sums —
    *   t² = D²(na−1)(nb−1) / [Qa·nb²(nb−1) + Qb·na²(na−1)],
    *   D = Sa·nb − Sb·na, Qx = nx·SSx − Sx²
    * — so no float ever enters. The composite products run in
    * DECIMAL(38,0) (HUGEINT in the oracle); `t2_micros` is the two-step
    * integral division num div (den div 10⁶), identical on both engines
    * (single-step would need num·10⁶ ≈ 10⁴⁴-wide intermediates); the
    * mean difference is exact integral micros of cents with the sign
    * applied AFTER dividing absolute values (truncation direction on
    * negatives differs between engines; on non-negatives it cannot).
    * Arithmetic bound (documented, ks_test posture): cents²·n per
    * sample must fit a long before the decimal composite — ~2·10¹⁰ rows
    * at these value ranges; the decimal stage itself is wrap-free to
    * ~10³⁸. */
  def welchT(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(cents(col("value")).as("v"), (col("event_type") === "click").as("isa"))
    val s = ev.agg(
      sum(when(col("isa"), 1L).otherwise(0L)).as("na"),
      sum(when(col("isa"), col("v")).otherwise(0L)).as("sa"),
      sum(when(col("isa"), col("v") * col("v")).otherwise(0L)).as("ssa"),
      sum(when(!col("isa"), 1L).otherwise(0L)).as("nb"),
      sum(when(!col("isa"), col("v")).otherwise(0L)).as("sb"),
      sum(when(!col("isa"), col("v") * col("v")).otherwise(0L)).as("ssb"))
    s.select(
        col("na"), col("nb"),
        (col("sa").cast("decimal(38,0)") * col("nb") -
          col("sb").cast("decimal(38,0)") * col("na")).as("d"),
        (col("na").cast("decimal(38,0)") * col("ssa") -
          col("sa").cast("decimal(38,0)") * col("sa")).as("qa"),
        (col("nb").cast("decimal(38,0)") * col("ssb") -
          col("sb").cast("decimal(38,0)") * col("sb")).as("qb"))
      .select(
        col("na").as("n_a"), col("nb").as("n_b"),
        expr("""CAST(CASE WHEN d < 0 THEN -1 ELSE 1 END *
               |  ((abs(d) * 1000000) div (CAST(na AS DECIMAL(38,0)) * nb)) AS BIGINT)"""
          .stripMargin).as("mean_diff_micros"),
        expr("""CAST((d * d * (na - 1) * (nb - 1)) div
               |  ((qa * nb * nb * (nb - 1) + qb * na * na * (na - 1)) div 1000000)
               |  AS BIGINT)""".stripMargin).as("t2_micros"))
  }

  private val welchTSql: String =
    """WITH ev AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS v,
      |         event_type = 'click' AS isa
      |  FROM events WHERE event_type IN ('click', 'purchase')
      |), s AS (
      |  SELECT sum(CASE WHEN isa THEN 1 ELSE 0 END) AS na,
      |         sum(CASE WHEN isa THEN v ELSE 0 END) AS sa,
      |         sum(CASE WHEN isa THEN v * v ELSE 0 END) AS ssa,
      |         sum(CASE WHEN isa THEN 0 ELSE 1 END) AS nb,
      |         sum(CASE WHEN isa THEN 0 ELSE v END) AS sb,
      |         sum(CASE WHEN isa THEN 0 ELSE v * v END) AS ssb
      |  FROM ev
      |), c AS (
      |  SELECT na, nb,
      |         CAST(sa AS HUGEINT) * nb - CAST(sb AS HUGEINT) * na AS d,
      |         CAST(na AS HUGEINT) * ssa - CAST(sa AS HUGEINT) * sa AS qa,
      |         CAST(nb AS HUGEINT) * ssb - CAST(sb AS HUGEINT) * sb AS qb
      |  FROM s
      |)
      |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
      |       CAST(CASE WHEN d < 0 THEN -1 ELSE 1 END *
      |            ((abs(d) * 1000000) // (CAST(na AS HUGEINT) * nb)) AS BIGINT) AS mean_diff_micros,
      |       CAST((d * d * (na - 1) * (nb - 1)) //
      |            ((qa * nb * nb * (nb - 1) + qb * na * na * (na - 1)) // 1000000)
      |            AS BIGINT) AS t2_micros
      |FROM c""".stripMargin

  /** CUSUM changepoint detection over the per-type daily event series —
    * the distribution-drift alarm a training-data pipeline runs on its
    * ingest volumes (a crawl source going dark or doubling shows up as
    * the |CUSUM| peak). Exact-integer formulation: with n days and
    * total T, the mean-centered prefix sum scaled by n is
    * Sₖ = n·Σ_{d≤k} x_d − k·T — all longs, no division anywhere — and
    * the changepoint candidate is the day maximizing |Sₖ| (earliest day
    * on ties). Output per event_type: n_days, total, the argmax day and
    * its signed Sₖ.
    *
    * Scale shape: events partial-aggregate to (type, day, count) cells
    * first — the only corpus-sized pass; the prefix sum is a window
    * over each type's ≤O(days) cells, key-partitioned on type, never a
    * global order. */
  def changepointCusum(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        expr("unix_millis(ts) div 86400000").as("day"))
      .agg(count(lit(1)).as("x"))
    val wType = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
    val wCum = wType.orderBy("day")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val scored = daily
      .withColumn("n", count(lit(1)).over(wType))
      .withColumn("t", sum("x").over(wType))
      .withColumn("k", count(lit(1)).over(wCum))
      .withColumn("s", col("n") * sum("x").over(wCum) - col("k") * col("t"))
    scored
      .withColumn("best", max(struct(abs(col("s")).as("a"), (-col("day")).as("nd")))
        .over(wType))
      .filter(abs(col("s")) === col("best.a") && col("day") === -col("best.nd"))
      .select(col("event_type"), col("n").as("n_days"), col("t").as("total"),
        col("day").as("cp_day"), col("s").as("s_at_cp"))
      .orderBy("event_type")
  }

  private val changepointSql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_ms(ts) // 86400000 AS day,
      |         CAST(count(*) AS BIGINT) AS x
      |  FROM events GROUP BY event_type, day
      |), scored AS (
      |  SELECT event_type, day, x,
      |         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
      |         CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT) AS t,
      |         CAST(count(*) OVER w AS BIGINT) AS k,
      |         CAST(count(*) OVER (PARTITION BY event_type) * sum(x) OVER w
      |              - count(*) OVER w * sum(x) OVER (PARTITION BY event_type) AS BIGINT) AS s
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), best AS (
      |  SELECT event_type, first(day ORDER BY abs(s) DESC, day ASC) AS cp_day
      |  FROM scored GROUP BY event_type
      |)
      |SELECT s.event_type, s.n AS n_days, s.t AS total,
      |       s.day AS cp_day, s.s AS s_at_cp
      |FROM scored s JOIN best b ON s.event_type = b.event_type AND s.day = b.cp_day
      |ORDER BY s.event_type""".stripMargin

  /** Within-group percentile normalization — the rank feature a
    * curriculum/mixture pipeline attaches to every document ("this doc
    * is at the 83rd length percentile of its language"): pct_micros =
    * ⌊#(docs in lang with value ≤ mine) · 10⁶ / n_lang⌋, exact integers.
    *
    * Scale shape: the corpus reduces to (lang, value, count) CELLS
    * first (partial-agg map-side); the cumulative rank runs per lang
    * over those cells — O(distinct values) window state, never the
    * corpus — and the percentile attaches back to docs via an equi-join
    * on (lang, value) against the cell table (broadcast-able: cells ≪
    * corpus). A per-lang window over raw docs — 5 coarse keys — would
    * serialize 1/5 of the corpus per task; cells dodge the skew
    * entirely (the group_quantiles convention). */
  def quantileNormalize(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val cells = docs.groupBy("lang", "n_chars").agg(count(lit(1)).as("cnt"))
    val wCum = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      .orderBy("n_chars")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("lang")
    val ranked = cells
      .withColumn("cum_le", sum("cnt").over(wCum))
      .withColumn("n_lang", sum("cnt").over(wAll))
      .select(col("lang"), col("n_chars"),
        expr("cum_le * 1000000 div n_lang").as("pct_micros"))
    docs.join(ranked, Seq("lang", "n_chars"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("pct_micros"))
      .orderBy("doc_id")
  }

  private val quantileNormalizeSql: String =
    """WITH cells AS (
      |  SELECT lang, n_chars, CAST(count(*) AS BIGINT) AS cnt
      |  FROM documents GROUP BY lang, n_chars
      |), ranked AS (
      |  SELECT lang, n_chars,
      |         CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY n_chars
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000
      |              // sum(cnt) OVER (PARTITION BY lang) AS BIGINT) AS pct_micros
      |  FROM cells
      |)
      |SELECT d.doc_id, d.lang, d.n_chars, r.pct_micros
      |FROM documents d JOIN ranked r ON d.lang = r.lang AND d.n_chars = r.n_chars
      |ORDER BY d.doc_id""".stripMargin

  /** Sample autocorrelation of each event type's daily-count series at
    * lags 1..3 — the seasonality/burstiness probe run before choosing a
    * time-partitioned sampling or mixing strategy. Cells-before-windows:
    * the raw stream collapses to (event_type, day, count) cells first,
    * so everything after the first aggregation is O(days) per type.
    *
    * Exactness: with T = Σx and n = #days per type, each mean-centered
    * deviation d = n·x_t − T is an exact BIGINT, but the n²-scaled
    * products d·d' are accumulated in DECIMAL(38,0) (HUGEINT in the
    * oracle, the welch_t/seasonal_decompose convention): at the daily
    * volumes a 100 TB stream produces, d ~ 10¹³ and d² ~ 10²⁶ — far past
    * int64, where Spark would wrap silently while DuckDB diverges — so
    * num_L = Σ d_t·d_{t+L} over observed (t, t+L) pairs and
    * den = Σ d_t² over all observed days ship as wrap-free decimals and
    * the one double division num/den is bit-identical cross-engine.
    * Gap days simply contribute no pair: the lag join is on day+L
    * PRESENT, mirrored by the oracle. */
  def autocorr(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), expr("unix_millis(ts) div 86400000").as("day"))
      .agg(count(lit(1)).as("x"))
    val tot = daily.groupBy("event_type")
      .agg(sum("x").as("t"), count(lit(1)).as("n"))
    val centered = daily.join(broadcast(tot), "event_type")
      .select(col("event_type"), col("day"), (col("x") * col("n") - col("t")).as("d"))
    val den = centered.groupBy("event_type")
      .agg(sum(col("d").cast("decimal(38,0)") * col("d")).as("den"))
    val lagged = centered
      .withColumn("lag", explode(array((1 to 3).map(lit): _*)))
      .withColumn("day2", col("day") + col("lag"))
    val pairs = lagged.as("a")
      .join(centered.select(col("event_type"), col("day").as("day2"), col("d").as("d2")),
        Seq("event_type", "day2"))
      .groupBy(col("event_type"), col("lag").cast("long").as("lag"))
      .agg(sum(col("d").cast("decimal(38,0)") * col("d2")).as("num"),
        count(lit(1)).as("n_pairs"))
    // num/den stay DECIMAL(38,0) through the arithmetic but ship as
    // digit STRINGS: the round-15 gate hash-rejected decimal128 output
    // columns on both engines' bitwise-identical values (r14's int64
    // form was green), so wide integers cross the artifact boundary as
    // their exact decimal text, which hashes identically everywhere.
    pairs.join(broadcast(den), "event_type")
      .select(
        col("event_type"), col("lag"), col("n_pairs"),
        col("num").cast("string").as("num"),
        col("den").cast("string").as("den"),
        when(col("den") =!= 0,
          col("num").cast("double") / col("den").cast("double")).as("acf"))
      .orderBy("event_type", "lag")
  }

  private val autocorrSql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_ms(ts) // 86400000 AS day,
      |         CAST(count(*) AS BIGINT) AS x
      |  FROM events GROUP BY event_type, day
      |), tot AS (
      |  SELECT event_type, CAST(sum(x) AS BIGINT) AS t,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM daily GROUP BY event_type
      |), centered AS (
      |  SELECT daily.event_type, day, x * n - t AS d
      |  FROM daily JOIN tot USING (event_type)
      |), den AS (
      |  SELECT event_type, CAST(sum(CAST(d AS HUGEINT) * d) AS HUGEINT) AS den
      |  FROM centered GROUP BY event_type
      |), pairs AS (
      |  SELECT a.event_type, CAST(l.lag AS BIGINT) AS lag,
      |         CAST(count(*) AS BIGINT) AS n_pairs,
      |         CAST(sum(CAST(a.d AS HUGEINT) * b.d) AS HUGEINT) AS num
      |  FROM centered a
      |  CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS lag) l
      |  JOIN centered b
      |    ON b.event_type = a.event_type AND b.day = a.day + l.lag
      |  GROUP BY a.event_type, l.lag
      |)
      |SELECT event_type, lag, n_pairs,
      |       CAST(num AS VARCHAR) AS num, CAST(den AS VARCHAR) AS den,
      |       CASE WHEN den <> 0
      |            THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END AS acf
      |FROM pairs JOIN den USING (event_type)
      |ORDER BY event_type, lag""".stripMargin

  /** Classical seasonal decomposition of the daily event-volume series:
    * trend = centered 7-day moving average, seasonal = day-of-week mean
    * deviation from trend, residual = the rest — the drift monitor's
    * view that separates "weekends are slow" from "ingest actually
    * changed" (complements [[changepointCusum]]'s single-break alarm).
    *
    * Cells-before-windows: the stream collapses to (day, count) first;
    * the ONE ordered window runs over those day cells — a set bounded
    * by the calendar (a years-long 100 TB stream is ~10³ rows), the
    * vocab_coverage constant-window convention, never the event table.
    * Exactness: trend is an integral-micros DECIMAL(38) division
    * (overflow-proof at any daily volume); the seasonal mean divides
    * a possibly NEGATIVE deviation sum, so the sign is applied after
    * dividing absolute values (the welch_t truncation-direction
    * convention); residual is plain long subtraction. */
  def seasonalDecompose(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(expr("unix_millis(ts) div 86400000").as("day"))
      .agg(count(lit(1)).as("n"))
    val wMa = org.apache.spark.sql.expressions.Window
      .orderBy("day").rowsBetween(-3, 3)
    val t = daily
      .withColumn("ts_", sum("n").over(wMa))
      .withColumn("tc", count(lit(1)).over(wMa))
      .withColumn("trend_micros",
        expr("CAST((CAST(ts_ AS DECIMAL(38,0)) * 1000000) div tc AS BIGINT)"))
      .withColumn("dev", col("n") * 1000000L - col("trend_micros"))
      .withColumn("dow", pmod(col("day"), lit(7L)))
    val seas = t.groupBy("dow")
      .agg(sum("dev").as("sd"), count(lit(1)).as("sc"))
      .select(col("dow"),
        expr("""CAST(CASE WHEN sd >= 0 THEN CAST(sd AS DECIMAL(38,0)) div sc
               |     ELSE -(CAST(-sd AS DECIMAL(38,0)) div sc) END AS BIGINT)""".stripMargin)
          .as("seasonal_micros"))
    t.join(broadcast(seas), "dow")
      .select(col("day"), col("n"), col("trend_micros"), col("dow"),
        col("seasonal_micros"),
        (col("dev") - col("seasonal_micros")).as("residual_micros"))
      .orderBy("day")
  }

  private val seasonalSql: String =
    """WITH daily AS (
      |  SELECT epoch_ms(ts) // 86400000 AS day, CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY day
      |), t AS (
      |  SELECT day, n,
      |    CAST((CAST(sum(n) OVER w AS HUGEINT) * 1000000) // (count(*) OVER w) AS BIGINT)
      |      AS trend_micros,
      |    day % 7 AS dow
      |  FROM daily
      |  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
      |), t2 AS (
      |  SELECT *, n * 1000000 - trend_micros AS dev FROM t
      |), seas AS (
      |  SELECT dow,
      |    CAST(CASE WHEN SUM(dev) >= 0 THEN CAST(SUM(dev) AS HUGEINT) // count(*)
      |         ELSE -(CAST(-SUM(dev) AS HUGEINT) // count(*)) END AS BIGINT)
      |      AS seasonal_micros
      |  FROM t2 GROUP BY dow
      |)
      |SELECT t2.day, t2.n, t2.trend_micros, t2.dow, s.seasonal_micros,
      |       t2.dev - s.seasonal_micros AS residual_micros
      |FROM t2 JOIN seas s USING (dow)
      |ORDER BY day""".stripMargin

  /** One-way ANOVA F across ALL event types' cents values — the k-group
    * generalization of [[welchT]]'s two-sample mean test (is spend
    * level homogeneous across event types, or does some type differ?).
    * Needs only the three algebraic sums (n, Σv, Σv²) PER GROUP — one
    * partial-aggregated pass over the scan, k cells after it — so at
    * 100 TB this is a single scan like welch_t, with k·3 longs of
    * driver-free state.
    *
    * Determinism contract (welch_t convention, extended to k groups):
    * the between/within sum-of-squares decomposition
    *   SSB = Σ S_g²/n_g − T²/N,  SSW = Σv² − Σ S_g²/n_g
    * has per-group divisions, so each S_g²/n_g is quantized to exact
    * integral MICROS by integral division (floor; dividends are
    * non-negative so floor = truncate on both engines) — the quantized
    * decomposition is the operator's defined semantics and the oracle
    * replays it digit-for-digit. All composite products run in
    * DECIMAL(38,0) (HUGEINT); F ships as the two-step integral
    * division f_micros = |ssb|·(N−k) div ((k−1)·ssw div 10⁶) with the
    * sign applied after (negative-dividend truncation differs between
    * engines), NULL when the within term floors to zero. Arithmetic
    * bound (welch_t posture): S_g²·10⁶ is wrap-free to ~10³⁸ and each
    * quantized term to ~9·10¹⁸ — comfortable for cents sums out to
    * ~10¹⁵ (a 100 TB stream's worth). */
  /** anova_f's exact-integer one-way variance decomposition over a
    * (event_type, v: long) frame, factored so [[leveneTest]] can run
    * the IDENTICAL arithmetic on its |deviation| transform (Levene's W
    * is literally the one-way F computed on transformed values). The
    * caller guarantees |v| stays in the cents magnitude band the
    * DECIMAL(38,0) analysis below assumes. */
  private def anovaCore(ev: DataFrame, statName: String): DataFrame = {
    val g = ev.groupBy("event_type").agg(
      count(lit(1)).as("n_g"), sum("v").as("s_g"),
      sum(col("v") * col("v")).as("ss_g"))
    val s = g.agg(
      count(lit(1)).as("k"), sum("n_g").as("n"),
      sum("s_g").as("t"), sum("ss_g").as("ss"),
      sum(expr("(CAST(s_g AS DECIMAL(38,0)) * s_g * 1000000) div n_g")
        .cast("decimal(38,0)")).as("a"))
    s.select(
        col("k"), col("n"),
        (col("a") - expr("(CAST(t AS DECIMAL(38,0)) * t * 1000000) div n"))
          .cast("decimal(38,0)").as("ssb_micros"),
        (col("ss").cast("decimal(38,0)") * 1000000 - col("a"))
          .cast("decimal(38,0)").as("ssw_micros"))
      .select(
        col("k"), col("n"),
        // DECIMAL(38,0) drives the arithmetic; the output columns ship
        // as digit strings (autocorr convention — the round-15 gate
        // hash-rejected decimal128 artifact columns).
        col("ssb_micros").cast("string").as("ssb_micros"),
        col("ssw_micros").cast("string").as("ssw_micros"),
        expr("""CASE WHEN ((k - 1) * ssw_micros) div 1000000 = 0 THEN NULL
               |ELSE CAST(CASE WHEN ssb_micros < 0 THEN -1 ELSE 1 END *
               |  ((abs(ssb_micros) * (n - k)) div
               |   (((k - 1) * ssw_micros) div 1000000)) AS BIGINT)
               |END""".stripMargin).as(statName))
  }

  def anovaF(spark: SparkSession, dir: String): DataFrame =
    anovaCore(
      Tables.events(spark, dir)
        .select(col("event_type"), cents(col("value")).as("v")),
      "f_micros")

  /** the SQL twin of [[anovaCore]] — `evCtes` must end in a relation
    * `ev(event_type, v)` (plus any CTEs it needs, no leading WITH). */
  private def anovaCoreSql(evCtes: String, statName: String): String =
    s"""WITH $evCtes, g AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_g,
      |         CAST(sum(v) AS BIGINT) AS s_g, CAST(sum(v * v) AS BIGINT) AS ss_g
      |  FROM ev GROUP BY event_type
      |), s AS (
      |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n_g) AS BIGINT) AS n,
      |         CAST(sum(s_g) AS BIGINT) AS t, CAST(sum(ss_g) AS BIGINT) AS ss,
      |         CAST(sum((CAST(s_g AS HUGEINT) * s_g * 1000000) // n_g) AS HUGEINT) AS a
      |  FROM g
      |), c AS (
      |  SELECT k, n,
      |         CAST(a - (CAST(t AS HUGEINT) * t * 1000000) // n AS HUGEINT) AS ssb_micros,
      |         CAST(CAST(ss AS HUGEINT) * 1000000 - a AS HUGEINT) AS ssw_micros
      |  FROM s
      |)
      |SELECT k, n,
      |       CAST(ssb_micros AS VARCHAR) AS ssb_micros,
      |       CAST(ssw_micros AS VARCHAR) AS ssw_micros,
      |       CASE WHEN ((k - 1) * ssw_micros) // 1000000 = 0 THEN NULL
      |            ELSE CAST(CASE WHEN ssb_micros < 0 THEN -1 ELSE 1 END *
      |              ((abs(ssb_micros) * (n - k)) //
      |               (((k - 1) * ssw_micros) // 1000000)) AS BIGINT)
      |       END AS $statName
      |FROM c""".stripMargin

  private val anovaFSql: String = anovaCoreSql(
    """ev AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v FROM events
      |)""".stripMargin,
    "f_micros")

  /** Levene's variance-homogeneity test (mean-centered, Levene 1960) —
    * the PRECONDITION check for [[anovaF]]: the one-way F assumes equal
    * group variances, and this is the test that validates (or vetoes)
    * that assumption on the same (event_type, value) layout. W is
    * computed as the one-way F statistic of the transformed values
    * z = |x − x̄_group|, so it reuses [[anovaCore]] verbatim.
    *
    * Exactness: the group mean is a rational S/n, so the deviation is
    * computed as |n·x − S| div n in DECIMAL(38,0) — an exact
    * cents-quantized z (same magnitude band as the input, keeping
    * every downstream DECIMAL(38)/HUGEINT bound of the anova core
    * valid). Mean-centering (not the Brown–Forsythe median) is the
    * deliberate scale choice: it needs only the (n, Σ) group moments —
    * one partial-aggregated pass plus a k-row broadcast re-attach —
    * where an exact median would cost a per-group rank selection.
    *
    * Scale shape: two aggregation passes over reduced forms and one
    * broadcast join of a k-row moment table; no window, no driver
    * state beyond the k-row final frame. */
  def leveneTest(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(spark, dir)
      .select(col("event_type"), cents(col("value")).as("v"))
    val moments = base.groupBy("event_type")
      .agg(count(lit(1)).as("n_g"), sum("v").as("s_g"))
    val z = base.join(broadcast(moments), "event_type")
      .select(col("event_type"),
        expr("CAST(abs(CAST(n_g AS DECIMAL(38,0)) * v - s_g) div n_g AS BIGINT)").as("v"))
    anovaCore(z, "w_micros")
  }

  private val leveneSql: String = anovaCoreSql(
    """base AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v FROM events
      |), g0 AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_g, CAST(sum(v) AS BIGINT) AS s_g
      |  FROM base GROUP BY event_type
      |), ev AS (
      |  SELECT b.event_type,
      |         CAST(abs(CAST(g0.n_g AS HUGEINT) * b.v - g0.s_g) // g0.n_g AS BIGINT) AS v
      |  FROM base b JOIN g0 USING (event_type)
      |)""".stripMargin,
    "w_micros")

  /** ROC AUC of the cheap bigram-LM quality score
    * ([[TextAnalysis.lmBigramScore]]'s per-doc `avg_micros`) as a
    * predictor of the rule-based keep label
    * ([[Curation.qualityClassifier]]) — the model-evaluation op a
    * pipeline runs before swapping a trained filter in for a heuristic
    * one. AUC is the Mann–Whitney U statistic normalized by n·m, so it
    * rides the [[mannWhitney]] doubled-U identity for exact tie
    * half-credits: 2·U = Σ_cells n_pos(s)·(2·cum_neg(s) − n_neg(s)),
    * and AUC ships as exact integral micros (2U·10⁶) div (2·n·m).
    *
    * Scale shape: both inputs are per-doc maps (the LM score's only
    * corpus pass is its own word scan); the label attach is one
    * doc-keyed equi-join; everything after is (distinct score)-sized
    * cells cumulated with the per-range-partition offset scan
    * ([[cumulateCells]]) — no global-order window ever touches rows. */
  def rocAuc(spark: SparkSession, dir: String): DataFrame = {
    val score = TextAnalysis.lmBigramScore(spark, dir).select("doc_id", "avg_micros")
    val label = Curation.qualityClassifier(spark, dir).select("doc_id", "keep")
    val (cum, n, m) = cumulateCells(aucCells(score.join(label, "doc_id")))
    cum
      .agg(sum(col("na").cast("decimal(38,0)") *
        (lit(2L) * col("cb").cast("decimal(38,0)") - col("nb"))).as("u2_dec"))
      .select(
        lit(n).as("n_pos"), lit(m).as("n_neg"),
        toLongChecked(col("u2_dec"), "roc_auc u2").as("u2"),
        expr(s"CAST((u2_dec * 1000000) div (CAST($n AS DECIMAL(38,0)) * 2 * $m) AS BIGINT)")
          .as("auc_micros"))
  }

  /** (score, n_pos, n_neg) cells from a joined (avg_micros, keep)
    * frame — shared by [[rocAuc]] and [[isotonicCalibrate]]. */
  private def aucCells(joined: DataFrame): DataFrame =
    joined
      .groupBy(col("avg_micros").as("v"))
      .agg(
        sum(when(col("keep"), 1L).otherwise(0L)).as("na"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("nb"))

  /** shared oracle CTEs: the lm score subquery joined to the replayed
    * quality-classifier margin, reduced to (v, na, nb) score cells. */
  private val aucCellsSql: String =
    s"""f AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS nt,
       |    CAST(length(text) AS BIGINT) AS nc,
       |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS na_,
       |    CAST(len(list_filter(string_split(text, ' '),
       |         t -> t IN ('the', 'a', 'of', 'and'))) AS BIGINT) AS ns
       |  FROM documents
       |), j AS (
       |  SELECT s.avg_micros AS v,
       |         (8 * f.na_ - 6 * (f.nc - f.na_) + 40 * f.ns + 2 * f.nt - 1200) > 0 AS keep
       |  FROM (${TextAnalysis.lmBigramSql}) s JOIN f USING (doc_id)
       |), cells AS (
       |  SELECT v, sum(CASE WHEN keep THEN 1 ELSE 0 END) AS na,
       |            sum(CASE WHEN keep THEN 0 ELSE 1 END) AS nb
       |  FROM j GROUP BY v
       |)""".stripMargin

  private val rocAucSql: String =
    s"""WITH $aucCellsSql,
       |cum AS (
       |  SELECT na, nb, sum(nb) OVER (ORDER BY v) AS cb FROM cells
       |), tot AS (
       |  SELECT sum(na) AS n, sum(nb) AS m FROM cells
       |)
       |SELECT CAST(n AS BIGINT) AS n_pos, CAST(m AS BIGINT) AS n_neg,
       |       CAST(sum(na * (2 * cb - nb)) AS BIGINT) AS u2,
       |       CAST((CAST(sum(na * (2 * cb - nb)) AS HUGEINT) * 1000000)
       |            // (CAST(2 * n AS HUGEINT) * m) AS BIGINT) AS auc_micros
       |FROM cum CROSS JOIN tot GROUP BY n, m""".stripMargin

  /** Average precision (area under the precision–recall curve, the
    * threshold-step form sklearn's `average_precision_score` computes):
    * AP = (1/P)·Σ_thresholds ΔTP_t · TP_t/(TP_t+FP_t), summed over
    * DISTINCT score thresholds descending — the tie-safe form (a tie
    * group contributes once with its full ΔTP, so permuting equal
    * scores cannot change the result). The ranking complement of
    * [[rocAuc]]: AUC asks "does a random positive outrank a random
    * negative" and is insensitive to class imbalance; AP weights by
    * precision at each recall step, which is what a curation gate with
    * a small keep-class actually experiences. Same score/label pair as
    * roc_auc (bigram-LM score vs the quality-classifier keep label).
    *
    * Exactness: each threshold term is the integral division
    * (ΔTP·TP·10¹²) div (TP+FP) in DECIMAL(38)/HUGEINT — quantized
    * BEFORE the sum (the hill/tfidf ln convention, applied to
    * rationals), so both engines sum identical integers; AP ships as
    * the two-step integral division to micros (the welch_t width
    * convention). Scale shape: rides the identical (v, na, nb)
    * score-cell reduction and range-partitioned prefix cumulation as
    * [[rocAuc]] — corpus touched once, everything after is
    * O(distinct scores). */
  def prAuc(spark: SparkSession, dir: String): DataFrame = {
    val score = TextAnalysis.lmBigramScore(spark, dir).select("doc_id", "avg_micros")
    val label = Curation.qualityClassifier(spark, dir).select("doc_id", "keep")
    val (cum, n, m) = cumulateCells(aucCells(score.join(label, "doc_id")))
    cum
      // cumulation is ascending in v; counts at score >= v flip it:
      // TP = P - ca + na (na = positives exactly at v), FP likewise
      .select(col("na"), (lit(n) - col("ca") + col("na")).as("tp"),
        (lit(m) - col("cb") + col("nb")).as("fp"))
      .agg(sum(expr(
        "(CAST(na AS DECIMAL(38,0)) * tp * 1000000000000) div (tp + fp)"))
        .as("s"))
      .select(
        lit(n).as("n_pos"), lit(m).as("n_neg"),
        toLongChecked(col("s"), "pr_auc term sum").as("sum_term_picos"),
        expr(s"CAST(s div (CAST($n AS DECIMAL(38,0)) * 1000000) AS BIGINT)")
          .as("ap_micros"))
  }

  private val prAucSql: String =
    s"""WITH $aucCellsSql,
       |cum AS (
       |  SELECT v, na, nb,
       |         sum(na) OVER (ORDER BY v) AS ca,
       |         sum(nb) OVER (ORDER BY v) AS cb
       |  FROM cells
       |), tot AS (
       |  SELECT sum(na) AS n, sum(nb) AS m FROM cells
       |), terms AS (
       |  SELECT n, m, na, (n - ca + na) AS tp, (m - cb + nb) AS fp
       |  FROM cum CROSS JOIN tot
       |)
       |SELECT CAST(n AS BIGINT) AS n_pos, CAST(m AS BIGINT) AS n_neg,
       |  CAST(sum((CAST(na AS HUGEINT) * tp * 1000000000000) // (tp + fp)) AS BIGINT)
       |    AS sum_term_picos,
       |  CAST(sum((CAST(na AS HUGEINT) * tp * 1000000000000) // (tp + fp))
       |       // (CAST(n AS HUGEINT) * 1000000) AS BIGINT) AS ap_micros
       |FROM terms GROUP BY n, m""".stripMargin

  /** numerator order statistics for [[hillTailIndex]]. */
  private val HillK = 64

  /** Hill estimator of the heavy-tail exponent of order totals — the
    * diagnostic behind "is this value distribution power-law enough to
    * need salting/capping?" (complements [[Stats]]' key_skew_profile,
    * which asks the same of GROUP SIZES): over the top k+1 order
    * statistics, H = (1/k)·Σ ln(x_i / x_(k+1)) and the tail exponent is
    * α = 1/H. Each log ratio is micros-quantized BEFORE the integer sum
    * (the tfidf/Adamic-Adar ln convention — the double division and ln
    * are computed in one association-free expression per row, so the
    * 6dp round absorbs libm ULP drift); α ships as the integral
    * division 10¹² div H_micros.
    *
    * Scale shape: the only corpus-sized step is a TakeOrderedAndProject
    * top-65 cut (per-partition bounded heaps); everything after runs on
    * a CONSTANT 65-row frame — the vocab_coverage convention. */
  def hillTailIndex(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val top = ck.ckpt(Tables.orders(spark, dir)
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("v"))
      .orderBy(col("v").desc, col("o_orderkey"))
      .limit(HillK + 1)) // constant 65-row frame; feeds rank + threshold
    val w = Window.orderBy(col("v").desc, col("o_orderkey"))
    val ranked = top.withColumn("rn", row_number().over(w).cast("long"))
    val thr = ranked.filter(col("rn") === (HillK + 1).toLong)
      .select(col("v").as("x_thr"))
    ranked.filter(col("rn") <= HillK.toLong)
      .crossJoin(broadcast(thr))
      .select(expr("CAST(round(ln(CAST(v AS DOUBLE) / x_thr) * 1000000) AS BIGINT)")
        .as("t"), col("x_thr"))
      .groupBy("x_thr")
      .agg(count(lit(1)).as("k"), sum("t").as("sum_ln_micros"))
      .select(col("k"), col("x_thr"),
        expr(s"sum_ln_micros div $HillK").as("hill_micros"),
        expr(s"""CASE WHEN sum_ln_micros div $HillK = 0 THEN NULL
                |ELSE 1000000000000 div (sum_ln_micros div $HillK) END""".stripMargin)
          .as("alpha_micros"))
  }

  private val hillSql: String =
    s"""WITH top AS (
       |  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS v
       |  FROM orders ORDER BY v DESC, o_orderkey LIMIT ${HillK + 1}
       |), ranked AS (
       |  SELECT v, CAST(row_number() OVER (ORDER BY v DESC, o_orderkey) AS BIGINT) AS rn
       |  FROM top
       |), thr AS (SELECT v AS x_thr FROM ranked WHERE rn = ${HillK + 1}),
       |terms AS (
       |  SELECT CAST(round(ln(CAST(v AS DOUBLE) / x_thr) * 1000000) AS BIGINT) AS t, x_thr
       |  FROM ranked CROSS JOIN thr WHERE rn <= $HillK
       |)
       |SELECT CAST(count(*) AS BIGINT) AS k, x_thr,
       |       CAST(sum(t) // $HillK AS BIGINT) AS hill_micros,
       |       CASE WHEN sum(t) // $HillK = 0 THEN NULL
       |            ELSE CAST(1000000000000 // (sum(t) // $HillK) AS BIGINT) END AS alpha_micros
       |FROM terms GROUP BY x_thr""".stripMargin

  /** value-bin width for [[psiDrift]] ($50 levels — value-domain
    * bounded, so the bin set never grows with the corpus). */
  private val PsiBin = 5000L

  /** Population stability index between the stream's first and second
    * calendar halves — THE production drift monitor for a model input:
    * PSI = Σ_bins (p_i − q_i)·ln(p_i/q_i), flagged at 0.1/0.25. Event
    * values land in $50 bins; each half's bin shares are Laplace-
    * smoothed exact micros ((n+1)·10⁶ div (N+B) — empty bins must not
    * produce ln 0); each term ships as the exact pico-scaled product
    * (Δshare_micros · ln_micros), with the total repeated per row (the
    * bootstrap lo/hi convention).
    *
    * The ln ratio is computed from the EXACT INTEGER cross-products
    * ((n_a+1)·(N_b+B)) / ((n_b+1)·(N_a+B)) — never from the quantized
    * shares: once a half exceeds 10⁶ events the micros share of a rare
    * bin floors to 0 and share-based ln(p/q) hits ±∞ / ANSI
    * DIVIDE_BY_ZERO (probe-caught at 64×, where halves are ~3.2 M
    * events). The cross-products ride DECIMAL(38,0)/HUGEINT and meet
    * the one double ln at full precision (the dsir_weights ratio
    * convention); a both-floored bin contributes Δshare 0 · ln = 0
    * exactly as its true term rounds to.
    *
    * Scale shape: the stream collapses to (half, bin, count) cells in
    * one partial-aggregated pass; everything after is bin-set-sized.
    * The half split needs the calendar extent — one 1-row min/max
    * aggregate broadcast back (bounded driver-free metadata). */
  def psiDrift(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val ev = Tables.events(spark, dir)
      .select(expr("unix_millis(ts) div 86400000").as("day"),
        expr(s"CAST(round(value * 100) AS BIGINT) div $PsiBin").as("bin"))
    val ext = ev.agg(min("day").as("lo"), max("day").as("hi"))
    // bin-set-sized; feeds totals and terms
    val cells = ck.ckpt(ev.crossJoin(broadcast(ext))
      .select(col("bin"), (col("day") * 2 < col("lo") + col("hi")).as("first_half"))
      .groupBy("bin")
      .agg(sum(when(col("first_half"), 1L).otherwise(0L)).as("na"),
        sum(when(!col("first_half"), 1L).otherwise(0L)).as("nb")))
    val tot = cells.agg(sum("na").as("ta"), sum("nb").as("tb"),
      count(lit(1)).as("bcnt"))
    // feeds the total and the per-bin output
    val terms = ck.ckpt(cells.crossJoin(broadcast(tot))
      .select(col("bin"), col("na"), col("nb"), col("ta"), col("tb"), col("bcnt"),
        expr("CAST(((na + 1) * 1000000) div (ta + bcnt) AS BIGINT)").as("p_micros"),
        expr("CAST(((nb + 1) * 1000000) div (tb + bcnt) AS BIGINT)").as("q_micros"))
      .select(col("bin"), col("na"), col("nb"), col("p_micros"), col("q_micros"),
        expr("""(p_micros - q_micros) *
               |CAST(round(ln(CAST((CAST(na AS DECIMAL(38,0)) + 1) * (tb + bcnt) AS DOUBLE) /
               |              CAST((CAST(nb AS DECIMAL(38,0)) + 1) * (ta + bcnt) AS DOUBLE))
               |     * 1000000) AS BIGINT)""".stripMargin).as("term_pico")))
    val total = terms.agg(sum("term_pico").as("psi_pico"))
    terms.crossJoin(broadcast(total))
      .select(col("bin"), col("na"), col("nb"), col("p_micros"), col("q_micros"),
        col("term_pico"), col("psi_pico"))
      .orderBy("bin")
  }

  private val psiSql: String =
    s"""WITH ev AS (
       |  SELECT epoch_ms(ts) // 86400000 AS day,
       |         CAST(round(value * 100) AS BIGINT) // $PsiBin AS bin
       |  FROM events
       |), ext AS (SELECT min(day) AS lo, max(day) AS hi FROM ev),
       |cells AS (
       |  SELECT bin,
       |         CAST(sum(CASE WHEN day * 2 < lo + hi THEN 1 ELSE 0 END) AS BIGINT) AS na,
       |         CAST(sum(CASE WHEN day * 2 < lo + hi THEN 0 ELSE 1 END) AS BIGINT) AS nb
       |  FROM ev CROSS JOIN ext GROUP BY bin
       |), tot AS (
       |  SELECT CAST(sum(na) AS BIGINT) AS ta, CAST(sum(nb) AS BIGINT) AS tb,
       |         CAST(count(*) AS BIGINT) AS bcnt
       |  FROM cells
       |), terms AS (
       |  SELECT bin, na, nb, ta, tb, bcnt,
       |         CAST(((na + 1) * 1000000) // (ta + bcnt) AS BIGINT) AS p_micros,
       |         CAST(((nb + 1) * 1000000) // (tb + bcnt) AS BIGINT) AS q_micros
       |  FROM cells CROSS JOIN tot
       |), scored AS (
       |  SELECT bin, na, nb, p_micros, q_micros,
       |         (p_micros - q_micros) *
       |           CAST(round(ln(CAST((CAST(na AS HUGEINT) + 1) * (tb + bcnt) AS DOUBLE) /
       |                         CAST((CAST(nb AS HUGEINT) + 1) * (ta + bcnt) AS DOUBLE))
       |                * 1000000) AS BIGINT) AS term_pico
       |  FROM terms
       |)
       |SELECT s.bin, s.na, s.nb, s.p_micros, s.q_micros, s.term_pico, t.psi_pico
       |FROM scored s CROSS JOIN (SELECT CAST(sum(term_pico) AS BIGINT) AS psi_pico FROM scored) t
       |ORDER BY s.bin""".stripMargin

  /** resample count for [[bootstrapCi]]. */
  private val BootB = 32

  /** Poisson(1) CDF in integral micros — the inverse-CDF table that
    * turns a uniform hash into a bootstrap multiplicity 0..6 (mass
    * beyond 6 is < 10⁻⁴ and folds into the last bucket). */
  private val PoissonCdfMicros = Seq(367879L, 735759L, 919699L, 981012L, 996340L, 999406L)

  /** Bootstrap confidence interval for the mean purchase value via the
    * POISSON bootstrap (Chamandy et al. 2012) — the only bootstrap that
    * works on data too large to index: instead of drawing n rows with
    * replacement (which needs global coordination), each row enters
    * resample b with multiplicity ~ Poisson(1), independently — one
    * scan, no shuffle of raw rows, embarrassingly partition-parallel.
    * Derandomized: the multiplicity comes from a Knuth-hash of
    * (event_id, b) through the exact integral-micros Poisson CDF table,
    * so both engines draw identical "randomness" (the random_walks
    * derandomization convention). All [[BootB]] resample sums ride ONE
    * partial-aggregated pass as 2·B aggregate columns — the map side
    * never replicates rows. The 5%/95% CI bounds are type-1 order
    * statistics over the B=32 resample means (a CONSTANT 32-cell set;
    * the vocab_coverage window convention). Means are exact integral
    * micros of cents. */
  def bootstrapCi(spark: SparkSession, dir: String): DataFrame =
    bootstrapCi(spark, dir, materialize = true)

  /** `materialize = false` keeps the pipeline lazy so `PlanSpec` can
    * assert the one-pass no-explode shape through what the served
    * path's checkpoint would truncate. */
  private[graft] def bootstrapCi(
      spark: SparkSession, dir: String, materialize: Boolean): DataFrame = Checkpoints.scope { ck =>
    val ev = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), cents(col("value")).as("x"))
    def mult(b: Int): Column = {
      val u = expr(s"((((event_id % 999983) * 31 + $b) % 999983) * 2654435761) % 1000000")
      PoissonCdfMicros.zipWithIndex.foldRight(lit(6L)) { case ((thr, i), acc) =>
        when(u < thr, lit(i.toLong)).otherwise(acc)
      }
    }
    val aggs = (0 until BootB).flatMap { b =>
      val m = mult(b)
      Seq(sum(m).as(s"n_$b"), sum(m * col("x")).as(s"s_$b"))
    }
    val one = ev.agg(aggs.head, aggs.tail: _*)
    val means = one
      .select(expr("stack(" + BootB + ", " +
        (0 until BootB).map(b => s"CAST($b AS BIGINT), n_$b, s_$b").mkString(", ") +
        ") AS (b, n, sum_cents)"))
      .select(col("b"), col("n"), col("sum_cents"),
        when(col("n") > 0,
          expr("CAST((CAST(sum_cents AS DECIMAL(38,0)) * 1000000) div n AS BIGINT)"))
          .as("mean_micros"))
    val meansM = // 32 cells; feed the rank window and the output
      if (materialize) ck.ckpt(means) else means
    val w = Window.orderBy(col("mean_micros"), col("b"))
    val ranked = meansM.withColumn("rk", row_number().over(w))
    val lo = ranked.filter(col("rk") === 2).select(col("mean_micros").as("lo_micros"))
    val hi = ranked.filter(col("rk") === BootB - 1).select(col("mean_micros").as("hi_micros"))
    meansM.crossJoin(broadcast(lo)).crossJoin(broadcast(hi)).orderBy("b")
  }

  private val bootstrapSql: String = {
    val caseExpr = PoissonCdfMicros.zipWithIndex
      .map { case (thr, i) => s"WHEN u < $thr THEN $i" }
      .mkString("CASE ", " ", " ELSE 6 END")
    s"""WITH ev AS (
       |  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS x
       |  FROM events WHERE event_type = 'purchase'
       |), bs AS (SELECT unnest(generate_series(0, ${BootB - 1})) AS b),
       |m AS (
       |  SELECT b, x, $caseExpr AS mm FROM (
       |    SELECT b, x,
       |           ((((event_id % 999983) * 31 + b) % 999983) * 2654435761) % 1000000 AS u
       |    FROM ev CROSS JOIN bs)
       |), cells AS (
       |  SELECT CAST(b AS BIGINT) AS b, CAST(sum(mm) AS BIGINT) AS n,
       |         CAST(sum(mm * x) AS BIGINT) AS sum_cents
       |  FROM m GROUP BY b
       |), means AS (
       |  SELECT b, n, sum_cents,
       |         CASE WHEN n > 0
       |              THEN CAST((CAST(sum_cents AS HUGEINT) * 1000000) // n AS BIGINT)
       |         END AS mean_micros
       |  FROM cells
       |), ranked AS (
       |  SELECT *, row_number() OVER (ORDER BY mean_micros NULLS FIRST, b) AS rk FROM means
       |)
       |SELECT means.b, means.n, means.sum_cents, means.mean_micros,
       |       (SELECT mean_micros FROM ranked WHERE rk = 2) AS lo_micros,
       |       (SELECT mean_micros FROM ranked WHERE rk = ${BootB - 1}) AS hi_micros
       |FROM means ORDER BY b""".stripMargin
  }

  /** Split-conformal filter gate (Vovk's split-conformal recipe): pick
    * the LM-score threshold that keeps ≥90% of good documents with a
    * finite-sample guarantee, then audit it on held-out data. Even
    * doc_ids are the CALIBRATION split (the stupid_backoff held-out
    * convention): among calibration docs labeled keep, the threshold is
    * the exact type-1 10th-percentile score (rank ⌈0.1·n⌉ — integer
    * rank selection over (score, count) cells, no interpolation, the
    * group_quantiles convention); odd doc_ids are the TEST split, where
    * the empirical coverage (share of keep-labeled docs scoring ≥ t) is
    * reported in exact micros. One summary row: calibration size,
    * threshold, test-side counts and coverage.
    *
    * Scale shape: the corpus-sized work is the shared score+label join;
    * the quantile runs over (distinct score)-sized cells with a single
    * bounded cumulative window, and the audit is one conditional
    * aggregate — no row-level sort anywhere. */
  def conformalFilter(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val score = TextAnalysis.lmBigramScore(spark, dir).select("doc_id", "avg_micros")
    val label = Curation.qualityClassifier(spark, dir).select("doc_id", "keep")
    // feeds the calibration quantile and the test audit
    val joined = ck.ckpt(score.join(label, "doc_id"))
    val cal = joined.filter(col("doc_id") % 2 === 0 && col("keep"))
    val cells = cal.groupBy(col("avg_micros").as("v")).agg(count(lit(1)).as("f"))
    val nCal = cal.count() // 1-scalar driver metadata (kmeans convention)
    val rank = (nCal + 9L) / 10L // ceil(0.1 * n)
    val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thr = cells
      .withColumn("cum", sum("f").over(w))
      .filter(col("cum") >= rank)
      .agg(min("v").as("threshold_micros"))
    joined.filter(col("doc_id") % 2 === 1)
      .crossJoin(broadcast(thr))
      .agg(
        lit(nCal).as("n_cal"),
        min("threshold_micros").as("threshold_micros"),
        count(lit(1)).as("n_test"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_test_keep"),
        sum(when(col("keep") && col("avg_micros") >= col("threshold_micros"), 1L)
          .otherwise(0L)).as("n_test_keep_passed"))
      .select(col("n_cal"), col("threshold_micros"), col("n_test"),
        col("n_test_keep"), col("n_test_keep_passed"),
        expr("""CAST((CAST(n_test_keep_passed AS DECIMAL(38,0)) * 1000000)
               |     div n_test_keep AS BIGINT)""".stripMargin).as("coverage_micros"))
  }

  private val conformalSql: String =
    s"""WITH $aucCellsSql,
       |j2 AS (
       |  SELECT f.doc_id, s.avg_micros AS v,
       |         (8 * f.na_ - 6 * (f.nc - f.na_) + 40 * f.ns + 2 * f.nt - 1200) > 0 AS keep
       |  FROM (${TextAnalysis.lmBigramSql}) s JOIN f USING (doc_id)
       |), cal AS (
       |  SELECT v FROM j2 WHERE doc_id % 2 = 0 AND keep
       |), nc AS (SELECT count(*) AS n_cal FROM cal),
       |ccells AS (
       |  SELECT v, count(*) AS f FROM cal GROUP BY v
       |), thr AS (
       |  SELECT min(v) AS threshold_micros FROM (
       |    SELECT v, sum(f) OVER (ORDER BY v) AS cum FROM ccells
       |  ) CROSS JOIN nc WHERE cum >= (n_cal + 9) // 10
       |)
       |SELECT CAST(n_cal AS BIGINT) AS n_cal,
       |       CAST(threshold_micros AS BIGINT) AS threshold_micros,
       |       CAST(count(*) AS BIGINT) AS n_test,
       |       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_test_keep,
       |       CAST(sum(CASE WHEN keep AND v >= threshold_micros THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_test_keep_passed,
       |       CAST((CAST(sum(CASE WHEN keep AND v >= threshold_micros THEN 1 ELSE 0 END)
       |                  AS HUGEINT) * 1000000)
       |            // sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS coverage_micros
       |FROM j2 CROSS JOIN thr CROSS JOIN nc
       |WHERE doc_id % 2 = 1
       |GROUP BY n_cal, threshold_micros""".stripMargin

  /** calibration bin count for [[isotonicCalibrate]]: the observed
    * score range splits into this many equal-width integer bins, so the
    * grid is ALWAYS ≤32 cells no matter how the corpus's score
    * distribution concentrates (a fixed absolute width left every
    * fixture score in one bin — LM mean-probability micros cluster in a
    * ~10⁴-wide band of the 10⁶ range). */
  private val IsoBins = 32L

  /** Isotonic calibration (pool-adjacent-violators) of the bigram-LM
    * quality score against the keep label — the calibration step that
    * turns a raw ranking score into a monotone P(keep | score) curve
    * before it gates a corpus. Scores land in ≤[[IsoBins]] equal-width
    * integer bins over the observed score range (range endpoints are
    * exact integer aggregates, so the binning is deterministic);
    * the isotonic fit is computed via the MINIMAX characterization
    *   iso(i) = max_{j ≤ i} min_{k ≥ i} avg(pos over bins j..k)
    * with every interval average quantized to integral micros. Because
    * floor-to-micros is monotone and min/max commute with monotone
    * maps EXACTLY, this equals PAV's exact-rational fit quantized to
    * micros — bit-stable on both engines with no sequential pooling
    * loop anywhere (`StatsSpec` proves equality against a driver-side
    * rational PAV).
    *
    * Scale shape: the corpus-sized work is the score+label join it
    * shares with [[rocAuc]]; after the bin collapse EVERYTHING is
    * bounded by the fixed 21-bin grid (≤231 intervals, ≤4.6k minimax
    * terms) regardless of corpus size. */
  def isotonicCalibrate(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val score = TextAnalysis.lmBigramScore(spark, dir).select("doc_id", "avg_micros")
    val label = Curation.qualityClassifier(spark, dir).select("doc_id", "keep")
    val joined = score.join(label, "doc_id")
    val range = joined.agg(min("avg_micros").as("lo"), max("avg_micros").as("hi"))
    // bin-grid-sized; feeds intervals, minimax, and the output attach
    val cells = ck.ckpt(joined.crossJoin(broadcast(range))
      .groupBy(expr(s"((avg_micros - lo) * $IsoBins) div (hi - lo + 1)").as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("pos")))
    val ivals = cells.select(col("bucket").as("j"))
      .crossJoin(cells.select(col("bucket").as("k")))
      .filter(col("j") <= col("k"))
      .join(cells, col("bucket").between(col("j"), col("k")))
      .groupBy("j", "k")
      .agg(expr("CAST((CAST(sum(pos) AS DECIMAL(38,0)) * 1000000) div sum(n) AS BIGINT)")
        .as("avgq"))
    val iso = ivals
      .join(cells.select(col("bucket").as("i")),
        col("j") <= col("i") && col("i") <= col("k"))
      .groupBy("i", "j").agg(min("avgq").as("mn"))
      .groupBy("i").agg(max("mn").as("iso_micros"))
    cells.join(iso, cells("bucket") === iso("i"))
      .select(col("bucket"), col("n"), col("pos"),
        expr("CAST((CAST(pos AS DECIMAL(38,0)) * 1000000) div n AS BIGINT)").as("raw_micros"),
        col("iso_micros"))
      .orderBy("bucket")
  }

  private val isotonicSql: String =
    s"""WITH $aucCellsSql,
       |rng AS (
       |  SELECT min(v) AS lo, max(v) AS hi FROM cells
       |), bins AS (
       |  SELECT ((v - lo) * $IsoBins) // (hi - lo + 1) AS bucket,
       |         CAST(sum(na + nb) AS BIGINT) AS n,
       |         CAST(sum(na) AS BIGINT) AS pos
       |  FROM cells CROSS JOIN rng GROUP BY bucket
       |), ivals AS (
       |  SELECT b1.bucket AS j, b2.bucket AS k,
       |         CAST((CAST(sum(c.pos) AS HUGEINT) * 1000000) // sum(c.n) AS BIGINT) AS avgq
       |  FROM bins b1 JOIN bins b2 ON b1.bucket <= b2.bucket
       |  JOIN bins c ON c.bucket BETWEEN b1.bucket AND b2.bucket
       |  GROUP BY j, k
       |), mink AS (
       |  SELECT i.bucket AS i, v.j, min(avgq) AS mn
       |  FROM ivals v JOIN bins i ON v.j <= i.bucket AND i.bucket <= v.k
       |  GROUP BY i.bucket, v.j
       |), iso AS (
       |  SELECT i, CAST(max(mn) AS BIGINT) AS iso_micros FROM mink GROUP BY i
       |)
       |SELECT b.bucket, b.n, b.pos,
       |       CAST((CAST(b.pos AS HUGEINT) * 1000000) // b.n AS BIGINT) AS raw_micros,
       |       iso.iso_micros
       |FROM bins b JOIN iso ON iso.i = b.bucket
       |ORDER BY b.bucket""".stripMargin

  /** Rolling robust anomaly detection over each event type's daily
    * volume series — the day-granular alarm beside [[changepointCusum]]
    * (which finds ONE level shift; this flags individual outlier days
    * against a trailing baseline, the "did yesterday's ingest spike?"
    * monitor). A day is anomalous when its count deviates from the
    * trailing window's MEDIAN by more than 5× the window's MAD — both
    * robust, so a previous spike inside the window cannot mask the next
    * one (the mean/stddev failure mode).
    *
    * Exactness ([[robustOutliers]] convention, applied per window):
    * order statistics are carried DOUBLED — med2 = lo+hi of the sorted
    * window, deviations 2·|2x−med2| stay even, mad4 = lo+hi of the
    * sorted doubled deviations — so the flag |4n − 2·med2| > 5·mad4 is
    * pure integer arithmetic, no interpolation ever happening.
    *
    * Scale shape: cells-before-windows — the stream collapses to
    * (type, day, n) cells first, the trailing window (previous ≤28
    * OBSERVED days, ≥8 required) runs per type over O(days) cells with
    * a ≤28-element list per cell; never a data-sized window. */
  def anomalyMad(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("day").rowsBetween(-28, -1)
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), expr("unix_millis(ts) div 86400000").as("day"))
      .agg(count(lit(1)).as("n"))
    daily
      .withColumn("ws", sort_array(collect_list(col("n")).over(w)))
      .filter(size(col("ws")) >= 8)
      .withColumn("m", size(col("ws")).cast("long"))
      .withColumn("med2", expr(
        """CASE WHEN m % 2 = 1 THEN 2 * element_at(ws, CAST((m + 1) div 2 AS INT))
          |ELSE element_at(ws, CAST(m div 2 AS INT)) +
          |     element_at(ws, CAST(m div 2 + 1 AS INT)) END""".stripMargin))
      .withColumn("ds", expr("array_sort(transform(ws, x -> abs(2 * x - med2)))"))
      .withColumn("mad4", expr(
        """CASE WHEN m % 2 = 1 THEN 2 * element_at(ds, CAST((m + 1) div 2 AS INT))
          |ELSE element_at(ds, CAST(m div 2 AS INT)) +
          |     element_at(ds, CAST(m div 2 + 1 AS INT)) END""".stripMargin))
      .select(col("event_type"), col("day"), col("n"), col("m").as("n_window"),
        col("med2"), col("mad4"),
        (abs(lit(4) * col("n") - lit(2) * col("med2")) > lit(5) * col("mad4"))
          .as("is_anomaly"))
      .orderBy("event_type", "day")
  }

  private val anomalyMadSql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_ms(ts) // 86400000 AS day,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY event_type, day
      |), win AS (
      |  SELECT event_type, day, n,
      |         list(n) OVER (PARTITION BY event_type ORDER BY day
      |           ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING) AS w
      |  FROM daily
      |), c AS (
      |  SELECT event_type, day, n, list_sort(w) AS ws, CAST(len(w) AS BIGINT) AS m
      |  FROM win WHERE len(w) >= 8
      |), med AS (
      |  SELECT *, CASE WHEN m % 2 = 1 THEN 2 * ws[CAST((m + 1) // 2 AS INT)]
      |            ELSE ws[CAST(m // 2 AS INT)] + ws[CAST(m // 2 + 1 AS INT)] END AS med2
      |  FROM c
      |), dev AS (
      |  SELECT *, list_sort(list_transform(ws, x -> abs(2 * x - med2))) AS ds FROM med
      |), mad AS (
      |  SELECT *, CASE WHEN m % 2 = 1 THEN 2 * ds[CAST((m + 1) // 2 AS INT)]
      |            ELSE ds[CAST(m // 2 AS INT)] + ds[CAST(m // 2 + 1 AS INT)] END AS mad4
      |  FROM dev
      |)
      |SELECT event_type, day, n, m AS n_window, CAST(med2 AS BIGINT) AS med2,
      |       CAST(mad4 AS BIGINT) AS mad4,
      |       abs(4 * n - 2 * med2) > 5 * mad4 AS is_anomaly
      |FROM mad ORDER BY event_type, day""".stripMargin

  /** Least-squares TREND of each event type's daily volume series —
    * the "is this source growing or dying?" monitor beside
    * [[changepointCusum]] (single break) and [[anomalyMad]] (outlier
    * days): slope and intercept of n ~ day, plus the sign of the slope
    * as a verdict. One cells pass (type, day, n), then the five
    * algebraic sums per type — nothing here is more than O(types) rows
    * after the first aggregation.
    *
    * Exactness: slope = (m·Σxy − Σx·Σy) / (m·Σx² − (Σx)²) is a RATIONAL
    * of integer sums; both numerator and denominator ship exactly in
    * DECIMAL(38,0)/HUGEINT (x = day − min_day keeps the magnitudes
    * small), and the slope is emitted as welch_t-style integral micros
    * with the sign applied after dividing absolute values. Days are
    * centered per type so a 100 TB epoch-day (~20k) cannot inflate the
    * composites. */
  /** Theil–Sen robust trend of each event type's daily volumes — the
    * median of all pairwise slopes, the estimator that shrugs off the
    * outlier days that drag [[volumeTrend]]'s least-squares line (up to
    * ~29% contamination). Slopes are quantized to exact integral micros
    * ((Δy·10⁶) div Δx with sign-after-abs) BEFORE the median, so the
    * order statistic is over plain integers — no cross-engine rational
    * comparison; the median is the type-1 lower median (rank ⌈n/2⌉,
    * deterministic, the group_quantiles convention).
    *
    * Scale shape: the stream collapses to (type, day, count) cells
    * first; the pair set is C(days, 2) per type — CALENDAR-bounded
    * (years of 100 TB stream ≈ 10³ days → ≤10⁶ pairs per type), never
    * stream-sized; the median selection runs on a type-partitioned
    * cumulative window over (type, slope, freq) cells. */
  def theilsenTrend(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val daily = ck.ckpt(Tables.events(spark, dir)
      .groupBy(col("event_type"), expr("unix_millis(ts) div 86400000").as("day"))
      .agg(count(lit(1)).as("y"))) // calendar-bounded; feeds both pair sides
    val pairs = daily.as("a")
      .join(daily.as("b"),
        col("a.event_type") === col("b.event_type") && col("a.day") < col("b.day"))
      .select(col("a.event_type").as("event_type"),
        expr("""CAST(CASE WHEN b.y < a.y THEN -1 ELSE 1 END *
               |  ((abs(CAST(b.y AS DECIMAL(38,0)) - a.y) * 1000000)
               |   div (b.day - a.day)) AS BIGINT)""".stripMargin).as("s"))
    val cells = pairs.groupBy("event_type", "s").agg(count(lit(1)).as("f"))
    val tot = cells.groupBy("event_type").agg(sum("f").as("n"))
    val w = Window.partitionBy("event_type").orderBy("s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("cum", sum("f").over(w))
      .join(broadcast(tot), "event_type")
      .filter(col("cum") >= expr("(n + 1) div 2"))
      .groupBy(col("event_type"), col("n").as("n_pairs"))
      .agg(min("s").as("slope_micros"))
      .select(col("event_type"), col("n_pairs"), col("slope_micros"),
        when(col("slope_micros") < 0, "falling")
          .when(col("slope_micros") > 0, "rising").otherwise("flat").as("trend"))
      .orderBy("event_type")
  }

  private val theilsenSql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_ms(ts) // 86400000 AS day,
      |         CAST(count(*) AS BIGINT) AS y
      |  FROM events GROUP BY event_type, day
      |), pairs AS (
      |  SELECT a.event_type,
      |         CAST((CASE WHEN b.y < a.y THEN -1 ELSE 1 END) *
      |           ((abs(CAST(b.y AS HUGEINT) - a.y) * 1000000)
      |            // (b.day - a.day)) AS BIGINT) AS s
      |  FROM daily a JOIN daily b
      |    ON a.event_type = b.event_type AND a.day < b.day
      |), cells AS (
      |  SELECT event_type, s, CAST(count(*) AS BIGINT) AS f
      |  FROM pairs GROUP BY event_type, s
      |), cum AS (
      |  SELECT event_type, s, f,
      |         sum(f) OVER (PARTITION BY event_type ORDER BY s) AS cum
      |  FROM cells
      |), tot AS (
      |  SELECT event_type, CAST(sum(f) AS BIGINT) AS n FROM cells GROUP BY event_type
      |)
      |SELECT c.event_type, t.n AS n_pairs, CAST(min(c.s) AS BIGINT) AS slope_micros,
      |       CASE WHEN min(c.s) < 0 THEN 'falling'
      |            WHEN min(c.s) > 0 THEN 'rising' ELSE 'flat' END AS trend
      |FROM cum c JOIN tot t USING (event_type)
      |WHERE c.cum >= (t.n + 1) // 2
      |GROUP BY c.event_type, t.n
      |ORDER BY c.event_type""".stripMargin

  /** Winsorized per-type aggregates: values clamped at the exact type-1
    * 5th/95th percentiles before summation — the standard outlier
    * treatment a feature pipeline applies before a mean is trusted
    * (complements [[robustOutliers]], which only COUNTS outliers).
    * Percentile bounds are integer rank selections (rank ⌈q·n⌉) over
    * (type, cents, freq) cells on a type-partitioned cumulative window
    * — no interpolation, no global sort; bounds broadcast back and the
    * clamp + re-aggregate is one partial-aggregated pass over cells. */
  def winsorize(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val cells = ck.ckpt(Tables.events(spark, dir)
      .select(col("event_type").as("t"), cents(col("value")).as("v"))
      .groupBy("t", "v").agg(count(lit(1)).as("f"))) // feeds the bound selection and the clamp pass
    val tot = cells.groupBy("t").agg(sum("f").as("n"))
    val w = Window.partitionBy("t").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = cells.withColumn("cum", sum("f").over(w)).join(broadcast(tot), "t")
    def bound(q: Int, name: String) = cum
      .filter(col("cum") * 100 >= col("n") * q)
      .groupBy("t").agg(min("v").as(name))
    val bounds = bound(5, "lo").join(bound(95, "hi"), "t")
    cells.join(broadcast(bounds), "t")
      .select(col("t"), col("f"), col("v"), col("lo"), col("hi"),
        greatest(col("lo"), least(col("hi"), col("v"))).as("vw"))
      .groupBy(col("t").as("event_type"), col("lo").as("p5_cents"), col("hi").as("p95_cents"))
      .agg(
        sum("f").as("n"),
        sum(col("f") * col("v")).as("sum_cents"),
        sum(col("f") * col("vw")).as("winsorized_cents"),
        sum(when(col("v") < col("lo"), col("f")).otherwise(0L)).as("n_clamped_lo"),
        sum(when(col("v") > col("hi"), col("f")).otherwise(0L)).as("n_clamped_hi"))
      .orderBy("event_type")
  }

  private val winsorizeSql: String =
    """WITH ev AS (
      |  SELECT event_type AS t, CAST(round(value * 100) AS BIGINT) AS v FROM events
      |), cells AS (
      |  SELECT t, v, CAST(count(*) AS BIGINT) AS f FROM ev GROUP BY t, v
      |), tot AS (SELECT t, CAST(sum(f) AS BIGINT) AS n FROM cells GROUP BY t),
      |cum AS (
      |  SELECT c.t, c.v, c.f, sum(c.f) OVER (PARTITION BY c.t ORDER BY c.v) AS cum, tot.n
      |  FROM cells c JOIN tot USING (t)
      |), lo AS (
      |  SELECT t, CAST(min(v) AS BIGINT) AS lo FROM cum WHERE cum * 100 >= n * 5 GROUP BY t
      |), hi AS (
      |  SELECT t, CAST(min(v) AS BIGINT) AS hi FROM cum WHERE cum * 100 >= n * 95 GROUP BY t
      |)
      |SELECT c.t AS event_type, lo.lo AS p5_cents, hi.hi AS p95_cents,
      |       CAST(sum(c.f) AS BIGINT) AS n,
      |       CAST(sum(c.f * c.v) AS BIGINT) AS sum_cents,
      |       CAST(sum(c.f * greatest(lo.lo, least(hi.hi, c.v))) AS BIGINT) AS winsorized_cents,
      |       CAST(sum(CASE WHEN c.v < lo.lo THEN c.f ELSE 0 END) AS BIGINT) AS n_clamped_lo,
      |       CAST(sum(CASE WHEN c.v > hi.hi THEN c.f ELSE 0 END) AS BIGINT) AS n_clamped_hi
      |FROM cells c JOIN lo USING (t) JOIN hi USING (t)
      |GROUP BY c.t, lo.lo, hi.hi
      |ORDER BY event_type""".stripMargin

  def volumeTrend(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), expr("unix_millis(ts) div 86400000").as("day"))
      .agg(count(lit(1)).as("y"))
    val based = daily
      .withColumn("x", col("day") - min("day").over(
        org.apache.spark.sql.expressions.Window.partitionBy("event_type")))
    val s = based.groupBy("event_type").agg(
      count(lit(1)).as("m"), sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
    s.select(
        col("event_type"), col("m"),
        (col("m").cast("decimal(38,0)") * col("sxy") -
          col("sx").cast("decimal(38,0)") * col("sy")).as("num"),
        (col("m").cast("decimal(38,0)") * col("sxx") -
          col("sx").cast("decimal(38,0)") * col("sx")).as("den"))
      .select(
        col("event_type"), col("m").as("n_days"),
        expr("""CASE WHEN den = 0 THEN NULL
               |ELSE CAST(CASE WHEN num < 0 THEN -1 ELSE 1 END *
               |  ((abs(num) * 1000000) div den) AS BIGINT) END""".stripMargin)
          .as("slope_micros"),
        expr("""CASE WHEN num < 0 THEN 'falling' WHEN num > 0 THEN 'rising'
               |ELSE 'flat' END""".stripMargin).as("trend"))
      .orderBy("event_type")
  }

  private val volumeTrendSql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_ms(ts) // 86400000 AS day,
      |         CAST(count(*) AS BIGINT) AS y
      |  FROM events GROUP BY event_type, day
      |), based AS (
      |  SELECT event_type, day - min(day) OVER (PARTITION BY event_type) AS x, y
      |  FROM daily
      |), s AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS m,
      |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |         CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
      |  FROM based GROUP BY event_type
      |), c AS (
      |  SELECT event_type, m,
      |         CAST(m AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
      |         CAST(m AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS den
      |  FROM s
      |)
      |SELECT event_type, m AS n_days,
      |       CASE WHEN den = 0 THEN NULL
      |            ELSE CAST(CASE WHEN num < 0 THEN -1 ELSE 1 END *
      |                      ((abs(num) * 1000000) // den) AS BIGINT) END AS slope_micros,
      |       CASE WHEN num < 0 THEN 'falling' WHEN num > 0 THEN 'rising'
      |            ELSE 'flat' END AS trend
      |FROM c ORDER BY event_type""".stripMargin

  /** Benford first-digit conformance test over order totals — the
    * classic synthetic-data / fraud screen: a naturally-grown money
    * column follows P(d) = log10(1 + 1/d), a generated or tampered one
    * usually doesn't. Emits all nine digits (spine join, so empty
    * digits still report) with observed count, observed frequency, the
    * Benford expectation, and the chi-square contribution.
    *
    * Exactness: the nine expected probabilities are pre-quantized
    * micro literals that sum to exactly 1,000,000 (same constants in
    * both engines — no runtime log10, which is not hash-gateable), and
    * the chi-square contribution (obs·10⁶ − n·exp)² div (n·exp) is one
    * integral division over DECIMAL(38,0)/HUGEINT composites.
    *
    * Scale shape: one map-side-combined count per leading digit (nine
    * groups), one broadcast 1-row total; the digit of an exact cents
    * BIGINT comes from its decimal string, identical on both engines. */
  def benfordTest(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.orders(spark, dir).select(cents(col("o_totalprice")).as("v"))
    val obs = v
      .select(substring(col("v").cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("obs"))
    val nT = v.agg(count(lit(1)).as("n"))
    val spine = spark.range(1L, 10L).select(col("id").as("digit"))
      .withColumn("exp_micros", expr(BenfordCase))
    spine.join(obs, Seq("digit"), "left")
      .crossJoin(broadcast(nT))
      .select(
        col("digit"),
        coalesce(col("obs"), lit(0L)).as("obs"),
        col("exp_micros"),
        expr("coalesce(obs, 0) * 1000000 div n").as("obs_micros"),
        expr("""CAST(((CAST(coalesce(obs, 0) AS DECIMAL(38,0)) * 1000000
               |       - CAST(n AS DECIMAL(38,0)) * exp_micros)
               |      * (CAST(coalesce(obs, 0) AS DECIMAL(38,0)) * 1000000
               |       - CAST(n AS DECIMAL(38,0)) * exp_micros))
               |     div (CAST(n AS DECIMAL(38,0)) * exp_micros) AS BIGINT)""".stripMargin)
          .as("chi2_micros"))
      .orderBy("digit")
  }

  /** log10(1+1/d) in micros; the nine constants sum to exactly 10⁶. */
  private val BenfordCase: String =
    """CAST(CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091 WHEN 3 THEN 124939
      |     WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66947
      |     WHEN 7 THEN 57992 WHEN 8 THEN 51153 ELSE 45757 END AS BIGINT)""".stripMargin

  private val benfordSql: String =
    s"""WITH cent AS (
       |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders
       |), obs AS (
       |  SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS BIGINT) AS digit,
       |         CAST(count(*) AS BIGINT) AS obs
       |  FROM cent GROUP BY 1
       |), nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM cent
       |), spine AS (
       |  SELECT CAST(range AS BIGINT) AS digit,
       |         ${BenfordCase.replace("\n", " ")} AS exp_micros
       |  FROM range(1, 10)
       |), d AS (
       |  SELECT s.digit, CAST(coalesce(o.obs, 0) AS BIGINT) AS obs, s.exp_micros, nt.n,
       |         CAST(coalesce(o.obs, 0) AS HUGEINT) * 1000000
       |           - CAST(nt.n AS HUGEINT) * s.exp_micros AS delta
       |  FROM spine s LEFT JOIN obs o ON o.digit = s.digit CROSS JOIN nt
       |)
       |SELECT digit, obs, exp_micros,
       |       CAST(obs * 1000000 // n AS BIGINT) AS obs_micros,
       |       CAST((delta * delta) // (CAST(n AS HUGEINT) * exp_micros) AS BIGINT)
       |         AS chi2_micros
       |FROM d ORDER BY digit""".stripMargin

  /** Gini concentration coefficient of order revenue per priority class
    * — the inequality diagnostic behind source-mixing decisions ("does
    * 1% of the orders carry 50% of the spend?"). Standard rank formula
    * G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over ascending-sorted values.
    *
    * Scale shape: values are quantized to whole dollars BEFORE any
    * ordered operation, so the per-class window runs over (class,
    * dollar, count) cells whose cardinality is bounded by the VALUE
    * DOMAIN (max order total in dollars), never by row count — the
    * cells-before-windows discipline from `quantile_normalize`. The
    * rank sum of a run of `cnt` equal values starting after `cumb`
    * predecessors is cnt·(2·cumb + cnt + 1)/2, always an even product,
    * so every composite stays an exact DECIMAL(38,0)/HUGEINT integer
    * and the coefficient ships as one integral division to micros. */
  def giniCoefficient(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("pri"),
        cents(col("o_totalprice")).as("c"))
      .select(col("pri"), expr("c div 100").as("v"))
      .groupBy("pri", "v").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("pri").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = cells
      .withColumn("cumb", coalesce(sum("cnt").over(w), lit(0L)))
      .select(col("pri"), col("v"), col("cnt"),
        expr("""CAST(cnt AS DECIMAL(38,0)) *
               |  (2 * CAST(cumb AS DECIMAL(38,0)) + cnt + 1) div 2""".stripMargin)
          .as("ranksum"))
    ranked.groupBy("pri")
      .agg(
        sum("cnt").as("n"),
        sum(expr("CAST(v AS DECIMAL(38,0)) * cnt")).as("s"),
        sum(expr("CAST(v AS DECIMAL(38,0)) * ranksum")).as("s1"))
      .select(
        col("pri").as("o_orderpriority"), col("n").cast("long").as("n"),
        col("s").cast("long").as("sum_dollars"),
        expr("CAST((2 * s1 - (CAST(n AS DECIMAL(38,0)) + 1) * s) * 1000000 div (CAST(n AS DECIMAL(38,0)) * s) AS BIGINT)")
          .as("gini_micros"))
      .orderBy("o_orderpriority")
  }

  private val giniSql: String =
    """WITH cells AS (
      |  SELECT o_orderpriority AS pri,
      |         CAST(round(o_totalprice * 100) AS BIGINT) // 100 AS v,
      |         CAST(count(*) AS BIGINT) AS cnt
      |  FROM orders GROUP BY pri, v
      |), ranked AS (
      |  SELECT pri, v, cnt,
      |         CAST(coalesce(sum(cnt) OVER (PARTITION BY pri ORDER BY v
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumb
      |  FROM cells
      |), rs AS (
      |  SELECT pri, v, cnt,
      |         (CAST(cnt AS HUGEINT) * (2 * CAST(cumb AS HUGEINT) + cnt + 1)) // 2 AS ranksum
      |  FROM ranked
      |), agg AS (
      |  SELECT pri, CAST(sum(cnt) AS BIGINT) AS n,
      |         CAST(sum(CAST(v AS HUGEINT) * cnt) AS HUGEINT) AS s,
      |         CAST(sum(CAST(v AS HUGEINT) * ranksum) AS HUGEINT) AS s1
      |  FROM rs GROUP BY pri
      |)
      |SELECT pri AS o_orderpriority, n, CAST(s AS BIGINT) AS sum_dollars,
      |       CAST((2 * s1 - (CAST(n AS HUGEINT) + 1) * s) * 1000000
      |            // (CAST(n AS HUGEINT) * s) AS BIGINT) AS gini_micros
      |FROM agg ORDER BY o_orderpriority""".stripMargin

  /** Mutual information between two categorical columns (the feature-
    * relevance / redundancy screen run before keeping a column in a
    * training table): I(X;Y) = Σ_xy (n_xy/N)·ln(n_xy·N / (n_x·n_y))
    * over the lineitem returnflag × linestatus contingency table. Each
    * cell's ln reads the EXACT integer cross-products through one
    * double division (the psi_drift/dsir convention — never quantized
    * shares), micros-quantized once; the MI total is the exact integer
    * Σ n_xy·ln_micros div N. Output: every cell with its margins, ln
    * and term, plus the MI total repeated per row (the psi convention).
    *
    * Scale shape: the corpus collapses to |X|·|Y| cells in one partial-
    * aggregated pass; margins and N re-attach via broadcastable joins
    * on the ≤|X|+|Y|-row frames. */
  def mutualInfo(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val cells = ck.ckpt(Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag").as("x"), col("l_linestatus").as("y"))
      .agg(count(lit(1)).as("nxy"))) // ≤|X|·|Y| cells; feeds margins, N, and the output
    val mx = cells.groupBy("x").agg(sum("nxy").as("nx"))
    val my = cells.groupBy("y").agg(sum("nxy").as("ny"))
    val nT = cells.agg(sum("nxy").as("n"))
    val terms = ck.ckpt(cells
      .join(broadcast(mx), "x").join(broadcast(my), "y")
      .crossJoin(broadcast(nT))
      .select(col("x"), col("y"), col("nxy"), col("nx"), col("ny"), col("n"),
        expr("""CAST(round(ln(CAST(CAST(nxy AS DECIMAL(38,0)) * n AS DOUBLE) /
               |              CAST(CAST(nx AS DECIMAL(38,0)) * ny AS DOUBLE))
               |     * 1000000) AS BIGINT)""".stripMargin).as("ln_micros"))
      .withColumn("term", col("nxy") * col("ln_micros"))) // feeds the total and the per-cell output
    val tot = terms.agg(expr("CAST(sum(term) div max(n) AS BIGINT)").as("mi_micros"))
    terms.crossJoin(broadcast(tot))
      .select(col("x"), col("y"), col("nxy"), col("nx"), col("ny"),
        col("ln_micros"), col("term"), col("mi_micros"))
      .orderBy("x", "y")
  }

  /** Per-language (slice) ROC AUC of the bigram-LM score vs the
    * quality-classifier keep label — the SLICED form of [[rocAuc]],
    * the audit every production eval runs after the headline number:
    * a global AUC can hide a subgroup where the ranker is broken (or
    * inverted), and in a multilingual corpus the slice axis that
    * matters first is language. Same doubled-U exact-tie algebra per
    * slice; slices where either class is empty ship NULL (undefined),
    * not a fake 0.5.
    *
    * Scale shape: corpus reduces once to (lang, score, na, nb) cells;
    * the cumulation is a LANG-partitioned window over cells (parallel
    * across slices, never a global order — the group_quantiles
    * convention), and everything after is slice-count-sized. */
  def groupAuc(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val score = TextAnalysis.lmBigramScore(spark, dir).select("doc_id", "avg_micros")
    val label = Curation.qualityClassifier(spark, dir).select("doc_id", "keep")
    val lang  = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    // slice×distinct-score cells; feeds cum + totals
    val cells = ck.ckpt(score.join(label, "doc_id").join(lang, "doc_id")
      .groupBy(col("lang"), col("avg_micros").as("v"))
      .agg(
        sum(when(col("keep"), 1L).otherwise(0L)).as("na"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("nb")))
    val w = Window.partitionBy("lang").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val u2 = cells.withColumn("cb", sum("nb").over(w))
      .groupBy("lang")
      .agg(sum(col("na").cast("decimal(38,0)") *
        (lit(2L) * col("cb").cast("decimal(38,0)") - col("nb"))).as("u2_dec"))
    val tots = cells.groupBy("lang")
      .agg(sum("na").as("n_pos"), sum("nb").as("n_neg"))
    u2.join(tots, "lang")
      .select(col("lang"), col("n_pos"), col("n_neg"),
        toLongChecked(col("u2_dec"), "group_auc u2").as("u2"),
        expr("""CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL ELSE
               |CAST((u2_dec * 1000000) div (CAST(n_pos AS DECIMAL(38,0)) * 2 * n_neg)
               |     AS BIGINT) END""".stripMargin).as("auc_micros"))
      .orderBy("lang")
  }

  private val groupAucSql: String =
    s"""WITH f AS (
       |  SELECT doc_id, lang,
       |    CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS nt,
       |    CAST(length(text) AS BIGINT) AS nc,
       |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS na_,
       |    CAST(len(list_filter(string_split(text, ' '),
       |         t -> t IN ('the', 'a', 'of', 'and'))) AS BIGINT) AS ns
       |  FROM documents
       |), j AS (
       |  SELECT f.lang, s.avg_micros AS v,
       |         (8 * f.na_ - 6 * (f.nc - f.na_) + 40 * f.ns + 2 * f.nt - 1200) > 0 AS keep
       |  FROM (${TextAnalysis.lmBigramSql}) s JOIN f USING (doc_id)
       |), cells AS (
       |  SELECT lang, v, sum(CASE WHEN keep THEN 1 ELSE 0 END) AS na,
       |                 sum(CASE WHEN keep THEN 0 ELSE 1 END) AS nb
       |  FROM j GROUP BY lang, v
       |), cum AS (
       |  SELECT lang, na, nb,
       |         sum(nb) OVER (PARTITION BY lang ORDER BY v) AS cb
       |  FROM cells
       |), u AS (
       |  SELECT lang, sum(na * (2 * cb - nb)) AS u2 FROM cum GROUP BY lang
       |), tot AS (
       |  SELECT lang, CAST(sum(na) AS BIGINT) AS n_pos,
       |               CAST(sum(nb) AS BIGINT) AS n_neg
       |  FROM cells GROUP BY lang
       |)
       |SELECT t.lang, t.n_pos, t.n_neg, CAST(u.u2 AS BIGINT) AS u2,
       |  CASE WHEN t.n_pos = 0 OR t.n_neg = 0 THEN NULL ELSE
       |    CAST((CAST(u.u2 AS HUGEINT) * 1000000)
       |         // (CAST(t.n_pos AS HUGEINT) * 2 * t.n_neg) AS BIGINT) END AS auc_micros
       |FROM u JOIN tot t USING (lang)
       |ORDER BY t.lang""".stripMargin

  /** Demographic-parity audit of the [[Curation.qualityClassifier]]
    * keep gate across languages — the bias check a multilingual
    * curation pipeline owes its corpus: per-language keep rate in
    * exact micros, the overall rate, the signed per-language gap, and
    * the corpus-level parity distance (max |gap|). Filters trained or
    * tuned on one language routinely under-keep others; this op makes
    * that a number. Gaps are DIFFERENCES of already-quantized
    * nonnegative rates — no signed division anywhere (the welch_t
    * hazard avoided by construction).
    *
    * Scale shape: one partial-aggregated pass to per-lang (n, keeps);
    * overall and the max-gap are broadcast 1-row aggregates over the
    * lang-count-sized frame. */
  def fairnessParity(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    // lang-count-sized; feeds overall + gaps
    val perLang = ck.ckpt(Curation.qualityClassifier(spark, dir).select("doc_id", "keep")
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("lang")), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep")))
    val overall = perLang.agg(
      expr("CAST((sum(n_keep) * 1000000) div sum(n_docs) AS BIGINT)").as("overall_micros"))
    val gapped = perLang.crossJoin(broadcast(overall))
      .select(col("lang"), col("n_docs"), col("n_keep"),
        expr("CAST((n_keep * 1000000) div n_docs AS BIGINT)").as("rate_micros"),
        col("overall_micros"))
      .withColumn("gap_micros", col("rate_micros") - col("overall_micros"))
    val dist = gapped.agg(max(abs(col("gap_micros"))).as("parity_dist_micros"))
    gapped.crossJoin(broadcast(dist))
      .orderBy("lang")
  }

  private val fairnessParitySql: String =
    """WITH f AS (
      |  SELECT doc_id, lang,
      |    (8 * CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT)
      |     - 6 * (CAST(length(text) AS BIGINT)
      |            - CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT))
      |     + 40 * CAST(len(list_filter(string_split(text, ' '),
      |                  t -> t IN ('the', 'a', 'of', 'and'))) AS BIGINT)
      |     + 2 * CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT)
      |     - 1200) > 0 AS keep
      |  FROM documents
      |), pl AS (
      |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
      |  FROM f GROUP BY lang
      |), ov AS (
      |  SELECT CAST((sum(n_keep) * 1000000) // sum(n_docs) AS BIGINT) AS overall_micros
      |  FROM pl
      |), g AS (
      |  SELECT lang, n_docs, n_keep,
      |         CAST((n_keep * 1000000) // n_docs AS BIGINT) AS rate_micros,
      |         ov.overall_micros,
      |         CAST((n_keep * 1000000) // n_docs AS BIGINT) - ov.overall_micros AS gap_micros
      |  FROM pl CROSS JOIN ov
      |)
      |SELECT g.*, d.parity_dist_micros
      |FROM g CROSS JOIN
      |  (SELECT CAST(max(abs(gap_micros)) AS BIGINT) AS parity_dist_micros FROM g) d
      |ORDER BY lang""".stripMargin

  /** Cramér's V association strength over the same returnflag ×
    * linestatus contingency table as [[mutualInfo]] — the NORMALIZED
    * companion (MI is unbounded and scale-dependent; V ∈ [0,1] answers
    * "how strong", comparable across tables — the screen that decides
    * whether a categorical feature is worth one-hot cost). χ² reduces
    * to the fully RATIONAL identity χ² = n·(S − 1) with
    * S = Σ nxy²/(nx·ny), so unlike MI no logarithm is needed anywhere:
    * per-cell terms quantize to integral picos via DECIMAL(38)/HUGEINT
    * division, and V² ships in exact micros ((S−1)/(m−1), m = min(k,l))
    * — V itself is an irrational sqrt, and x² is monotone, the
    * roc_auc/item_cf convention. Scale shape: one partial-aggregated
    * corpus pass to |X|·|Y| cells; everything after is cell-sized. */
  def cramersV(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val cells = ck.ckpt(Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag").as("x"), col("l_linestatus").as("y"))
      .agg(count(lit(1)).as("nxy"))) // ≤|X|·|Y| cells; feeds margins, N, k, l, terms
    val mx = cells.groupBy("x").agg(sum("nxy").as("nx"))
    val my = cells.groupBy("y").agg(sum("nxy").as("ny"))
    val kl = cells.agg(sum("nxy").as("n"),
      countDistinct("x").as("kx"), countDistinct("y").as("ky"))
    cells
      .join(broadcast(mx), "x").join(broadcast(my), "y")
      .select(expr(
        """CAST((CAST(nxy AS DECIMAL(38,0)) * nxy * 1000000000000)
          |     div (CAST(nx AS DECIMAL(38,0)) * ny) AS DECIMAL(38,0))""".stripMargin)
        .as("t_pico"))
      .agg(sum("t_pico").as("s_pico"))
      .crossJoin(broadcast(kl))
      .select(col("n"), col("kx").cast("long").as("kx"), col("ky").cast("long").as("ky"),
        toLongChecked(col("s_pico"), "cramers_v S").as("s_pico"),
        expr("""CAST((CAST(n AS DECIMAL(38,0)) * (s_pico - 1000000000000))
               |     div 1000000 AS BIGINT)""".stripMargin).as("chi2_micros"),
        expr("""CAST((s_pico - 1000000000000)
               |     div ((least(kx, ky) - 1) * 1000000) AS BIGINT)""".stripMargin)
          .as("v2_micros"))
  }

  private val cramersVSql: String =
    """WITH cells AS (
      |  SELECT l_returnflag AS x, l_linestatus AS y, CAST(count(*) AS BIGINT) AS nxy
      |  FROM lineitem GROUP BY x, y
      |), mx AS (SELECT x, CAST(sum(nxy) AS BIGINT) AS nx FROM cells GROUP BY x
      |), my AS (SELECT y, CAST(sum(nxy) AS BIGINT) AS ny FROM cells GROUP BY y
      |), kl AS (
      |  SELECT CAST(sum(nxy) AS BIGINT) AS n,
      |         CAST(count(DISTINCT x) AS BIGINT) AS kx,
      |         CAST(count(DISTINCT y) AS BIGINT) AS ky
      |  FROM cells
      |), s AS (
      |  SELECT sum((CAST(c.nxy AS HUGEINT) * c.nxy * 1000000000000)
      |             // (CAST(mx.nx AS HUGEINT) * my.ny)) AS s_pico
      |  FROM cells c JOIN mx USING (x) JOIN my USING (y)
      |)
      |SELECT kl.n, kl.kx, kl.ky, CAST(s.s_pico AS BIGINT) AS s_pico,
      |  CAST((CAST(kl.n AS HUGEINT) * (s.s_pico - 1000000000000))
      |       // 1000000 AS BIGINT) AS chi2_micros,
      |  CAST((s.s_pico - 1000000000000)
      |       // ((least(kl.kx, kl.ky) - 1) * 1000000) AS BIGINT) AS v2_micros
      |FROM s CROSS JOIN kl""".stripMargin

  /** Jensen–Shannon divergence between the calendar halves of the
    * event value distribution — [[psiDrift]]'s SYMMETRIC, bounded
    * sibling (PSI is unbounded and blows up on one-sided zeros even
    * smoothed; JS ∈ [0, ln 2] is what you threshold when the drift
    * monitor must not page on a single new bin). Same Laplace-smoothed
    * exact-rational bin shares as PSI; each term is
    * ½p·ln(2p/(p+q)) + ½q·ln(2q/(p+q)) where both log arguments are
    * exact integer cross-products (the psi/dsir quantized-ln
    * convention: one association-free ln per side, rounded to micros,
    * times the exact integral-micros share — cross-engine stable).
    * Scale shape: identical to PSI — one partial-aggregated corpus
    * pass to bin cells, everything after is bin-set-sized. */
  def jsDivergence(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val ev = Tables.events(spark, dir)
      .select(expr("unix_millis(ts) div 86400000").as("day"),
        expr(s"CAST(round(value * 100) AS BIGINT) div $PsiBin").as("bin"))
    val ext = ev.agg(min("day").as("lo"), max("day").as("hi"))
    // bin-set-sized; feeds totals and terms
    val cells = ck.ckpt(ev.crossJoin(broadcast(ext))
      .select(col("bin"), (col("day") * 2 < col("lo") + col("hi")).as("first_half"))
      .groupBy("bin")
      .agg(sum(when(col("first_half"), 1L).otherwise(0L)).as("na"),
        sum(when(!col("first_half"), 1L).otherwise(0L)).as("nb")))
    val tot = cells.agg(sum("na").as("ta"), sum("nb").as("tb"),
      count(lit(1)).as("bcnt"))
    // feeds the total and the per-bin output
    val terms = ck.ckpt(cells.crossJoin(broadcast(tot))
      .select(col("bin"), col("na"), col("nb"),
        expr("CAST(((na + 1) * 1000000) div (ta + bcnt) AS BIGINT)").as("p_micros"),
        expr("CAST(((nb + 1) * 1000000) div (tb + bcnt) AS BIGINT)").as("q_micros"),
        // num_p = 2*(na+1)*(tb+bcnt); den = (na+1)*(tb+bcnt) + (nb+1)*(ta+bcnt)
        expr("""CAST(round(ln(
               |  CAST(2 * (CAST(na AS DECIMAL(38,0)) + 1) * (tb + bcnt) AS DOUBLE) /
               |  CAST((CAST(na AS DECIMAL(38,0)) + 1) * (tb + bcnt)
               |       + (CAST(nb AS DECIMAL(38,0)) + 1) * (ta + bcnt) AS DOUBLE))
               |  * 1000000) AS BIGINT)""".stripMargin).as("lnp_micros"),
        expr("""CAST(round(ln(
               |  CAST(2 * (CAST(nb AS DECIMAL(38,0)) + 1) * (ta + bcnt) AS DOUBLE) /
               |  CAST((CAST(na AS DECIMAL(38,0)) + 1) * (tb + bcnt)
               |       + (CAST(nb AS DECIMAL(38,0)) + 1) * (ta + bcnt) AS DOUBLE))
               |  * 1000000) AS BIGINT)""".stripMargin).as("lnq_micros"))
      .select(col("bin"), col("na"), col("nb"), col("p_micros"), col("q_micros"),
        col("lnp_micros"), col("lnq_micros"),
        // DOUBLED term: no /2 anywhere, so there is no trunc-vs-floor
        // hazard on the (rounding-jitter) near-zero negatives — the
        // welch_t sign lesson applied by elimination. JS = js_2pico/2e12.
        expr("p_micros * lnp_micros + q_micros * lnq_micros").as("term_2pico")))
    val total = terms.agg(sum("term_2pico").as("js_2pico"))
    terms.crossJoin(broadcast(total))
      .select(col("bin"), col("na"), col("nb"), col("p_micros"), col("q_micros"),
        col("term_2pico"), col("js_2pico"))
      .orderBy("bin")
  }

  private val jsDivergenceSql: String =
    s"""WITH ev AS (
       |  SELECT epoch_ms(ts) // 86400000 AS day,
       |         CAST(round(value * 100) AS BIGINT) // $PsiBin AS bin
       |  FROM events
       |), ext AS (SELECT min(day) AS lo, max(day) AS hi FROM ev),
       |cells AS (
       |  SELECT bin,
       |         CAST(sum(CASE WHEN day * 2 < lo + hi THEN 1 ELSE 0 END) AS BIGINT) AS na,
       |         CAST(sum(CASE WHEN day * 2 < lo + hi THEN 0 ELSE 1 END) AS BIGINT) AS nb
       |  FROM ev CROSS JOIN ext GROUP BY bin
       |), tot AS (
       |  SELECT CAST(sum(na) AS BIGINT) AS ta, CAST(sum(nb) AS BIGINT) AS tb,
       |         CAST(count(*) AS BIGINT) AS bcnt
       |  FROM cells
       |), terms AS (
       |  SELECT bin, na, nb,
       |         CAST(((na + 1) * 1000000) // (ta + bcnt) AS BIGINT) AS p_micros,
       |         CAST(((nb + 1) * 1000000) // (tb + bcnt) AS BIGINT) AS q_micros,
       |         CAST(round(ln(
       |           CAST(2 * (CAST(na AS HUGEINT) + 1) * (tb + bcnt) AS DOUBLE) /
       |           CAST((CAST(na AS HUGEINT) + 1) * (tb + bcnt)
       |                + (CAST(nb AS HUGEINT) + 1) * (ta + bcnt) AS DOUBLE))
       |           * 1000000) AS BIGINT) AS lnp_micros,
       |         CAST(round(ln(
       |           CAST(2 * (CAST(nb AS HUGEINT) + 1) * (ta + bcnt) AS DOUBLE) /
       |           CAST((CAST(na AS HUGEINT) + 1) * (tb + bcnt)
       |                + (CAST(nb AS HUGEINT) + 1) * (ta + bcnt) AS DOUBLE))
       |           * 1000000) AS BIGINT) AS lnq_micros
       |  FROM cells CROSS JOIN tot
       |), scored AS (
       |  SELECT bin, na, nb, p_micros, q_micros,
       |         CAST(p_micros * lnp_micros + q_micros * lnq_micros AS BIGINT)
       |           AS term_2pico
       |  FROM terms
       |)
       |SELECT s.bin, s.na, s.nb, s.p_micros, s.q_micros, s.term_2pico, t.js_2pico
       |FROM scored s CROSS JOIN
       |  (SELECT CAST(sum(term_2pico) AS BIGINT) AS js_2pico FROM scored) t
       |ORDER BY s.bin""".stripMargin

  private val mutualInfoSql: String =
    """WITH cells AS (
      |  SELECT l_returnflag AS x, l_linestatus AS y, CAST(count(*) AS BIGINT) AS nxy
      |  FROM lineitem GROUP BY x, y
      |), mx AS (SELECT x, CAST(sum(nxy) AS BIGINT) AS nx FROM cells GROUP BY x
      |), my AS (SELECT y, CAST(sum(nxy) AS BIGINT) AS ny FROM cells GROUP BY y
      |), nt AS (SELECT CAST(sum(nxy) AS BIGINT) AS n FROM cells
      |), terms AS (
      |  SELECT c.x, c.y, c.nxy, mx.nx, my.ny, nt.n,
      |         CAST(round(ln(CAST(CAST(c.nxy AS HUGEINT) * nt.n AS DOUBLE) /
      |                       CAST(CAST(mx.nx AS HUGEINT) * my.ny AS DOUBLE))
      |              * 1000000) AS BIGINT) AS ln_micros
      |  FROM cells c JOIN mx USING (x) JOIN my USING (y) CROSS JOIN nt
      |), scored AS (SELECT *, nxy * ln_micros AS term FROM terms
      |), tot AS (SELECT CAST(sum(term) // max(n) AS BIGINT) AS mi_micros FROM scored)
      |SELECT s.x, s.y, s.nxy, s.nx, s.ny, s.ln_micros, s.term, t.mi_micros
      |FROM scored s CROSS JOIN tot t ORDER BY s.x, s.y""".stripMargin

  /** Expected calibration error of the bigram-LM quality score against
    * the rule-based keep label (Naeini et al. 2015; the reliability-
    * diagram summary every model-as-filter pipeline reads next to
    * [[rocAuc]] — AUC measures RANKING, ECE measures whether the score
    * MEANS what it claims): scores min-max-normalize to [0,1] micros
    * (exact integral division against the broadcast corpus extent),
    * land in 10 equal-width bins, and each bin contributes
    * n_b·|confidence_b − accuracy_b|; ECE = Σ div N. Everything is
    * exact integer arithmetic (per-bin means are single integral
    * divisions of exact sums).
    *
    * Scale shape: per-row score (the lm_bigram machinery) → 10-bin
    * cells with map-side partials; the extent is one broadcast 1-row
    * min/max. */
  def calibrationEce(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val scored = TextAnalysis.lmBigramScore(spark, dir).select("doc_id", "avg_micros")
      .join(Curation.qualityClassifier(spark, dir).select("doc_id", "keep"), "doc_id")
    val ext = scored.agg(min("avg_micros").as("lo"), max("avg_micros").as("hi"))
    // ≤10 cells; feeds the total and the output
    val cells = ck.ckpt(scored.crossJoin(broadcast(ext))
      .select(expr("""CASE WHEN hi = lo THEN CAST(0 AS BIGINT)
                     |ELSE least(CAST(9 AS BIGINT),
                     |  (((avg_micros - lo) * 1000000) div (hi - lo)) div 100000) END"""
        .stripMargin).as("bin"),
        expr("""CASE WHEN hi = lo THEN CAST(0 AS BIGINT)
               |ELSE ((avg_micros - lo) * 1000000) div (hi - lo) END""".stripMargin)
          .as("norm_micros"),
        col("keep"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_b"),
        sum(col("norm_micros").cast("decimal(38,0)")).as("conf_sum"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_pos"))
      .select(col("bin"), col("n_b"),
        expr("CAST(conf_sum div n_b AS BIGINT)").as("conf_micros"),
        expr("CAST((CAST(n_pos AS DECIMAL(38,0)) * 1000000) div n_b AS BIGINT)")
          .as("acc_micros"),
        col("n_pos"))
      .withColumn("gap_micros", abs(col("conf_micros") - col("acc_micros"))))
    val tot = cells.agg(
      expr("CAST(sum(n_b * gap_micros) div sum(n_b) AS BIGINT)").as("ece_micros"))
    cells.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_b"), col("n_pos"), col("conf_micros"),
        col("acc_micros"), col("gap_micros"), col("ece_micros"))
      .orderBy("bin")
  }

  private val calibrationEceSql: String =
    s"""WITH ${"f"} AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS nt,
       |    CAST(length(text) AS BIGINT) AS nc,
       |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS na_,
       |    CAST(len(list_filter(string_split(text, ' '),
       |         t -> t IN ('the', 'a', 'of', 'and'))) AS BIGINT) AS ns
       |  FROM documents
       |), j AS (
       |  SELECT s.avg_micros AS v,
       |         (8 * f.na_ - 6 * (f.nc - f.na_) + 40 * f.ns + 2 * f.nt - 1200) > 0 AS keep
       |  FROM (${TextAnalysis.lmBigramSql}) s JOIN f USING (doc_id)
       |), ext AS (SELECT min(v) AS lo, max(v) AS hi FROM j
       |), binned AS (
       |  SELECT CAST(CASE WHEN hi = lo THEN 0
       |              ELSE least(9, (((v - lo) * 1000000) // (hi - lo)) // 100000) END
       |         AS BIGINT) AS bin,
       |         CAST(CASE WHEN hi = lo THEN 0
       |              ELSE ((v - lo) * 1000000) // (hi - lo) END AS BIGINT) AS norm_micros,
       |         keep
       |  FROM j CROSS JOIN ext
       |), cells AS (
       |  SELECT bin, CAST(count(*) AS BIGINT) AS n_b,
       |         CAST(sum(norm_micros) AS BIGINT) AS conf_sum,
       |         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
       |  FROM binned GROUP BY bin
       |), m AS (
       |  SELECT bin, n_b, n_pos,
       |         CAST(CAST(conf_sum AS HUGEINT) // n_b AS BIGINT) AS conf_micros,
       |         CAST((CAST(n_pos AS HUGEINT) * 1000000) // n_b AS BIGINT) AS acc_micros
       |  FROM cells
       |), g AS (
       |  SELECT *, abs(conf_micros - acc_micros) AS gap_micros FROM m
       |), tot AS (
       |  SELECT CAST(sum(n_b * gap_micros) // sum(n_b) AS BIGINT) AS ece_micros FROM g
       |)
       |SELECT g.bin, g.n_b, g.n_pos, g.conf_micros, g.acc_micros, g.gap_micros,
       |       t.ece_micros
       |FROM g CROSS JOIN tot t ORDER BY g.bin""".stripMargin

  /** [[corrMatrix]] column names in output order (alphabetical, cents-
    * quantized lineitem measures). */
  private val CorrCols = Seq("disc", "price", "qty", "tax")

  /** Pairwise Pearson correlation matrix over the lineitem numeric
    * measures — the profiling table read before feature selection
    * (collinear inputs, leakage screens), the continuous sibling of
    * [[mutualInfo]]'s categorical screen. ONE pass computes every
    * Σv/Σv²/Σvw as exact DECIMAL(38) cents sums (map-side partials,
    * 1-row result); each of the 6 pairs then forms cov = n·Σxy−ΣxΣy
    * and the variances exactly, and ships corr² in SIGNED PICOS
    * (Pearson r is a square root away — rank- and threshold-equivalent,
    * hash-exact; pico resolution because near-independent columns like
    * TPC-H's floor micros-scale corr² to 0) via two floor divisions:
    * (|cov|·10⁶ div vx)·(|cov|·10⁶ div vy), sign extracted first
    * (div/`//` disagree on negatives). Wide intermediates ship as digit strings (autocorr
    * convention). |cov|·10⁶ tops DECIMAL(38) around ~10³¹-cents² scale
    * — beyond that a production deployment coarsens the quantization
    * unit (the documented e1c8c28 bounded-product convention), noted
    * not faked.
    *
    * Scale shape: one scan → one 1-row aggregate; the pair explosion
    * runs on that single row. */
  def corrMatrix(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val src = Tables.lineitem(spark, dir).select(
      cents(col("l_discount")).as("disc"), cents(col("l_extendedprice")).as("price"),
      cents(col("l_quantity")).as("qty"), cents(col("l_tax")).as("tax"))
    val aggCols: Seq[Column] =
      count(lit(1)).as("n") +: (
        CorrCols.map(c => sum(col(c).cast("decimal(38,0)")).as(s"s_$c")) ++
        (for (x <- CorrCols; y <- CorrCols if x <= y)
          yield sum(col(x).cast("decimal(38,0)") * col(y)).as(s"ss_${x}_$y")))
    val sums = ck.ckpt(src.agg(aggCols.head, aggCols.tail: _*)) // 1 row; feeds all six pair rows
    val pairStructs = for (Seq(x, y) <- CorrCols.combinations(2).toSeq) yield
      s"""named_struct(
         |  'col_x', '$x', 'col_y', '$y',
         |  'cov', CAST(CAST(n AS DECIMAL(38,0)) * ss_${x}_$y - s_$x * s_$y AS DECIMAL(38,0)),
         |  'vx',  CAST(CAST(n AS DECIMAL(38,0)) * ss_${x}_$x - s_$x * s_$x AS DECIMAL(38,0)),
         |  'vy',  CAST(CAST(n AS DECIMAL(38,0)) * ss_${y}_$y - s_$y * s_$y AS DECIMAL(38,0)))"""
        .stripMargin
    sums
      .select(col("n"), explode(expr(s"array(${pairStructs.mkString(", ")})")).as("p"))
      .select(col("p.col_x").as("col_x"), col("p.col_y").as("col_y"), col("n"),
        col("p.cov").cast("string").as("cov"),
        col("p.vx").cast("string").as("vx"), col("p.vy").cast("string").as("vy"),
        expr("""CASE WHEN p.vx = 0 OR p.vy = 0 THEN NULL
               |ELSE CAST(CASE WHEN p.cov < 0 THEN -1 ELSE 1 END *
               |  (((abs(p.cov) * 1000000) div p.vx) * ((abs(p.cov) * 1000000) div p.vy))
               |  AS BIGINT) END""".stripMargin).as("corr2_pico"))
      .orderBy("col_x", "col_y")
  }

  private val corrMatrixSql: String = {
    val sumCols = (
      CorrCols.map(c => s"CAST(sum(CAST($c AS HUGEINT)) AS HUGEINT) AS s_$c") ++
      (for (x <- CorrCols; y <- CorrCols if x <= y)
        yield s"CAST(sum(CAST($x AS HUGEINT) * $y) AS HUGEINT) AS ss_${x}_$y")).mkString(",\n|         ")
    val pairRows = CorrCols.combinations(2).toSeq.map { case Seq(x, y) =>
      s"""SELECT '$x' AS col_x, '$y' AS col_y, n,
         |       CAST(n AS HUGEINT) * ss_${x}_$y - s_$x * s_$y AS cov,
         |       CAST(n AS HUGEINT) * ss_${x}_$x - s_$x * s_$x AS vx,
         |       CAST(n AS HUGEINT) * ss_${y}_$y - s_$y * s_$y AS vy
         |FROM sums""".stripMargin
    }.mkString("\n|  UNION ALL\n|  ")
    s"""WITH src AS (
       |  SELECT CAST(round(l_discount * 100) AS BIGINT) AS disc,
       |         CAST(round(l_extendedprice * 100) AS BIGINT) AS price,
       |         CAST(round(l_quantity * 100) AS BIGINT) AS qty,
       |         CAST(round(l_tax * 100) AS BIGINT) AS tax
       |  FROM lineitem
       |), sums AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |         $sumCols
       |  FROM src
       |), pairs AS (
       |  $pairRows
       |)
       |SELECT col_x, col_y, n,
       |       CAST(cov AS VARCHAR) AS cov, CAST(vx AS VARCHAR) AS vx,
       |       CAST(vy AS VARCHAR) AS vy,
       |       CASE WHEN vx = 0 OR vy = 0 THEN NULL
       |            ELSE CAST((CASE WHEN cov < 0 THEN -1 ELSE 1 END) *
       |              (((abs(cov) * 1000000) // vx) * ((abs(cov) * 1000000) // vy))
       |              AS BIGINT) END AS corr2_pico
       |FROM pairs ORDER BY col_x, col_y""".stripMargin
  }

  /** Spearman rank correlation matrix (Spearman 1904) over the same
    * four lineitem cent measures as [[corrMatrix]] — the monotone-
    * association screen run when a feature relationship is suspected
    * nonlinear (Pearson sees only linear structure; Spearman is Pearson
    * on ranks, invariant to any monotone transform and robust to the
    * heavy tails [[hillTailIndex]] profiles). Ties get the standard
    * AVERAGE rank, carried as DOUBLED ranks (2·avg-rank = 2·cum_le −
    * cnt + 1 on value cells) so half-ranks stay exact BIGINTs. Ships
    * signed rho² in picos via the [[corrMatrix]] two-floor-division
    * convention — no square root, hash-exact.
    *
    * Scale shape (fused round 19 — was four independent
    * [[cumulateCells]] passes, i.e. 4 corpus scans + 4 hash-agg
    * shuffles + 4 range-partition sorts): ONE shared sorted scan now
    * emits all four cumulations. The corpus unpivots to (col, v)
    * tagged values in a single codegen'd pass, partial-aggregates to
    * per-(col, DISTINCT-value) cells, range-partitions ONCE on
    * (col, v) — ascending ranges to ascending pids, so a (pid, col)
    * cell's offset is the sum of earlier partitions' per-col totals, a
    * collected parts×4-row table — and the local cumulation window
    * runs per (pid, col), never a global order (the `mixtureSample`
    * per-(pid, lang) precedent). Ranks then re-attach by value
    * equi-join (the 3 small-domain columns broadcast under AQE; price
    * is the one cells≈corpus join) and one partial-aggregated pass
    * forms every Σr/Σr²/Σrᵢrⱼ in DECIMAL(38). Doubled ranks ≤ 2n keep
    * |cov|·10⁶ inside DECIMAL(38) to n ≈ 10⁷'⁵; beyond that a
    * production deployment coarsens ranks to rank-buckets (the
    * documented corr_matrix convention), noted not faked. */
  def spearmanCorr(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    // NO checkpoint on the projected base: it has two consumers (the
    // unpivot cell scan + the join base), each one cheap codegen'd
    // parquet re-scan — the scale-correct trade (scans fan out across
    // executors; a pinned corpus-sized frame eats their memory)
    val src = Tables.lineitem(spark, dir).select(
      cents(col("l_discount")).as("disc"), cents(col("l_extendedprice")).as("price"),
      cents(col("l_quantity")).as("qty"), cents(col("l_tax")).as("tax"))
    // ONE unpivoted pass -> (col, v, cnt) cells for all four measures
    val cells = src
      .select(explode(array(CorrCols.map(c =>
        struct(lit(c).as("c"), col(c).as("v"))): _*)).as("cv"))
      .groupBy(col("cv.c").as("c"), col("cv.v").as("v"))
      .agg(count(lit(1)).as("na"))
    // ONE range partition on (c, v) + per-(pid, c) local cumulation
    val parted = ck.ckpt(cells
      .repartitionByRange(ScanPartitions, col("c"), col("v"))
      .sortWithinPartitions("c", "v")
      .withColumn("pid", spark_partition_id())) // pin partition ids before they are used twice
    // Per-(pid, c) totals → exclusive running offsets, DISTRIBUTED
    // (round 22, VERDICT item 7 — guide §4/§5: no driver work in the
    // query path): the old `.collect()` of the parts×4 totals was a
    // full extra job barrier (checkpoint scan + agg + driver
    // round-trip) on every cold run, re-shipped as a typedLit map
    // lookup. The offsets are a parts×4-row frame, so they ride a
    // broadcast join inside the SAME job instead; each consumer's
    // `c === X` filter propagates through the equi-join condition into
    // this arm too, so each of the four rank passes still aggregates
    // only its own column's cells.
    val offs = parted.groupBy("pid", "c").agg(sum("na").as("ta"))
      .withColumn("off", coalesce(sum("ta").over(
        Window.partitionBy("c").orderBy("pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("pid").as("opid"), col("c").as("oc"), col("off"))
    val w = Window.partitionBy("pid", "c").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // NOT checkpointed: each join-back filters on the window PARTITION
    // key c, which Catalyst pushes below the Window — so each of the
    // four consumers cumulates ONLY its own column's cells straight off
    // the pinned `parted` checkpoint (total window work = four
    // per-column passes, with zero extra materialization)
    val rankCells = parted
      .join(broadcast(offs), col("pid") === col("opid") && col("c") === col("oc"))
      .withColumn("ca", col("off") + sum("na").over(w))
      .select(col("c"), col("v"),
        (lit(2L) * col("ca") - col("na") + 1L).as("r"))
    val ranked = CorrCols.foldLeft(src) { (df, c) =>
      df.join(
        rankCells.filter(col("c") === c).select(col("v").as(c), col("r").as(s"r_$c")),
        Seq(c))
    }
    // Moment sums in EXACT hi/lo long pairs, not per-row DECIMAL(38):
    // the 64× profile put ~40% of the query in 400M BigDecimal adds
    // (every partial sum leaves Decimal's compact range within ~150
    // rows). A doubled-rank product r_x·r_y ≤ 4n² fits a LONG to
    // n ≈ 1.5e9 — far beyond this query's documented validity cap
    // (|cov|·10⁶ inside DECIMAL(38) ⇒ n ≈ 10^7.5) — so each product
    // splits into (p >> 31, p & (2³¹−1)), both sides partial-aggregate
    // as plain codegen'd long sums (Σlo ≤ n·2³¹ and Σhi ≤ 4n³/2³¹
    // stay in-range to the same n ≈ 1.5e9), and the exact DECIMAL
    // moment reassembles as Σhi·2³¹ + Σlo on the final 1-ROW frame.
    // The n ≤ 1.5e9 envelope is enforced LOUDLY below (the
    // toLongChecked convention: breach must fail, never silently wrap).
    val loMask = lit((1L << 31) - 1L)
    val aggCols: Seq[Column] =
      count(lit(1)).as("n") +: (
        CorrCols.map(c => sum(col(s"r_$c")).as(s"s_$c")) ++
        (for (x <- CorrCols; y <- CorrCols if x <= y) yield {
          val p = col(s"r_$x") * col(s"r_$y")
          Seq(sum(shiftright(p, 31)).as(s"hh_${x}_$y"),
            sum(p.bitwiseAND(loMask)).as(s"ll_${x}_$y"))
        }).flatten)
    val sums = ck.ckpt(ranked.agg(aggCols.head, aggCols.tail: _*)
      // long-envelope guard: products and hi/lo sums are exact to
      // n ≈ 1.5e9; past it, fail the job loudly (non-ANSI long math
      // would otherwise wrap silently — while the DuckDB oracle's
      // HUGEINT keeps going, a hash mismatch at best)
      .withColumn("n",
        when(col("n") > 1500000000L,
          raise_error(lit("spearman_corr exceeds the exact-long moment envelope " +
            "(n > 1.5e9): coarsen to rank buckets")))
          .otherwise(col("n")).cast("long"))) // 1 row; feeds all six pair rows
    def ssDec(x: String, y: String): String =
      s"(CAST(hh_${x}_$y AS DECIMAL(38,0)) * 2147483648 + ll_${x}_$y)"
    val pairStructs = for (Seq(x, y) <- CorrCols.combinations(2).toSeq) yield
      s"""named_struct(
         |  'col_x', '$x', 'col_y', '$y',
         |  'cov', CAST(CAST(n AS DECIMAL(38,0)) * ${ssDec(x, y)} - CAST(s_$x AS DECIMAL(38,0)) * s_$y AS DECIMAL(38,0)),
         |  'vx',  CAST(CAST(n AS DECIMAL(38,0)) * ${ssDec(x, x)} - CAST(s_$x AS DECIMAL(38,0)) * s_$x AS DECIMAL(38,0)),
         |  'vy',  CAST(CAST(n AS DECIMAL(38,0)) * ${ssDec(y, y)} - CAST(s_$y AS DECIMAL(38,0)) * s_$y AS DECIMAL(38,0)))"""
        .stripMargin
    sums
      .select(col("n"), explode(expr(s"array(${pairStructs.mkString(", ")})")).as("p"))
      .select(col("p.col_x").as("col_x"), col("p.col_y").as("col_y"), col("n"),
        col("p.cov").cast("string").as("cov"),
        col("p.vx").cast("string").as("vx"), col("p.vy").cast("string").as("vy"),
        expr("""CASE WHEN p.vx = 0 OR p.vy = 0 THEN NULL
               |ELSE CAST(CASE WHEN p.cov < 0 THEN -1 ELSE 1 END *
               |  (((abs(p.cov) * 1000000) div p.vx) * ((abs(p.cov) * 1000000) div p.vy))
               |  AS BIGINT) END""".stripMargin).as("rho2_pico"))
      .orderBy("col_x", "col_y")
  }

  private val spearmanSql: String = {
    val rankCtes = CorrCols.map { c =>
      s"""r_$c AS (
         |  SELECT v, CAST(2 * sum(cnt) OVER (ORDER BY v) - cnt + 1 AS HUGEINT) AS r
         |  FROM (SELECT $c AS v, CAST(count(*) AS BIGINT) AS cnt FROM src GROUP BY $c)
         |)""".stripMargin
    }.mkString(", ")
    val joinOn = CorrCols.map(c => s"JOIN r_$c ON src.$c = r_$c.v").mkString(" ")
    val rCols = CorrCols.map(c => s"r_$c.r AS r_$c").mkString(", ")
    val sumCols = (
      CorrCols.map(c => s"CAST(sum(r_$c) AS HUGEINT) AS s_$c") ++
      (for (x <- CorrCols; y <- CorrCols if x <= y)
        yield s"CAST(sum(r_$x * r_$y) AS HUGEINT) AS ss_${x}_$y")).mkString(",\n|         ")
    val pairRows = CorrCols.combinations(2).toSeq.map { case Seq(x, y) =>
      s"""SELECT '$x' AS col_x, '$y' AS col_y, n,
         |       CAST(n AS HUGEINT) * ss_${x}_$y - s_$x * s_$y AS cov,
         |       CAST(n AS HUGEINT) * ss_${x}_$x - s_$x * s_$x AS vx,
         |       CAST(n AS HUGEINT) * ss_${y}_$y - s_$y * s_$y AS vy
         |FROM sums""".stripMargin
    }.mkString("\n|  UNION ALL\n|  ")
    s"""WITH src AS (
       |  SELECT CAST(round(l_discount * 100) AS BIGINT) AS disc,
       |         CAST(round(l_extendedprice * 100) AS BIGINT) AS price,
       |         CAST(round(l_quantity * 100) AS BIGINT) AS qty,
       |         CAST(round(l_tax * 100) AS BIGINT) AS tax
       |  FROM lineitem
       |), $rankCtes, j AS (
       |  SELECT $rCols FROM src $joinOn
       |), sums AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |         $sumCols
       |  FROM j
       |), pairs AS (
       |  $pairRows
       |)
       |SELECT col_x, col_y, n,
       |       CAST(cov AS VARCHAR) AS cov, CAST(vx AS VARCHAR) AS vx,
       |       CAST(vy AS VARCHAR) AS vy,
       |       CASE WHEN vx = 0 OR vy = 0 THEN NULL
       |            ELSE CAST((CASE WHEN cov < 0 THEN -1 ELSE 1 END) *
       |              (((abs(cov) * 1000000) // vx) * ((abs(cov) * 1000000) // vy))
       |              AS BIGINT) END AS rho2_pico
       |FROM pairs ORDER BY col_x, col_y""".stripMargin
  }

  /** Kendall's tau-b (Kendall 1938, with the tie correction) between
    * the click and purchase DAILY-count series — the ordinal trend-
    * agreement check between two metrics ("do the days that rank high
    * on clicks rank high on purchases?"), more robust than [[autocorr]]
    * -style moment statistics on short heavy-tailed series. All pair
    * classes ship as exact integers (concordant, discordant, the tie
    * margins n1/n2) and tau² in signed picos via the [[corrMatrix]]
    * two-floor-division convention.
    *
    * Scale shape: the raw stream first collapses to per-DAY cells
    * (one row per calendar day), so the day-pair comparison is
    * CALENDAR-bounded — O(days²) regardless of corpus bytes (10⁴ days
    * of history is 5·10⁷ distributed pair evaluations, flat per-row
    * work); the corpus-sized input never self-joins. */
  def kendallTau(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    // day-count cells; feeds both pair sides
    val daily = ck.ckpt(Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(expr("unix_millis(ts) div 86400000").as("day"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y")))
    val pairs = daily.as("a").join(daily.as("b"), col("a.day") < col("b.day"))
      .select(((col("a.x") - col("b.x")) * (col("a.y") - col("b.y"))).as("prod"),
        (col("a.x") === col("b.x")).as("tiex"), (col("a.y") === col("b.y")).as("tiey"))
    val agg = pairs.agg(
      sum(when(col("prod") > 0, 1L).otherwise(0L)).as("nc"),
      sum(when(col("prod") < 0, 1L).otherwise(0L)).as("nd"),
      sum(when(col("tiex"), 1L).otherwise(0L)).as("n1"),
      sum(when(col("tiey"), 1L).otherwise(0L)).as("n2"),
      count(lit(1)).as("n0"))
    val nDays = daily.agg(count(lit(1)).as("n_days"))
    agg.crossJoin(broadcast(nDays))
      .select(col("n_days"), col("nc"), col("nd"), col("n1"), col("n2"), col("n0"),
        expr("""CASE WHEN n0 = n1 OR n0 = n2 THEN NULL
               |ELSE CAST(CASE WHEN nc < nd THEN -1 ELSE 1 END *
               |  (((abs(nc - nd) * 1000000) div (n0 - n1)) *
               |   ((abs(nc - nd) * 1000000) div (n0 - n2))) AS BIGINT)
               |END""".stripMargin).as("tau2_pico"))
  }

  private val kendallSql: String =
    """WITH daily AS (
      |  SELECT epoch_ms(ts) // 86400000 AS day,
      |         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
      |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
      |  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1
      |), pairs AS (
      |  SELECT (a.x - b.x) * (a.y - b.y) AS prod,
      |         a.x = b.x AS tiex, a.y = b.y AS tiey
      |  FROM daily a JOIN daily b ON a.day < b.day
      |), agg AS (
      |  SELECT CAST(sum(CASE WHEN prod > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
      |         CAST(sum(CASE WHEN prod < 0 THEN 1 ELSE 0 END) AS BIGINT) AS nd,
      |         CAST(sum(CASE WHEN tiex THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |         CAST(sum(CASE WHEN tiey THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |         CAST(count(*) AS BIGINT) AS n0
      |  FROM pairs
      |)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n_days,
      |       nc, nd, n1, n2, n0,
      |       CASE WHEN n0 = n1 OR n0 = n2 THEN NULL
      |            ELSE CAST((CASE WHEN nc < nd THEN -1 ELSE 1 END) *
      |              (((abs(nc - nd) * 1000000) // (n0 - n1)) *
      |               ((abs(nc - nd) * 1000000) // (n0 - n2))) AS BIGINT)
      |       END AS tau2_pico
      |FROM agg""".stripMargin

  /** 7-day rolling ordinary-least-squares TREND of each event type's
    * daily volume — the short-horizon drift detector a pipeline pages
    * on ("ingest for `click` is decaying 40 events/day this week"),
    * the local-slope complement of [[theilsenTrend]]'s global robust
    * fit and [[volumeTrend]]'s first differences. For the window
    * {(day dᵢ, count yᵢ)}: slope = (n·Σdy − Σd·Σy)/(n·Σd² − (Σd)²),
    * shipped as exact sign-extracted integral micros (events/day·10⁶).
    * Windows with one distinct day (den = 0) yield NULL.
    *
    * Scale shape: cells-before-windows — the stream collapses to
    * (type, day, count) first, so the RANGE window runs over O(days)
    * rows per type partition, never raw events. Day indices are epoch
    * days (≈2·10⁴), so n·Σd² ≈ 2·10¹⁰ and the BIGINT sums hold to
    * ~10⁸ events/day·type — an output-width note, not a practical
    * bound (beyond it, quantize counts to thousands). */
  def rollingOls(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), expr("unix_millis(ts) div 86400000").as("day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("event_type").orderBy("day").rangeBetween(-6, 0)
    daily
      .withColumn("n_win", count(lit(1)).over(w))
      .withColumn("sx", sum("day").over(w))
      .withColumn("sy", sum("cnt").over(w))
      .withColumn("sxy", sum(col("day") * col("cnt")).over(w))
      .withColumn("sxx", sum(col("day") * col("day")).over(w))
      .select(col("event_type"), col("day"), col("cnt"), col("n_win"),
        expr("""CASE WHEN n_win * sxx - sx * sx = 0 THEN NULL
               |ELSE CAST(CASE WHEN n_win * sxy - sx * sy < 0 THEN -1 ELSE 1 END *
               |  ((abs(n_win * sxy - sx * sy) * 1000000) div (n_win * sxx - sx * sx))
               |  AS BIGINT) END""".stripMargin).as("slope_micros"))
      .orderBy("event_type", "day")
  }

  private val rollingOlsSql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_ms(ts) // 86400000 AS day,
      |         CAST(count(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2
      |), win AS (
      |  SELECT event_type, day, cnt,
      |         CAST(count(*) OVER w AS BIGINT) AS n_win,
      |         CAST(sum(day) OVER w AS BIGINT) AS sx,
      |         CAST(sum(cnt) OVER w AS BIGINT) AS sy,
      |         CAST(sum(day * cnt) OVER w AS BIGINT) AS sxy,
      |         CAST(sum(day * day) OVER w AS BIGINT) AS sxx
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
      |)
      |SELECT event_type, day, cnt, n_win,
      |       CASE WHEN n_win * sxx - sx * sx = 0 THEN NULL
      |            ELSE CAST((CASE WHEN n_win * sxy - sx * sy < 0 THEN -1 ELSE 1 END) *
      |              ((abs(n_win * sxy - sx * sy) * 1000000) // (n_win * sxx - sx * sx))
      |              AS BIGINT) END AS slope_micros
      |FROM win ORDER BY event_type, day""".stripMargin

  /** Murphy (1973) decomposition of the Brier score for the bigram-LM
    * score as a predictor of the quality-classifier keep label — the
    * same score/label/bin fixture as [[calibrationEce]], answering the
    * finer question ECE cannot: how much of the probability error is
    * MISCALIBRATION (reliability — fixable by [[isotonicCalibrate]]-
    * style post-hoc mapping) versus missing DISCRIMINATION (resolution
    * — needs a better model)? Brier = reliability − resolution +
    * uncertainty up to within-bin variance; all four terms ship in
    * exact integral picos (micros², the ECE flooring convention at the
    * bin means, exact n·(N−P)-products for the label terms).
    *
    * Scale shape: per-doc scores collapse to DISTINCT-normalized-value
    * cells before anything quadratic in N is formed; the Brier sum and
    * the ten calibration-bin means are cells-sized partial aggregates
    * in DECIMAL(38); output is one row. */
  def brierDecomposition(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val scored = TextAnalysis.lmBigramScore(spark, dir).select("doc_id", "avg_micros")
      .join(Curation.qualityClassifier(spark, dir).select("doc_id", "keep"), "doc_id")
    val ext = scored.agg(min("avg_micros").as("lo"), max("avg_micros").as("hi"))
    // distinct-score cells; feeds brier + bins
    val cells = ck.ckpt(scored.crossJoin(broadcast(ext))
      .select(expr("""CASE WHEN hi = lo THEN CAST(0 AS BIGINT)
                     |ELSE ((avg_micros - lo) * 1000000) div (hi - lo) END""".stripMargin)
        .as("v"), col("keep"))
      .groupBy("v")
      .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("na"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("nb")))
    val brier = cells.agg(
      sum(col("na") + col("nb")).as("n"), sum(col("na")).as("n_pos"),
      sum(col("na").cast("decimal(38,0)") * (lit(1000000L) - col("v")) * (lit(1000000L) - col("v"))
        + col("nb").cast("decimal(38,0)") * col("v") * col("v")).as("bsum"))
    val bins = cells
      .groupBy(expr("least(CAST(9 AS BIGINT), v div 100000)").as("bin"))
      .agg(sum(col("na") + col("nb")).as("n_b"), sum("na").as("pos_b"),
        sum(col("v").cast("decimal(38,0)") * (col("na") + col("nb"))).as("conf_sum"))
      .select(col("n_b"), col("pos_b"),
        expr("CAST(conf_sum div n_b AS BIGINT)").as("conf_b"),
        expr("CAST((CAST(pos_b AS DECIMAL(38,0)) * 1000000) div n_b AS BIGINT)").as("acc_b"))
    bins.crossJoin(broadcast(brier))
      .groupBy("n", "n_pos", "bsum")
      .agg(
        expr("""CAST(sum(CAST(n_b AS DECIMAL(38,0)) * (conf_b - acc_b) * (conf_b - acc_b))
               |     AS DECIMAL(38,0))""".stripMargin).as("rel_sum"),
        expr("""CAST(sum(CAST(n_b AS DECIMAL(38,0)) *
               |  (acc_b - (CAST(n_pos AS DECIMAL(38,0)) * 1000000) div n) *
               |  (acc_b - (CAST(n_pos AS DECIMAL(38,0)) * 1000000) div n))
               |     AS DECIMAL(38,0))""".stripMargin).as("res_sum"))
      .select(col("n"), col("n_pos"),
        expr("CAST(bsum div n AS BIGINT)").as("brier_pico"),
        expr("CAST(rel_sum div n AS BIGINT)").as("rel_pico"),
        expr("CAST(res_sum div n AS BIGINT)").as("res_pico"),
        expr("""CAST((CAST(n_pos AS DECIMAL(38,0)) * (n - n_pos) * 1000000000000)
               |     div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)""".stripMargin)
          .as("unc_pico"))
  }

  private val brierSql: String =
    s"""WITH f AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS nt,
       |    CAST(length(text) AS BIGINT) AS nc,
       |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS na_,
       |    CAST(len(list_filter(string_split(text, ' '),
       |         t -> t IN ('the', 'a', 'of', 'and'))) AS BIGINT) AS ns
       |  FROM documents
       |), j AS (
       |  SELECT s.avg_micros AS v0,
       |         (8 * f.na_ - 6 * (f.nc - f.na_) + 40 * f.ns + 2 * f.nt - 1200) > 0 AS keep
       |  FROM (${TextAnalysis.lmBigramSql}) s JOIN f USING (doc_id)
       |), ext AS (SELECT min(v0) AS lo, max(v0) AS hi FROM j
       |), cells AS (
       |  SELECT CAST(CASE WHEN hi = lo THEN 0
       |              ELSE ((v0 - lo) * 1000000) // (hi - lo) END AS BIGINT) AS v,
       |         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS na,
       |         CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS nb
       |  FROM j CROSS JOIN ext GROUP BY 1
       |), brier AS (
       |  SELECT CAST(sum(na + nb) AS BIGINT) AS n, CAST(sum(na) AS BIGINT) AS n_pos,
       |         CAST(sum(CAST(na AS HUGEINT) * (1000000 - v) * (1000000 - v)
       |                 + CAST(nb AS HUGEINT) * v * v) AS HUGEINT) AS bsum
       |  FROM cells
       |), bins AS (
       |  SELECT CAST(sum(na + nb) AS BIGINT) AS n_b, CAST(sum(na) AS BIGINT) AS pos_b,
       |         CAST(CAST(sum(CAST(v AS HUGEINT) * (na + nb)) AS HUGEINT)
       |              // sum(na + nb) AS BIGINT) AS conf_b,
       |         CAST((CAST(sum(na) AS HUGEINT) * 1000000) // sum(na + nb) AS BIGINT) AS acc_b
       |  FROM cells GROUP BY least(9, v // 100000)
       |)
       |SELECT b.n, b.n_pos,
       |       CAST(b.bsum // b.n AS BIGINT) AS brier_pico,
       |       CAST(sum(CAST(g.n_b AS HUGEINT) * (g.conf_b - g.acc_b) * (g.conf_b - g.acc_b))
       |            // b.n AS BIGINT) AS rel_pico,
       |       CAST(sum(CAST(g.n_b AS HUGEINT) *
       |              (g.acc_b - (CAST(b.n_pos AS HUGEINT) * 1000000) // b.n) *
       |              (g.acc_b - (CAST(b.n_pos AS HUGEINT) * 1000000) // b.n))
       |            // b.n AS BIGINT) AS res_pico,
       |       CAST((CAST(b.n_pos AS HUGEINT) * (b.n - b.n_pos) * 1000000000000)
       |            // (CAST(b.n AS HUGEINT) * b.n) AS BIGINT) AS unc_pico
       |FROM bins g CROSS JOIN brier b GROUP BY b.n, b.n_pos, b.bsum""".stripMargin

  /** Cumulative gains / lift table at score deciles — the campaign-
    * targeting readout every model-eval suite ships next to
    * [[rocAuc]]: "if we keep only the top-k% of docs by the bigram-LM
    * score, what share of the truly-good ones do we capture, and at
    * what enrichment over random?" Deciles are assigned on DISTINCT-
    * score cells by starting rank (ties land whole in one decile —
    * permutation-proof), cumulated from the BEST score down; gain =
    * cum_pos/P and lift = gain/(cum_n/N) ship as exact integral
    * micros.
    *
    * Scale shape: per-doc scores collapse to score cells, the decile
    * assignment rides the [[cumulateCells]] per-range-partition offset
    * scan (no global window), and the 10-row decile table is a cells-
    * sized aggregate. */
  def liftDeciles(spark: SparkSession, dir: String): DataFrame = {
    val scored = TextAnalysis.lmBigramScore(spark, dir).select("doc_id", "avg_micros")
      .join(Curation.qualityClassifier(spark, dir).select("doc_id", "keep"), "doc_id")
    val cells = scored
      .groupBy(col("avg_micros").as("v"))
      .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("na"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("nb"))
    val (cum, p, q) = cumulateCells(cells)
    val n = p + q
    // decile by starting rank from the TOP: ranks descend with score, so
    // the start-rank of cell v counted from the best is n − cum_le(v)
    val byDec = cum
      .select(col("na"), (col("na") + col("nb")).as("nc"),
        expr(s"((${n}L - (ca + cb)) * 10) div ${n}L").as("decile"))
      .groupBy("decile")
      .agg(sum("nc").as("n_d"), sum("na").as("pos_d"))
    val w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    byDec // ≤10 rows: the global window is bounded, not corpus-sized
      .withColumn("cum_n", sum("n_d").over(w))
      .withColumn("cum_pos", sum("pos_d").over(w))
      .select(col("decile"), col("n_d"), col("pos_d"), col("cum_n"), col("cum_pos"),
        expr(s"CAST((cum_pos * 1000000) div ${p}L AS BIGINT)").as("gain_micros"),
        expr(s"""CAST((CAST(cum_pos AS DECIMAL(38,0)) * ${n}L * 1000000)
                |     div (CAST(cum_n AS DECIMAL(38,0)) * ${p}L) AS BIGINT)"""
          .stripMargin).as("lift_micros"))
      .orderBy("decile")
  }

  private val liftDecilesSql: String =
    s"""WITH f AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS nt,
       |    CAST(length(text) AS BIGINT) AS nc,
       |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS na_,
       |    CAST(len(list_filter(string_split(text, ' '),
       |         t -> t IN ('the', 'a', 'of', 'and'))) AS BIGINT) AS ns
       |  FROM documents
       |), j AS (
       |  SELECT s.avg_micros AS v,
       |         (8 * f.na_ - 6 * (f.nc - f.na_) + 40 * f.ns + 2 * f.nt - 1200) > 0 AS keep
       |  FROM (${TextAnalysis.lmBigramSql}) s JOIN f USING (doc_id)
       |), cells AS (
       |  SELECT v, CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS na,
       |            CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS nb
       |  FROM j GROUP BY v
       |), cum AS (
       |  SELECT na, na + nb AS nc_,
       |         sum(na + nb) OVER (ORDER BY v) AS cle
       |  FROM cells
       |), tot AS (SELECT CAST(sum(na) AS BIGINT) AS p, CAST(sum(na + nb) AS BIGINT) AS n
       |           FROM cells
       |), bydec AS (
       |  SELECT ((t.n - c.cle) * 10) // t.n AS decile,
       |         CAST(sum(c.nc_) AS BIGINT) AS n_d, CAST(sum(c.na) AS BIGINT) AS pos_d
       |  FROM cum c CROSS JOIN tot t GROUP BY 1
       |)
       |SELECT CAST(b.decile AS BIGINT) AS decile, b.n_d, b.pos_d,
       |       CAST(sum(b.n_d) OVER wd AS BIGINT) AS cum_n,
       |       CAST(sum(b.pos_d) OVER wd AS BIGINT) AS cum_pos,
       |       CAST((sum(b.pos_d) OVER wd * 1000000) // t.p AS BIGINT) AS gain_micros,
       |       CAST((CAST(sum(b.pos_d) OVER wd AS HUGEINT) * t.n * 1000000)
       |            // (CAST(sum(b.n_d) OVER wd AS HUGEINT) * t.p) AS BIGINT) AS lift_micros
       |FROM bydec b CROSS JOIN tot t
       |WINDOW wd AS (ORDER BY b.decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |ORDER BY decile""".stripMargin

  /** Kaplan–Meier survival estimator (Kaplan & Meier 1958) over order
    * time-to-ship: per order, t = whole days from `o_orderdate` to its
    * last `l_shipdate`; "death" = the order reached final status `'F'`,
    * right-censored otherwise (`'O'`/`'P'` — still open, the real
    * censoring semantics survival analysis exists for). Both dates are
    * day numbers (datediff from a fixed epoch — the NTZ-date house
    * convention), so t is a plain subtraction with no `div`/`//`
    * floor-vs-trunc exposure; negative latencies (ship before order —
    * fixture noise a real pipeline would quarantine) are excluded by
    * the day comparison identically in both engines. Output: one row
    * per distinct t with deaths d, censored c, the at-risk count
    * n = Σ_{t'≥t}(d+c), and S(t) = Π_{t'≤t}(1 − d/n) in micros.
    *
    * Scale shape: the only corpus-sized passes are the orders⋈lineitem
    * shuffle join keyed on orderkey and the per-order aggregate; the
    * KM product is a single window over O(distinct days) cells
    * (cells-before-windows). The terminal d = n cell would put ln(0)
    * in the product — Spark `ln(0)` is NULL (silently dropped from the
    * window sum) while DuckDB returns -inf, so that factor is CASE-
    * guarded out in BOTH engines and the row forced to S = 0 via the
    * prefix max of the extinction flag. */
  def survivalKm(spark: SparkSession, dir: String): DataFrame = {
    val perOrder = Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderkey")
      .agg(max(datediff(col("l_shipdate").cast("date"),
          lit(java.sql.Date.valueOf("1990-01-01"))).cast("long")).as("ship_day"),
        max(datediff(col("o_orderdate").cast("date"),
          lit(java.sql.Date.valueOf("1990-01-01"))).cast("long")).as("order_day"),
        max("o_orderstatus").as("st"))
      .filter(col("ship_day") >= col("order_day"))
      .select((col("ship_day") - col("order_day")).as("t_day"),
        expr("CAST(CASE WHEN st = 'F' THEN 1 ELSE 0 END AS BIGINT)").as("ev"))
    val cells = perOrder.groupBy("t_day")
      .agg(sum("ev").as("d"), sum(expr("1 - ev")).as("c"))
    val wAll = Window.partitionBy(lit(1))
    val wCum = wAll.orderBy("t_day").rowsBetween(Window.unboundedPreceding, 0)
    cells
      .withColumn("n_risk",
        sum(col("d") + col("c")).over(wAll)
          - sum(col("d") + col("c")).over(wCum) + col("d") + col("c"))
      .withColumn("ln_sum",
        sum(expr("CASE WHEN d < n_risk THEN ln(CAST(n_risk - d AS DOUBLE) / n_risk) ELSE 0.0d END"))
          .over(wCum))
      .withColumn("extinct", max(expr("CASE WHEN d >= n_risk THEN 1 ELSE 0 END")).over(wCum))
      .select(col("t_day"), col("d").as("d_events"), col("c").as("c_censored"),
        col("n_risk"),
        expr("CASE WHEN extinct = 1 THEN CAST(0 AS BIGINT) ELSE CAST(round(exp(ln_sum) * 1000000) AS BIGINT) END")
          .as("surv_micros"))
      .orderBy("t_day")
  }

  private val survivalKmSql: String =
    """WITH per_order AS (
      |  SELECT o.o_orderkey,
      |         CAST(max(datediff('day', DATE '1990-01-01', CAST(l.l_shipdate AS DATE))) AS BIGINT) AS ship_day,
      |         CAST(max(datediff('day', DATE '1990-01-01', CAST(o.o_orderdate AS DATE))) AS BIGINT) AS order_day,
      |         max(o.o_orderstatus) AS st
      |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |  GROUP BY o.o_orderkey
      |), durations AS (
      |  SELECT ship_day - order_day AS t_day,
      |         CAST(CASE WHEN st = 'F' THEN 1 ELSE 0 END AS BIGINT) AS ev
      |  FROM per_order WHERE ship_day >= order_day
      |), cells AS (
      |  SELECT t_day, CAST(sum(ev) AS BIGINT) AS d,
      |         CAST(sum(1 - ev) AS BIGINT) AS c
      |  FROM durations GROUP BY t_day
      |), scored AS (
      |  SELECT t_day, d, c,
      |         CAST(sum(d + c) OVER () - sum(d + c) OVER w + d + c AS BIGINT) AS n_risk
      |  FROM cells
      |  WINDOW w AS (ORDER BY t_day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), km AS (
      |  SELECT t_day, d, c, n_risk,
      |         sum(CASE WHEN d < n_risk
      |                  THEN ln(CAST(n_risk - d AS DOUBLE) / n_risk) ELSE 0.0 END) OVER w AS ln_sum,
      |         max(CASE WHEN d >= n_risk THEN 1 ELSE 0 END) OVER w AS extinct
      |  FROM scored
      |  WINDOW w AS (ORDER BY t_day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |)
      |SELECT t_day, d AS d_events, c AS c_censored, n_risk,
      |       CASE WHEN extinct = 1 THEN CAST(0 AS BIGINT)
      |            ELSE CAST(round(exp(ln_sum) * 1000000) AS BIGINT) END AS surv_micros
      |FROM km ORDER BY t_day""".stripMargin

  /** CUPED variance-reduced A/B readout (Deng, Xu, Kohavi & Walker,
    * WSDM 2013 — the pre-experiment-covariate adjustment every large
    * experimentation platform applies before reading a metric): the
    * events window is split at its temporal midpoint into a
    * pre-period (the covariate X: per-user sum of `value` millis
    * before the midpoint) and a post-period (the metric Y); variant =
    * user_id parity. θ = Sxy/Sxx is fitted POOLED across variants
    * (the standard choice — assignment-independent under
    * randomization), and each variant reports its raw mean, its
    * adjusted mean Ȳᵥ − θ(X̄ᵥ − X̄), and the achieved variance-
    * reduction ratio ρ² = Sxy²/(SxxSyy). All moments are exact
    * DECIMAL(38)/HUGEINT sums of millis; every division is a floor
    * division with the sign extracted first (`div`/`//` disagree on
    * negatives), so the readout is hash-exact across engines.
    *
    * Scale shape: one events scan → per-user (x, y) cells (the only
    * shuffle, keyed on user) → one 1-row pooled-moment aggregate +
    * one 2-row per-variant aggregate, broadcast-joined. No window, no
    * driver state beyond the scalar moments. */
  def cupedAdjust(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), expr("unix_millis(ts)").as("ms"),
        expr("CAST(round(value * 1000) AS BIGINT)").as("v"))
    val bounds = ev.agg(min("ms").as("lo_ms"), max("ms").as("hi_ms"))
    val users = ev.crossJoin(broadcast(bounds))
      .withColumn("mid_ms", expr("lo_ms + (hi_ms - lo_ms) div 2"))
      .groupBy("user_id")
      .agg(sum(expr("CASE WHEN ms < mid_ms THEN v ELSE 0 END")).as("x"),
        sum(expr("CASE WHEN ms >= mid_ms THEN v ELSE 0 END")).as("y"))
    // 1 row; feeds both variant rows
    val pooled = ck.ckpt(users.agg(
      count(lit(1)).as("n"),
      sum(col("x").cast("decimal(38,0)")).as("sx"),
      sum(col("y").cast("decimal(38,0)")).as("sy"),
      sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
      sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
      sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"))
      .select(col("n"), col("sx"),
        expr("CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx AS DECIMAL(38,0))").as("vxx"),
        expr("CAST(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS DECIMAL(38,0))").as("vxy"),
        expr("CAST(CAST(n AS DECIMAL(38,0)) * syy - sy * sy AS DECIMAL(38,0))").as("vyy")))
    val byVariant = users
      .groupBy(expr("user_id % 2").as("variant"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("x").cast("decimal(38,0)")).as("xv"),
        sum(col("y").cast("decimal(38,0)")).as("yv"))
    byVariant.crossJoin(broadcast(pooled))
      .select(col("variant"), col("n_users"),
        expr("CAST((yv * 1000) div n_users AS BIGINT)").as("mean_y_micros"),
        expr("""CAST(CASE WHEN vxx = 0 THEN NULL ELSE
               |  CASE WHEN vxy < 0 THEN -1 ELSE 1 END *
               |    ((abs(vxy) * 1000000) div vxx) END AS BIGINT)""".stripMargin)
          .as("theta_micros"),
        expr("""CAST(CASE WHEN vxx = 0 THEN NULL ELSE
               |  CASE WHEN 1000 * (yv * vxx * n - vxy * (xv * n - sx * n_users)) < 0
               |       THEN -1 ELSE 1 END *
               |  (abs(1000 * (yv * vxx * n - vxy * (xv * n - sx * n_users)))
               |    div (vxx * n_users * n)) END AS BIGINT)""".stripMargin)
          .as("mean_adj_micros"),
        expr("""CAST(CASE WHEN vxx = 0 OR vyy = 0 THEN NULL ELSE
               |  ((abs(vxy) * 1000) div vxx) * ((abs(vxy) * 1000) div vyy)
               |  END AS BIGINT)""".stripMargin)
          .as("rho2_ppm"))
      .orderBy("variant")
  }

  private val cupedSql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_ms(ts) AS ms,
      |         CAST(round(value * 1000) AS BIGINT) AS v
      |  FROM events
      |), bounds AS (
      |  SELECT min(ms) AS lo_ms, max(ms) AS hi_ms FROM ev
      |), users AS (
      |  SELECT user_id,
      |         CAST(sum(CASE WHEN ms < lo_ms + (hi_ms - lo_ms) // 2 THEN v ELSE 0 END) AS BIGINT) AS x,
      |         CAST(sum(CASE WHEN ms >= lo_ms + (hi_ms - lo_ms) // 2 THEN v ELSE 0 END) AS BIGINT) AS y
      |  FROM ev CROSS JOIN bounds GROUP BY user_id
      |), pooled AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
      |         CAST(count(*) AS HUGEINT) * sum(CAST(x AS HUGEINT) * x)
      |           - sum(CAST(x AS HUGEINT)) * sum(CAST(x AS HUGEINT)) AS vxx,
      |         CAST(count(*) AS HUGEINT) * sum(CAST(x AS HUGEINT) * y)
      |           - sum(CAST(x AS HUGEINT)) * sum(CAST(y AS HUGEINT)) AS vxy,
      |         CAST(count(*) AS HUGEINT) * sum(CAST(y AS HUGEINT) * y)
      |           - sum(CAST(y AS HUGEINT)) * sum(CAST(y AS HUGEINT)) AS vyy
      |  FROM users
      |), by_variant AS (
      |  SELECT user_id % 2 AS variant, CAST(count(*) AS BIGINT) AS n_users,
      |         CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS xv,
      |         CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS yv
      |  FROM users GROUP BY 1
      |)
      |SELECT variant, n_users,
      |       CAST((yv * 1000) // n_users AS BIGINT) AS mean_y_micros,
      |       CAST(CASE WHEN vxx = 0 THEN NULL ELSE
      |         (CASE WHEN vxy < 0 THEN -1 ELSE 1 END) *
      |           ((abs(vxy) * 1000000) // vxx) END AS BIGINT) AS theta_micros,
      |       CAST(CASE WHEN vxx = 0 THEN NULL ELSE
      |         (CASE WHEN 1000 * (yv * vxx * n - vxy * (xv * n - sx * n_users)) < 0
      |               THEN -1 ELSE 1 END) *
      |         (abs(1000 * (yv * vxx * n - vxy * (xv * n - sx * n_users)))
      |           // (vxx * n_users * n)) END AS BIGINT) AS mean_adj_micros,
      |       CAST(CASE WHEN vxx = 0 OR vyy = 0 THEN NULL ELSE
      |         ((abs(vxy) * 1000) // vxx) * ((abs(vxy) * 1000) // vyy)
      |         END AS BIGINT) AS rho2_ppm
      |FROM by_variant CROSS JOIN pooled ORDER BY variant""".stripMargin

  /** Sign-flip patterns drawn for [[permutationTest]] — 64 keeps the
    * add-one p-value resolution at 1/65 ≈ 0.015, the cheapest grid
    * that still resolves p < 0.05, and the full pattern×cell table at
    * 65·O(days) rows. */
  private val PermP = 64

  /** Paired sign-flip permutation test (Fisher 1935; the add-one
    * p-value per Phipson & Smith 2010) for "do clicks and purchases
    * move the same daily value volume?" — the assumption-free
    * complement of [[welchT]] (no normality, no variance model: under
    * H₀ the per-day difference dᵢ = clickᵢ − purchaseᵢ is symmetric,
    * so every ±-flip of the observed differences is equally likely and
    * the null distribution is built from the data itself). T = Σ±dᵢ
    * over [[PermP]] derandomized flip patterns — the [[bootstrapCi]]
    * Knuth-hash-on-(key, draw) convention, identical on both engines,
    * rerun-stable; the sign reads the hash as a THRESHOLD (u < 5·10⁵),
    * never its low bit, because an odd multiplier mod an even modulus
    * PRESERVES input parity — the parity form measurably collapsed all
    * 64 patterns onto the two alternating-day flips — plus the
    * identity pattern p=0 (T₀ = T_obs);
    * p-value = (#{p ≥ 1 : |Tₚ| ≥ |T_obs|} + 1)/(PermP + 1) in exact
    * integral micros. Everything is integer millis sums: no division
    * until the final quantized ratio, so the hash gate sees exact
    * values.
    *
    * Scale shape: the corpus collapses to per-DAY paired cells first
    * (calendar-bounded, the kendall_tau convention), the pattern
    * explode is 65·O(days) rows, and each Tₚ is one partial-aggregated
    * groupBy over that bounded table — no window, no driver state. */
  def permutationTest(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val daily = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(expr("unix_millis(ts) div 86400000").as("day"))
      .agg(
        sum(when(col("event_type") === "click",
          expr("CAST(round(value * 1000) AS BIGINT)")).otherwise(0L)).as("cv"),
        sum(when(col("event_type") === "purchase",
          expr("CAST(round(value * 1000) AS BIGINT)")).otherwise(0L)).as("pv"))
      .select(col("day"), (col("cv") - col("pv")).as("d"))
    // PermP+1 rows; feeds the observed row and the output
    val flipped = ck.ckpt(daily
      .select(col("day"), col("d"),
        explode(sequence(lit(0), lit(PermP))).as("p"))
      .select(col("p").cast("long").as("p"),
        when(col("p") === 0, col("d")).otherwise(
          when(expr("((((day % 999983) * 31 + p) % 999983) * 2654435761) % 1000000 < 500000"),
            col("d")).otherwise(-col("d"))).as("sd"))
      .groupBy("p").agg(sum("sd").as("t_perm_millis")))
    val obs = flipped.filter(col("p") === 0)
      .select(col("t_perm_millis").as("t_obs_millis"))
    // PermP+1 rows; feeds the p-value and the output
    val withObs = ck.ckpt(flipped.crossJoin(broadcast(obs))
      .withColumn("is_extreme",
        col("p") > 0 && abs(col("t_perm_millis")) >= abs(col("t_obs_millis"))))
    val pv = withObs.agg(
      expr(s"CAST(((sum(CASE WHEN is_extreme THEN 1 ELSE 0 END) + 1) * 1000000) div ${PermP + 1} AS BIGINT)")
        .as("p_value_micros"))
    withObs.crossJoin(broadcast(pv))
      .select(col("p"), col("t_perm_millis"), col("is_extreme"),
        col("t_obs_millis"), col("p_value_micros"))
      .orderBy("p")
  }

  private val permSql: String =
    s"""WITH daily AS (
       |  SELECT epoch_ms(ts) // 86400000 AS day,
       |         CAST(sum(CASE WHEN event_type = 'click'
       |                       THEN CAST(round(value * 1000) AS BIGINT) ELSE 0 END)
       |              - sum(CASE WHEN event_type = 'purchase'
       |                         THEN CAST(round(value * 1000) AS BIGINT) ELSE 0 END)
       |              AS BIGINT) AS d
       |  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1
       |), pats AS (SELECT unnest(generate_series(0, $PermP)) AS p),
       |flipped AS (
       |  SELECT CAST(p AS BIGINT) AS p,
       |         CAST(sum(CASE WHEN p = 0 THEN d
       |                       WHEN ((((day % 999983) * 31 + p) % 999983) * 2654435761) % 1000000 < 500000 THEN d
       |                       ELSE -d END) AS BIGINT) AS t_perm_millis
       |  FROM daily CROSS JOIN pats GROUP BY 1
       |), obs AS (SELECT t_perm_millis AS t_obs_millis FROM flipped WHERE p = 0),
       |flagged AS (
       |  SELECT f.*, o.t_obs_millis,
       |         f.p > 0 AND abs(f.t_perm_millis) >= abs(o.t_obs_millis) AS is_extreme
       |  FROM flipped f CROSS JOIN obs o
       |), pv AS (
       |  SELECT CAST(((sum(CASE WHEN is_extreme THEN 1 ELSE 0 END) + 1) * 1000000)
       |              // ${PermP + 1} AS BIGINT) AS p_value_micros
       |  FROM flagged
       |)
       |SELECT p, t_perm_millis, is_extreme, t_obs_millis, p_value_micros
       |FROM flagged CROSS JOIN pv ORDER BY p""".stripMargin

  /** χ²(df=2) critical value at p = 0.001 in picos — df=2 has the
    * closed form χ² = −2·ln(p), so the constant is exactly
    * ⌊−2·ln(0.001)·10¹²⌋ = 13 815 510 557 964, not a table lookup. */
  private val SrmCritPicos = 13815510557964L

  /** Sample-ratio-mismatch guardrail (Fabijan et al. 2019, "Diagnosing
    * Sample Ratio Mismatch") over [[Relational.sampleSplit]]'s 80/10/10
    * train/val/test assignment — THE first validity check every
    * experimentation / data-split pipeline runs before reading any
    * downstream metric: if the realized unit counts don't match the
    * configured ratios, the assignment itself is broken (biased hash,
    * dropped logs, a filter applied after randomization) and every
    * split-conditional statistic is suspect. Crucially the audit runs
    * at the RANDOMIZATION UNIT (distinct order keys — the key the
    * split is a function of), not at row level: lineitem rows per
    * order vary, so row-level counts would flag benign imbalance the
    * design never promised. χ² = Σ (10·obsᵢ − N·wᵢ)²/(10·N·wᵢ) over
    * the integer weights (8,1,1); per-split terms quantize to exact
    * integral picos in DECIMAL(38)/HUGEINT BEFORE the sum (the pr_auc
    * convention) and the verdict compares against the df=2 closed-form
    * p<0.001 critical value [[SrmCritPicos]] — terms are squares, so
    * trunc-vs-floor cannot diverge cross-engine.
    *
    * Scale shape: the distinct on the unit key is the only data-sized
    * shuffle (partial-agg pushed); everything after lives on ≤3 split
    * cells + a broadcast 1-row total. */
  def srmCheck(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val units = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("k")).distinct()
      .select(
        when(col("k") % 10 < 8, "train")
          .when(col("k") % 10 === 8, "val")
          .otherwise("test").as("split"))
    // ≤3 rows; feeds the total and the output
    val cells = ck.ckpt(units.groupBy("split").agg(count(lit(1)).as("n_units"))
      .withColumn("w", when(col("split") === "train", 8L).otherwise(1L)))
    val total = cells.agg(sum("n_units").as("n_total"))
    val terms = ck.ckpt(cells.crossJoin(broadcast(total))
      .select(col("split"), col("n_units"),
        (col("n_total") * col("w")).as("exp_x10"),
        expr("""CAST((CAST(10 * n_units - n_total * w AS DECIMAL(38,0))
               |      * (10 * n_units - n_total * w) * 1000000000000)
               |     div (CAST(10 AS DECIMAL(38,0)) * n_total * w) AS BIGINT)""".stripMargin)
          .as("term_picos"))) // ≤3 rows; feeds the χ² sum and the output
    val chi2 = terms.agg(sum("term_picos").as("chi2_picos"))
    terms.crossJoin(broadcast(chi2))
      .select(col("split"), col("n_units"), col("exp_x10"), col("term_picos"),
        col("chi2_picos"), (col("chi2_picos") > SrmCritPicos).as("srm_flag"))
      .orderBy("split")
  }

  private val srmSql: String =
    """WITH units AS (
      |  SELECT DISTINCT l_orderkey AS k FROM lineitem
      |), cells AS (
      |  SELECT CASE WHEN k % 10 < 8 THEN 'train'
      |              WHEN k % 10 = 8 THEN 'val' ELSE 'test' END AS split,
      |         CAST(count(*) AS BIGINT) AS n_units
      |  FROM units GROUP BY 1
      |), weighted AS (
      |  SELECT split, n_units,
      |         CASE WHEN split = 'train' THEN 8 ELSE 1 END AS w
      |  FROM cells
      |), total AS (SELECT CAST(sum(n_units) AS BIGINT) AS n_total FROM weighted),
      |terms AS (
      |  SELECT split, n_units, CAST(n_total * w AS BIGINT) AS exp_x10,
      |         CAST((CAST(10 * n_units - n_total * w AS HUGEINT)
      |               * (10 * n_units - n_total * w) * 1000000000000)
      |              // (CAST(10 AS HUGEINT) * n_total * w) AS BIGINT) AS term_picos
      |  FROM weighted CROSS JOIN total
      |), chi AS (SELECT CAST(sum(term_picos) AS BIGINT) AS chi2_picos FROM terms)
      |SELECT split, n_units, exp_x10, term_picos, chi2_picos,
      |       chi2_picos > 13815510557964 AS srm_flag
      |FROM terms CROSS JOIN chi ORDER BY split""".stripMargin

  /** Difference-in-differences estimator (Card & Krueger 1994 made it
    * canon — the causal readout when assignment isn't random but a
    * pre-period exists; the observational sibling of [[cupedAdjust]],
    * which shares its variant/period framing): events split into
    * pre/post at the temporal midpoint and treatment/control by
    * user-id parity; DiD = (Ȳ₁₁ − Ȳ₁₀) − (Ȳ₀₁ − Ȳ₀₀) over the four
    * cell means of `value` millis. The estimate is formed as ONE
    * exact rational — numerator and the n₁₁n₁₀n₀₁n₀₀ common
    * denominator in DECIMAL(38)/HUGEINT, sign extracted before the
    * floor division — so the hash gate sees exact integers. Output:
    * the four cells (n, sum, floor-mean micros) each carrying the
    * shared did_micros.
    *
    * Scale shape: one events scan → 4-row aggregate → 1-row estimate
    * cross-joined back; no window, no per-user state (contrast
    * [[cupedAdjust]], which needs the per-user covariate pass). */
  def diffInDiff(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), expr("unix_millis(ts)").as("ms"),
        expr("CAST(round(value * 1000) AS BIGINT)").as("v"))
    val bounds = ev.agg(min("ms").as("lo_ms"), max("ms").as("hi_ms"))
    // 4 rows; feeds both the estimate and the output
    val cells = ck.ckpt(ev.crossJoin(broadcast(bounds))
      .select(expr("user_id % 2").as("treated"),
        expr("CAST(CASE WHEN ms >= lo_ms + (hi_ms - lo_ms) div 2 THEN 1 ELSE 0 END AS BIGINT)").as("post"),
        col("v"))
      .groupBy("treated", "post")
      .agg(count(lit(1)).as("n"), sum("v").as("sum_millis")))
    val wide = cells.agg(
      sum(expr("CASE WHEN treated = 1 AND post = 1 THEN n ELSE 0 END")).as("n11"),
      sum(expr("CASE WHEN treated = 1 AND post = 0 THEN n ELSE 0 END")).as("n10"),
      sum(expr("CASE WHEN treated = 0 AND post = 1 THEN n ELSE 0 END")).as("n01"),
      sum(expr("CASE WHEN treated = 0 AND post = 0 THEN n ELSE 0 END")).as("n00"),
      sum(expr("CASE WHEN treated = 1 AND post = 1 THEN sum_millis ELSE 0 END"))
        .cast("decimal(38,0)").as("s11"),
      sum(expr("CASE WHEN treated = 1 AND post = 0 THEN sum_millis ELSE 0 END"))
        .cast("decimal(38,0)").as("s10"),
      sum(expr("CASE WHEN treated = 0 AND post = 1 THEN sum_millis ELSE 0 END"))
        .cast("decimal(38,0)").as("s01"),
      sum(expr("CASE WHEN treated = 0 AND post = 0 THEN sum_millis ELSE 0 END"))
        .cast("decimal(38,0)").as("s00"))
      .select(expr(
        """CAST(CASE WHEN n11 = 0 OR n10 = 0 OR n01 = 0 OR n00 = 0 THEN NULL ELSE
          |  CASE WHEN 1000 * ((s11 * n10 - s10 * n11) * (CAST(n01 AS DECIMAL(38,0)) * n00)
          |                  - (s01 * n00 - s00 * n01) * (CAST(n11 AS DECIMAL(38,0)) * n10)) < 0
          |       THEN -1 ELSE 1 END *
          |  (abs(1000 * ((s11 * n10 - s10 * n11) * (CAST(n01 AS DECIMAL(38,0)) * n00)
          |             - (s01 * n00 - s00 * n01) * (CAST(n11 AS DECIMAL(38,0)) * n10)))
          |   div (CAST(n11 AS DECIMAL(38,0)) * n10 * n01 * n00)) END AS BIGINT)""".stripMargin)
        .as("did_micros"))
    cells.crossJoin(broadcast(wide))
      .select(col("treated"), col("post"), col("n"), col("sum_millis"),
        expr("(sum_millis * 1000) div n").as("mean_micros"), col("did_micros"))
      .orderBy("treated", "post")
  }

  private val didSql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_ms(ts) AS ms,
      |         CAST(round(value * 1000) AS BIGINT) AS v
      |  FROM events
      |), bounds AS (SELECT min(ms) AS lo_ms, max(ms) AS hi_ms FROM ev
      |), cells AS (
      |  SELECT user_id % 2 AS treated,
      |         CAST(CASE WHEN ms >= lo_ms + (hi_ms - lo_ms) // 2 THEN 1 ELSE 0 END AS BIGINT) AS post,
      |         CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS sum_millis
      |  FROM ev CROSS JOIN bounds GROUP BY 1, 2
      |), wide AS (
      |  SELECT CAST(sum(CASE WHEN treated = 1 AND post = 1 THEN n ELSE 0 END) AS HUGEINT) AS n11,
      |         CAST(sum(CASE WHEN treated = 1 AND post = 0 THEN n ELSE 0 END) AS HUGEINT) AS n10,
      |         CAST(sum(CASE WHEN treated = 0 AND post = 1 THEN n ELSE 0 END) AS HUGEINT) AS n01,
      |         CAST(sum(CASE WHEN treated = 0 AND post = 0 THEN n ELSE 0 END) AS HUGEINT) AS n00,
      |         CAST(sum(CASE WHEN treated = 1 AND post = 1 THEN sum_millis ELSE 0 END) AS HUGEINT) AS s11,
      |         CAST(sum(CASE WHEN treated = 1 AND post = 0 THEN sum_millis ELSE 0 END) AS HUGEINT) AS s10,
      |         CAST(sum(CASE WHEN treated = 0 AND post = 1 THEN sum_millis ELSE 0 END) AS HUGEINT) AS s01,
      |         CAST(sum(CASE WHEN treated = 0 AND post = 0 THEN sum_millis ELSE 0 END) AS HUGEINT) AS s00
      |  FROM cells
      |), est AS (
      |  SELECT CAST(CASE WHEN n11 = 0 OR n10 = 0 OR n01 = 0 OR n00 = 0 THEN NULL ELSE
      |    (CASE WHEN 1000 * ((s11 * n10 - s10 * n11) * (n01 * n00)
      |                     - (s01 * n00 - s00 * n01) * (n11 * n10)) < 0
      |          THEN -1 ELSE 1 END) *
      |    (abs(1000 * ((s11 * n10 - s10 * n11) * (n01 * n00)
      |               - (s01 * n00 - s00 * n01) * (n11 * n10)))
      |     // (n11 * n10 * n01 * n00)) END AS BIGINT) AS did_micros
      |  FROM wide
      |)
      |SELECT treated, post, n, sum_millis,
      |       (sum_millis * 1000) // n AS mean_micros, did_micros
      |FROM cells CROSS JOIN est ORDER BY treated, post""".stripMargin

  val entries: Seq[QueryDef] = Seq(
    QueryDef.sql("diff_in_diff", didSql)(diffInDiff),
    QueryDef.sql("srm_check", srmSql)(srmCheck),
    QueryDef.sql("permutation_test", permSql)(permutationTest),
    QueryDef.sql("survival_km", survivalKmSql)(survivalKm),
    QueryDef.sql("cuped_adjust", cupedSql)(cupedAdjust),
    QueryDef.sql("seasonal_decompose", seasonalSql)(seasonalDecompose),
    QueryDef.sql("anova_f", anovaFSql)(anovaF),
    QueryDef.sql("levene_test", leveneSql)(leveneTest),
    QueryDef.sql("roc_auc", rocAucSql)(rocAuc),
    QueryDef.sql("pr_auc", prAucSql)(prAuc),
    QueryDef.sql("mutual_info", mutualInfoSql)(mutualInfo),
    QueryDef.sql("cramers_v", cramersVSql)(cramersV),
    QueryDef.sql("group_auc", groupAucSql)(groupAuc),
    QueryDef.sql("fairness_parity", fairnessParitySql)(fairnessParity),
    QueryDef.sql("js_divergence", jsDivergenceSql)(jsDivergence),
    QueryDef.sql("calibration_ece", calibrationEceSql)(calibrationEce),
    QueryDef.sql("brier_decomposition", brierSql)(brierDecomposition),
    QueryDef.sql("lift_deciles", liftDecilesSql)(liftDeciles),
    QueryDef.sql("corr_matrix", corrMatrixSql)(corrMatrix),
    QueryDef.sql("spearman_corr", spearmanSql)(spearmanCorr),
    QueryDef.sql("kendall_tau", kendallSql)(kendallTau),
    QueryDef.sql("rolling_ols", rollingOlsSql)(rollingOls),
    QueryDef.sql("isotonic_calibrate", isotonicSql)(isotonicCalibrate),
    QueryDef.sql("bootstrap_ci", bootstrapSql)(bootstrapCi),
    QueryDef.sql("conformal_filter", conformalSql)(conformalFilter),
    QueryDef.sql("theilsen_trend", theilsenSql)(theilsenTrend),
    QueryDef.sql("winsorize", winsorizeSql)(winsorize),
    QueryDef.sql("hill_tail_index", hillSql)(hillTailIndex),
    QueryDef.sql("psi_drift", psiSql)(psiDrift),
    QueryDef.sql("volume_trend", volumeTrendSql)(volumeTrend),
    QueryDef.sql("anomaly_mad", anomalyMadSql)(anomalyMad),
    // stateful streaming twin: emits one verdict per CLOSED day, i.e.
    // the batch result minus each type's final observed day (which
    // never closes inside the stream) — the oracle states exactly that
    QueryDef.sql("stream_anomaly",
      anomalyMadSql.replace(
        "FROM mad ORDER BY event_type, day",
        """FROM mad m2
          |WHERE day < (SELECT max(day) FROM daily d WHERE d.event_type = m2.event_type)
          |ORDER BY event_type, day""".stripMargin))(
      (s, d) => graft.streaming.Streams.runBoundedAnomaly(s, d)),
    QueryDef.sql("autocorr", autocorrSql)(autocorr),
    QueryDef.sql("quantile_normalize", quantileNormalizeSql)(quantileNormalize),
    QueryDef.sql("changepoint_cusum", changepointSql)(changepointCusum),
    QueryDef.sql("ks_test", ksTestSql)(ksTest),
    QueryDef.sql("welch_t", welchTSql)(welchT),
    QueryDef.sql("mann_whitney", mannWhitneySql)(mannWhitney),
    QueryDef.sql("robust_outliers", robustOutliersSql)(robustOutliers),
    QueryDef.sql("key_skew_profile", keySkewProfileSql)(keySkewProfile),
    QueryDef.sql("group_quantiles", groupQuantilesSql)(groupQuantiles),
    QueryDef.sql("weighted_median", weightedMedianSql)(weightedMedian),
    QueryDef.sql("benford_test", benfordSql)(benfordTest),
    QueryDef.sql("gini_coefficient", giniSql)(giniCoefficient),
  )
}
