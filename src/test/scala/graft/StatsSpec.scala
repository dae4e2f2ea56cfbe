package graft

import graft.ops.Stats
import graft.tables.Tables
import org.apache.spark.sql.functions._

/** Semantic checks for the distribution-statistics operators: the
  * distributed formulations must equal their driver-side brute-force
  * definitions at sf0.001, and the KS prefix scan must not contain the
  * global-window scale-killer shape. */
class StatsSpec extends SparkSpec {

  private def centsOf(v: Double): Long = math.round(v * 100)

  /** interpolated median, doubled (lo+hi for even n, 2·mid for odd). */
  private def median2(xs: Seq[Long]): Long = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) 2 * s(n / 2) else s(n / 2 - 1) + s(n / 2)
  }

  test("autocorr matches the driver-side gapped-series ACF definition at sf0.001") {
    val got = Stats.autocorr(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getString(3).toLong, r.getString(4).toLong)).toMap
    assert(got.nonEmpty)
    // brute-force per type on the driver: same day bucketing, same
    // n²-scaled centering, pairs only where day+lag is observed
    val daily = Tables.events(spark, sfDir)
      .selectExpr("event_type", "unix_millis(ts) div 86400000 AS day")
      .groupBy("event_type", "day").count()
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    daily.groupBy(_._1).foreach { case (et, rows) =>
      val byDay = rows.map(r => r._2 -> r._3).toMap
      val n = byDay.size.toLong
      val t = byDay.values.sum
      val d = byDay.map { case (day, x) => day -> (x * n - t) }
      val den = d.values.map(v => v * v).sum
      for (lag <- 1L to 3L) {
        val pairs = d.toSeq.flatMap { case (day, v) => d.get(day + lag).map(v2 => (v, v2)) }
        if (pairs.nonEmpty) {
          val (np, num, dn) = got((et, lag))
          assert(np == pairs.size.toLong, s"$et lag $lag n_pairs")
          assert(num == pairs.map { case (a, b) => a * b }.sum, s"$et lag $lag num")
          assert(dn == den, s"$et lag $lag den")
        }
      }
    }
  }

  test("anova_f matches the driver-side quantized decomposition at sf0.001") {
    val row = Stats.anovaF(spark, sfDir).collect().head
    val (k, n) = (row.getLong(0), row.getLong(1))
    val (ssb, ssw) = (new java.math.BigInteger(row.getString(2)),
      new java.math.BigInteger(row.getString(3)))
    val f = row.getLong(4)
    // driver brute force: same cents rounding, same floor-quantized
    // per-group S_g^2/n_g micros, same two-step integral F division
    val vals = Tables.events(spark, sfDir)
      .selectExpr("event_type", "CAST(round(value * 100) AS BIGINT) AS v")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val groups = vals.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    assert(k == groups.size.toLong && n == vals.length.toLong)
    val a = groups.values.map { xs =>
      val s = xs.map(BigInt(_)).sum
      (s * s * 1000000) / xs.length
    }.sum
    val t  = BigInt(vals.map(_._2).sum)
    val ss = vals.map(v => BigInt(v._2) * v._2).sum
    val expSsb = a - (t * t * 1000000) / n
    val expSsw = ss * 1000000 - a
    assert(BigInt(ssb) == expSsb, "ssb_micros")
    assert(BigInt(ssw) == expSsw, "ssw_micros")
    val den = ((k - 1) * expSsw) / 1000000
    val expF = (expSsb.abs * (n - k)) / den * expSsb.signum
    assert(f == expF.toLong, "f_micros")
    // the decomposition is non-degenerate on the fixtures: both real
    assert(expSsb > 0 && expSsw > 0)
  }

  test("levene_test matches the driver-side z-transform decomposition at sf0.001") {
    val row = Stats.leveneTest(spark, sfDir).collect().head
    val (k, n) = (row.getLong(0), row.getLong(1))
    val (ssb, ssw) = (BigInt(row.getString(2)), BigInt(row.getString(3)))
    val w = row.getLong(4)
    // replay: cents → group (n, Σ) moments → z = |n·x − S| div n →
    // the identical anova core on z
    val vals = Tables.events(spark, sfDir)
      .selectExpr("event_type", "CAST(round(value * 100) AS BIGINT) AS v")
      .collect().map(r => (r.getString(0), BigInt(r.getLong(1))))
    val groups = vals.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    assert(k == groups.size.toLong && n == vals.length.toLong)
    val zs = groups.toSeq.flatMap { case (et, xs) =>
      val (ng, sg) = (BigInt(xs.length), xs.sum)
      xs.map(x => et -> (ng * x - sg).abs / ng)
    }
    val zg = zs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val a  = zg.values.map(z => (z.sum * z.sum * 1000000) / z.length).sum
    val t  = zs.map(_._2).sum
    val ss = zs.map(z => z._2 * z._2).sum
    val expSsb = a - (t * t * 1000000) / n
    val expSsw = ss * 1000000 - a
    assert(ssb == expSsb, "ssb_micros")
    assert(ssw == expSsw, "ssw_micros")
    val den = ((k - 1) * expSsw) / 1000000
    val expW = (expSsb.abs * (n - k)) / den * expSsb.signum
    assert(w == expW.toLong, "w_micros")
    assert(expSsw > 0, "within-group deviation spread must be real")
  }

  test("volume_trend matches the driver-side exact-rational slope at sf0.001") {
    val got = Stats.volumeTrend(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2)),
        r.getString(3))).toMap
    assert(got.nonEmpty)
    val daily = Tables.events(spark, sfDir)
      .selectExpr("event_type", "unix_millis(ts) div 86400000 AS day")
      .groupBy("event_type", "day").count()
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    daily.groupBy(_._1).foreach { case (et, rows) =>
      val minDay = rows.map(_._2).min
      val pts = rows.map(r => (BigInt(r._2 - minDay), BigInt(r._3)))
      val m = BigInt(pts.size)
      val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
      val sxy = pts.map(p => p._1 * p._2).sum
      val sxx = pts.map(p => p._1 * p._1).sum
      val num = m * sxy - sx * sy
      val den = m * sxx - sx * sx
      val slope = if (den == 0) None
        else Some(((num.abs * 1000000) / den * num.signum).toLong)
      val trend = if (num < 0) "falling" else if (num > 0) "rising" else "flat"
      assert(got(et) == ((m.toLong, slope, trend)), s"type $et")
    }
  }

  test("anomaly_mad matches a driver-side rolling median/MAD replay at sf0.001") {
    val got = Stats.anomalyMad(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6))).toMap
    assert(got.nonEmpty)
    val daily = Tables.events(spark, sfDir)
      .selectExpr("event_type", "unix_millis(ts) div 86400000 AS day")
      .groupBy("event_type", "day").count()
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    var checkedAnomaly = false
    daily.groupBy(_._1).foreach { case (et, rows) =>
      val series = rows.map(r => (r._2, r._3)).sortBy(_._1)
      series.indices.foreach { i =>
        val win = series.slice(math.max(0, i - 28), i).map(_._2)
        if (win.size >= 8) {
          val (day, n) = series(i)
          val m2   = median2(win)
          val mad4 = median2(win.map(x => math.abs(2 * x - m2)))
          val flag = math.abs(4 * n - 2 * m2) > 5 * mad4
          assert(got((et, day)) == ((n, win.size.toLong, m2, mad4, flag)),
            s"$et day $day")
          checkedAnomaly ||= flag
        } else assert(!got.contains((et, series(i)._1)), s"$et short-window day emitted")
      }
    }
    info(s"replayed ${got.size} rows; any anomaly flagged: $checkedAnomaly")
  }

  test("seasonal_decompose: trend+seasonal+residual reconstruct n exactly, replay-checked") {
    val got = Stats.seasonalDecompose(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.nonEmpty)
    // identity: n·1e6 = trend + seasonal + residual on every row
    got.foreach { case (day, n, tr, _, se, re) =>
      assert(n * 1000000L == tr + se + re, s"decomposition identity broken on day $day")
    }
    // driver replay of the moving average + dow means over the cells
    val daily = Tables.events(spark, sfDir)
      .selectExpr("unix_millis(ts) div 86400000 AS day")
      .groupBy("day").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val trend = daily.indices.map { i =>
      val win = daily.slice(math.max(0, i - 3), math.min(daily.length, i + 4))
      val (s, c) = (win.map(_._2).sum, win.length.toLong)
      daily(i)._1 -> s * 1000000L / c
    }.toMap
    val dev = daily.map { case (d, n) => (d, n * 1000000L - trend(d)) }
    val seas = dev.groupBy(_._1 % 7).map { case (dow, xs) =>
      val s = xs.map(_._2).sum
      dow -> (if (s >= 0) s / xs.length else -((-s) / xs.length))
    }
    got.foreach { case (day, _, tr, dow, se, _) =>
      assert(tr == trend(day), s"trend mismatch on day $day")
      assert(se == seas(dow), s"seasonal mismatch on dow $dow")
    }
  }

  test("ks_test matches the driver-side exact two-sample D at sf0.001") {
    val rows = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"), col("value"))
      .collect()
      .map(r => (r.getString(0), centsOf(r.getDouble(1))))
    val a = rows.collect { case ("click", v) => v }.sorted
    val b = rows.collect { case ("purchase", v) => v }.sorted
    val (n, m) = (a.length.toLong, b.length.toLong)
    val pooled = (a ++ b).distinct.sorted
    val dNum = pooled.map { v =>
      val ca = a.count(_ <= v).toLong
      val cb = b.count(_ <= v).toLong
      math.abs(ca * m - cb * n)
    }.max

    val got = Stats.ksTest(spark, sfDir).collect().head
    assert(got.getAs[Long]("n_a") == n && got.getAs[Long]("n_b") == m)
    assert(got.getAs[Long]("d_num") == dNum,
      s"distributed prefix-sum D ${got.getAs[Long]("d_num")} != exact $dNum")
    assert(got.getAs[Long]("d_micros") == dNum * 1000000L / (n * m))
  }

  test("mann_whitney matches the driver-side pairwise U and U_a + U_b = n*m at sf0.001") {
    val rows = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"), col("value"))
      .collect()
      .map(r => (r.getString(0), centsOf(r.getDouble(1))))
    val a = rows.collect { case ("click", v) => v }
    val b = rows.collect { case ("purchase", v) => v }
    // brute force: doubled U_a = sum over pairs of (2 if a>b, 1 if tie)
    val u2 = (for (x <- a; y <- b) yield if (x > y) 2L else if (x == y) 1L else 0L).sum

    val got = Stats.mannWhitney(spark, sfDir).collect().head
    val (n, m) = (got.getAs[Long]("n_a"), got.getAs[Long]("n_b"))
    assert((n, m) == ((a.length.toLong, b.length.toLong)))
    assert(got.getAs[Long]("u2_a") == u2,
      s"distributed rank-sum ${got.getAs[Long]("u2_a")} != pairwise $u2")
    assert(got.getAs[Long]("u2_a") + got.getAs[Long]("u2_b") == 2L * n * m)
    assert(got.getAs[Long]("cles_micros") == u2 * 1000000L / (2L * n * m))
  }

  test("ks_test plans no global (partitionBy-less) window") {
    assertScanShape("ks_test", Stats.ksTest(spark, sfDir))
  }

  test("robust_outliers matches the driver-side median/MAD definition at sf0.001") {
    val byType = Tables.events(spark, sfDir)
      .select(col("event_type"), col("value"))
      .collect()
      .map(r => (r.getString(0), centsOf(r.getDouble(1))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap

    val got = Stats.robustOutliers(spark, sfDir).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n"), r.getAs[Long]("med2"), r.getAs[Long]("mad4"),
          r.getAs[Long]("n_outliers")))).toMap
    assert(got.keySet == byType.keySet)

    for ((t, vs) <- byType) {
      val med2 = median2(vs)
      val d2s  = vs.map(v => math.abs(2 * v - med2))
      val mad4 = median2(d2s)
      val out  = d2s.count(d2 => 2 * d2 > 3 * mad4).toLong
      assert(got(t) == ((vs.size.toLong, med2, mad4, out)),
        s"$t: got ${got(t)}, expected (${vs.size}, $med2, $mad4, $out)")
    }
  }

  test("group_quantiles matches driver-side type-1 order statistics at sf0.001") {
    val bySource = Tables.documents(spark, sfDir)
      .select(col("source"), col("n_chars"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toIndexedSeq).toMap

    val got = Stats.groupQuantiles(spark, sfDir).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("p50"), r.getAs[Long]("p90"),
          r.getAs[Long]("p99"), r.getAs[Long]("max_chars")))).toMap
    assert(got.keySet == bySource.keySet)

    for ((s, vs) <- bySource) {
      def at(k: Int): Long = vs(((k * vs.size + 99) / 100) - 1) // rank ceil(k·n/100), 1-based
      assert(got(s) == ((vs.size.toLong, at(50), at(90), at(99), vs.last)),
        s"$s: got ${got(s)}, expected (${vs.size}, ${at(50)}, ${at(90)}, ${at(99)}, ${vs.last})")
    }
  }

  test("group_quantiles windows are group-partitioned (no global sort)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val windows = Stats.groupQuantiles(spark, sfDir).queryExecution.optimizedPlan
      .collect { case w: LWindow => w }
    assert(windows.nonEmpty)
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"global window funnels the quantile scan through one task: $w"))
  }

  test("key_skew_profile buckets are exact powers of two and partition all rows") {
    val total = Tables.events(spark, sfDir).count()
    val rows  = Stats.keySkewProfile(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("n_rows")).sum == total)
    rows.foreach { r =>
      val (bucket, lo, hi) =
        (r.getAs[Long]("bucket"), r.getAs[Long]("min_size"), r.getAs[Long]("max_size"))
      assert(lo >= (1L << bucket) && hi < (1L << (bucket + 1)),
        s"bucket $bucket sizes [$lo,$hi] escape [2^$bucket, 2^${bucket + 1})")
      assert(lo <= hi && r.getAs[Long]("n_keys") > 0)
    }
  }

  test("bigram_lift prunes the documents scan to the text column") {
    // the served query checkpoints its vocabulary tables (the final plan
    // has no parquet scan), so pin pruning on the shared corpus-side
    // reductions bigramLift/lmBigramScore actually materialize
    val docs = Tables.documents(spark, sfDir)
    for (side <- Seq(graft.ops.TextAnalysis.unigramCounts(docs),
                     graft.ops.TextAnalysis.bigramCounts(docs))) {
      val p = side.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      val schemas = "ReadSchema: \\S+".r.findAllIn(p).toList
      assert(schemas.nonEmpty)
      schemas.foreach(s => assert(s.contains("struct<text:string>"),
        s"documents scan reads more than text: $s"))
    }
  }

  test("wordBigramsAll keeps multiplicity and drops empty tokens before pairing") {
    import spark.implicits._
    val got = Seq("a  b a b", "x", "", "a a a")
      .toDF("text")
      .select(graft.functions.TextFunctions.wordBigramsCol(col("text")).as("bs"))
      .collect().map(_.getSeq[String](0).toList).toList
    assert(got == List(
      List("a b", "b a", "a b"), // double space collapses: pairs over filtered tokens
      Nil, Nil,
      List("a a", "a a"))) // multiplicity preserved (unlike the distinct n-gram kernel)
  }

  test("ks/mann-whitney BIGINT output guard raises loudly past Long range") {
    // non-ANSI Spark nulls a DECIMAL(38)→BIGINT cast silently on
    // overflow while the DuckDB oracle raises — toLongChecked must turn
    // the silent NULL into the oracle's failure mode
    import spark.implicits._
    val inRange = Seq(1).toDF("x")
      .select(Stats.toLongChecked(
        lit(Long.MaxValue).cast("decimal(38,0)"), "stat").as("v"))
      .collect().head.getLong(0)
    assert(inRange == Long.MaxValue)
    val over = Seq(1).toDF("x").select(Stats.toLongChecked(
      lit(Long.MaxValue).cast("decimal(38,0)") * 2, "stat").as("v"))
    val e = intercept[Exception](over.collect())
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("exceeds BIGINT output width")),
      s"guard did not fire loudly: ${messages(e).mkString(" | ")}")
  }

  test("welch_t matches a double-precision driver-side reference at sf0.001") {
    val rows = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"), col("value"))
      .collect()
      .map(r => (r.getString(0), centsOf(r.getDouble(1)).toDouble))
    val a = rows.collect { case ("click", v) => v }
    val b = rows.collect { case ("purchase", v) => v }
    def meanVar(x: Array[Double]): (Double, Double) = {
      val m = x.sum / x.length
      (m, x.map(v => (v - m) * (v - m)).sum / (x.length - 1))
    }
    val (ma, va) = meanVar(a)
    val (mb, vb) = meanVar(b)
    val t2Ref   = (ma - mb) * (ma - mb) / (va / a.length + vb / b.length)
    val diffRef = ma - mb

    val got = Stats.welchT(spark, sfDir).collect().head
    assert(got.getAs[Long]("n_a") == a.length.toLong &&
      got.getAs[Long]("n_b") == b.length.toLong)
    // micros are integral truncations of the exact rational; the double
    // reference carries its own rounding — compare at 1e-3 relative
    val t2Got   = got.getAs[Long]("t2_micros") / 1e6
    val diffGot = got.getAs[Long]("mean_diff_micros") / 1e6
    assert(math.abs(t2Got - t2Ref) <= 1e-3 * math.max(1.0, t2Ref),
      s"t2 $t2Got vs reference $t2Ref")
    assert(math.abs(diffGot - diffRef) <= 1e-3 * math.max(1.0, math.abs(diffRef)),
      s"mean diff $diffGot vs reference $diffRef")
    // swapping the samples flips the mean difference and preserves t² —
    // an identity of the formula the integer pipeline must respect: the
    // rational is symmetric under (a,b) exchange up to D's sign
    assert(got.getAs[Long]("t2_micros") >= 0L)
  }

  test("hill_tail_index replays from the driver-side top-65 order statistics") {
    val vs = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), (round(col("o_totalprice") * 100)).cast("long").as("v"))
      .collect().map(r => (r.getLong(1), r.getLong(0)))
      .sortBy { case (v, k) => (-v, k) }.take(65).map(_._1)
    val thr = vs(64)
    val terms = vs.take(64).map(v => math.round(math.log(v.toDouble / thr) * 1e6))
    val hill = terms.sum / 64L
    val row = Stats.hillTailIndex(spark, sfDir).collect().head
    assert(row.getLong(0) == 64L && row.getLong(1) == thr)
    assert(row.getLong(2) == hill, s"hill ${row.getLong(2)} vs replay $hill")
    assert(row.getLong(3) == 1000000000000L / hill)
    assert(hill > 0, "top orders are not above the threshold — vacuous")
  }

  test("psi_drift terms replay and the total is their sum") {
    val ev = Tables.events(spark, sfDir)
      .select(expr("unix_millis(ts) div 86400000").as("day"),
        expr("CAST(round(value * 100) AS BIGINT) div 5000").as("bin"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val (lo, hi) = (ev.map(_._1).min, ev.map(_._1).max)
    val byBin = ev.groupBy(_._2)
    val bins  = byBin.keys.toSeq.sorted
    val na = byBin.view.mapValues(_.count { case (d, _) => d * 2 < lo + hi }.toLong).toMap
    val nb = byBin.view.mapValues(_.count { case (d, _) => d * 2 >= lo + hi }.toLong).toMap
    val (ta, tb, bc) = (na.values.sum, nb.values.sum, bins.size.toLong)
    val expect = bins.map { b =>
      val p = ((na(b) + 1) * 1000000L) / (ta + bc)
      val q = ((nb(b) + 1) * 1000000L) / (tb + bc)
      // ln from the EXACT integer cross-products, never the quantized
      // shares (which floor to 0 once a half tops 10⁶ events)
      val ln = math.log(((na(b) + 1).toDouble * (tb + bc)) /
        ((nb(b) + 1).toDouble * (ta + bc)))
      b -> ((p - q) * math.round(ln * 1e6), p, q)
    }.toMap
    val got = Stats.psiDrift(spark, sfDir).collect()
    assert(got.map(_.getLong(0)).toSeq == bins)
    got.foreach { r =>
      val (term, p, q) = expect(r.getLong(0))
      assert(r.getLong(3) == p && r.getLong(4) == q)
      assert(r.getLong(5) == term, s"bin ${r.getLong(0)}: ${r.getLong(5)} vs $term")
      assert(r.getLong(6) == expect.values.map(_._1).sum)
    }
    // both halves are populated — the drift question is non-vacuous
    assert(ta > 0 && tb > 0)
  }

  test("theilsen_trend is the lower median of the quantized pairwise slopes") {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), expr("unix_millis(ts) div 86400000").as("day"))
      .agg(count(lit(1)).as("y")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    val got = Stats.theilsenTrend(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    daily.foreach { case (t, rows) =>
      val pts = rows.map(r => (r._2, r._3)).sortBy(_._1)
      val slopes = (for {
        i <- pts.indices; j <- pts.indices if pts(i)._1 < pts(j)._1
      } yield {
        val dy = BigInt(pts(j)._2) - pts(i)._2
        val dx = BigInt(pts(j)._1 - pts(i)._1)
        (dy.sign * ((dy.abs * 1000000) / dx)).toLong
      }).sorted
      val median = slopes((slopes.size + 1) / 2 - 1) // type-1 lower median
      val (nPairs, slope, trend) = got(t)
      assert(nPairs == slopes.size.toLong, s"$t pair count")
      assert(slope == median, s"$t: slope $slope vs replay $median")
      assert(trend == (if (slope < 0) "falling" else if (slope > 0) "rising" else "flat"))
    }
  }

  test("winsorize bounds are exact type-1 rank selections and clamped sums replay") {
    val vals = Tables.events(spark, sfDir)
      .select(col("event_type"), (round(col("value") * 100)).cast("long").as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1))).groupBy(_._1)
    val got = Stats.winsorize(spark, sfDir).collect()
    got.foreach { r =>
      val vs = vals(r.getString(0)).map(_._2).sorted
      val n  = vs.length
      def typ1(q: Int): Long = vs(((n.toLong * q + 99) / 100).toInt - 1) // min v: cum*100 >= n*q
      val (lo, hi) = (typ1(5), typ1(95))
      assert(r.getLong(1) == lo && r.getLong(2) == hi,
        s"${r.getString(0)} bounds (${r.getLong(1)}, ${r.getLong(2)}) vs ($lo, $hi)")
      assert(r.getLong(3) == n.toLong)
      assert(r.getLong(4) == vs.sum)
      assert(r.getLong(5) == vs.map(v => math.max(lo, math.min(hi, v))).sum)
      assert(r.getLong(6) == vs.count(_ < lo).toLong)
      assert(r.getLong(7) == vs.count(_ > hi).toLong)
      // the winsorized mean actually moved (tails exist at sf0.001)
      assert(r.getLong(6) + r.getLong(7) > 0, "no tails clamped — vacuous fixture")
    }
  }

  test("bootstrap_ci resamples replay exactly from the derandomized Poisson hash") {
    val rows = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), (round(col("value") * 100)).cast("long").as("x"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val cdf = Seq(367879L, 735759L, 919699L, 981012L, 996340L, 999406L)
    def mult(id: Long, b: Int): Long = {
      val u = ((((id % 999983) * 31 + b) % 999983) * 2654435761L) % 1000000
      cdf.indexWhere(u < _) match { case -1 => 6L; case i => i.toLong }
    }
    val expect = (0 until 32).map { b =>
      val n = rows.map { case (id, _) => mult(id, b) }.sum
      val s = rows.map { case (id, x) => mult(id, b) * x }.sum
      (b.toLong, n, s, BigInt(s) * 1000000 / n)
    }
    val got = Stats.bootstrapCi(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    got.zip(expect).foreach { case ((b, n, s, m, _, _), (eb, en, es, em)) =>
      assert(b == eb && n == en && s == es && m == em.toLong, s"resample $b mismatch")
    }
    // resample sizes concentrate around N (Poisson(1) multiplicities)
    val nTrue = rows.length.toLong
    got.foreach { case (b, n, _, _, _, _) =>
      assert(math.abs(n - nTrue) < nTrue / 2, s"resample $b size $n wildly off $nTrue")
    }
    // the CI bounds are the 2nd and 31st order statistics of the means
    val sortedMeans = got.map(r => (r._4, r._1)).sorted.map(_._1)
    val (lo, hi) = (got.head._5, got.head._6)
    assert(lo == sortedMeans(1) && hi == sortedMeans(30))
    assert(got.forall(r => r._5 == lo && r._6 == hi))
    assert(lo <= hi)
  }

  /** (score, keep) per doc at sf0.001, rebuilt driver-side from the two
    * feeding operators — the ground truth for roc_auc/isotonic. */
  private def scoredLabels(): Seq[(Long, Boolean)] = {
    val score = graft.ops.TextAnalysis.lmBigramScore(spark, sfDir)
      .select("doc_id", "avg_micros").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.ops.Curation.qualityClassifier(spark, sfDir)
      .select("doc_id", "keep").collect()
      .map(r => (score(r.getLong(0)), r.getBoolean(1))).toSeq
  }

  test("group_auc: the en slice equals its brute-force doubled-U; slices never fake 0.5") {
    import org.apache.spark.sql.functions.col
    val langOf = tables.Tables.documents(spark, sfDir)
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val score = graft.ops.TextAnalysis.lmBigramScore(spark, sfDir)
      .select("doc_id", "avg_micros").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val keep = graft.ops.Curation.qualityClassifier(spark, sfDir)
      .select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val en  = langOf.keys.filter(langOf(_) == "en").toSeq
    val pos = en.filter(keep).map(score)
    val neg = en.filterNot(keep).map(score)
    val u2 = pos.iterator.map { p =>
      neg.iterator.map { n => if (p > n) 2L else if (p == n) 1L else 0L }.sum
    }.sum
    val rows = Stats.groupAuc(spark, sfDir).collect()
    val enRow = rows.find(_.getString(0) == "en").get
    assert(enRow.getLong(1) == pos.size.toLong && enRow.getLong(2) == neg.size.toLong)
    assert(enRow.getLong(3) == u2, s"en doubled-U ${enRow.getLong(3)} vs replay $u2")
    assert(enRow.getLong(4) ==
      (BigInt(u2) * 1000000 / (BigInt(2) * pos.size * neg.size)).toLong)
    // every populated slice gets a real AUC; NULL only on an empty class
    rows.foreach { r =>
      assert((r.getLong(1) == 0 || r.getLong(2) == 0) == r.isNullAt(4),
        s"slice ${r.getString(0)} NULL-contract violated")
    }
    assert(rows.length >= 3, "fixture must populate multiple slices")
  }

  test("fairness_parity: rates replay, gaps are rate-minus-overall, dist is the max") {
    val rows = Stats.fairnessParity(spark, sfDir).collect()
    assert(rows.length >= 3)
    val totDocs = rows.map(_.getLong(1)).sum
    val totKeep = rows.map(_.getLong(2)).sum
    val overall = totKeep * 1000000L / totDocs
    rows.foreach { r =>
      assert(r.getLong(4) == overall)
      assert(r.getLong(3) == r.getLong(2) * 1000000L / r.getLong(1))
      assert(r.getLong(5) == r.getLong(3) - overall)
    }
    assert(rows.head.getLong(6) == rows.map(r => math.abs(r.getLong(5))).max)
  }

  test("cramers_v replays from the collected contingency table") {
    import org.apache.spark.sql.functions.col
    val cells = tables.Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag").as("x"), col("l_linestatus").as("y"))
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("nxy"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val nx = cells.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val ny = cells.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val n  = cells.map(_._3).sum
    val sPico = cells.map { case (x, y, nxy) =>
      BigInt(nxy) * nxy * BigInt("1000000000000") / (BigInt(nx(x)) * ny(y))
    }.sum
    val m = math.min(nx.size, ny.size).toLong
    val row = Stats.cramersV(spark, sfDir).collect().head
    assert(row.getLong(0) == n && row.getLong(1) == nx.size.toLong && row.getLong(2) == ny.size.toLong)
    assert(row.getLong(3) == sPico.toLong)
    assert(row.getLong(4) == ((BigInt(n) * (sPico - BigInt("1000000000000"))) / 1000000).toLong)
    val v2 = ((sPico - BigInt("1000000000000")) / ((m - 1) * 1000000)).toLong
    assert(row.getLong(5) == v2)
    // V^2 is a squared correlation-like quantity in [0, 1]
    assert(v2 >= 0L && v2 <= 1000000L)
  }

  test("js_divergence replays per-bin and stays within [0, 2·ln2] doubled-picos") {
    val rows = Stats.jsDivergence(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val na = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nb = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
    val (ta, tb, bc) = (na.values.sum, nb.values.sum, na.size.toLong)
    var total = 0L
    rows.foreach { r =>
      val (bin, a, b) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val p = (a + 1) * 1000000L / (ta + bc)
      val q = (b + 1) * 1000000L / (tb + bc)
      assert(r.getLong(3) == p && r.getLong(4) == q)
      val num = (BigInt(a) + 1) * (tb + bc)
      val den = num + (BigInt(b) + 1) * (ta + bc)
      val lnp = math.round(math.log(2.0 * num.toDouble / den.toDouble) * 1e6)
      val lnq = math.round(math.log(
        2.0 * ((BigInt(b) + 1) * (ta + bc)).toDouble / den.toDouble) * 1e6)
      assert(r.getLong(5) == p * lnp + q * lnq, s"bin $bin term mismatch")
      total += r.getLong(5)
    }
    val js2 = rows.head.getLong(6)
    assert(rows.forall(_.getLong(6) == js2) && js2 == total)
    // 0 <= JS <= ln 2; doubled-picos with micros-quantization jitter
    assert(js2 >= -rows.length.toLong && js2 <= 1386295L * 1000000L)
  }

  test("pr_auc equals the brute-force threshold-step average precision") {
    val data = scoredLabels()
    val n = data.count(_._2).toLong
    val m = data.size - n
    // per distinct threshold descending: term = (dTP * TP * 1e12) div (TP+FP)
    val byScore = data.groupBy(_._1).toSeq.sortBy(-_._1)
    var (tp, fp, sum) = (0L, 0L, BigInt(0))
    byScore.foreach { case (_, grp) =>
      val dTp = grp.count(_._2).toLong
      val dFp = grp.size - dTp
      tp += dTp; fp += dFp
      sum += BigInt(dTp) * tp * BigInt("1000000000000") / (tp + fp)
    }
    val row = Stats.prAuc(spark, sfDir).collect().head
    assert(row.getLong(0) == n && row.getLong(1) == m)
    assert(row.getLong(2) == sum.toLong, s"term sum ${row.getLong(2)} vs replay $sum")
    assert(row.getLong(3) == (sum / (BigInt(n) * 1000000)).toLong)
    // sanity: AP is a probability-like micros value. (No base-rate
    // floor assertion: positives are the MAJORITY class here (~75%),
    // and a weak ranker's AP can legitimately sit just under the base
    // rate — measured 0.736 vs 0.750 on the fixture. AP ≥ base rate
    // holds in expectation for a random ranker, not pointwise.)
    assert(row.getLong(3) > 0L && row.getLong(3) <= 1000000L)
  }

  test("conformal_filter threshold and coverage replay from the split order statistics") {
    val score = graft.ops.TextAnalysis.lmBigramScore(spark, sfDir)
      .select("doc_id", "avg_micros").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val keep = graft.ops.Curation.qualityClassifier(spark, sfDir)
      .select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val calScores = score.keys.toSeq.filter(d => d % 2 == 0 && keep(d)).map(score).sorted
    val rank = (calScores.size + 9) / 10
    val thr = calScores(rank - 1) // type-1 order statistic at ceil(0.1 n)
    val test = score.keys.toSeq.filter(_ % 2 == 1)
    val testKeep = test.filter(keep)
    val passed = testKeep.count(d => score(d) >= thr)
    val row = Stats.conformalFilter(spark, sfDir).collect().head
    assert(row.getLong(0) == calScores.size.toLong)
    assert(row.getLong(1) == thr, s"threshold ${row.getLong(1)} vs replay $thr")
    assert(row.getLong(2) == test.size.toLong && row.getLong(3) == testKeep.size.toLong)
    assert(row.getLong(4) == passed.toLong)
    assert(row.getLong(5) == BigInt(passed) * 1000000 / testKeep.size)
    // held-out coverage should sit near the 90% design target
    assert(row.getLong(5) >= 800000L, s"coverage ${row.getLong(5)} collapsed")
  }

  test("roc_auc equals the brute-force all-pairs AUC with half-credit ties") {
    val data = scoredLabels()
    val pos  = data.filter(_._2).map(_._1)
    val neg  = data.filterNot(_._2).map(_._1)
    // 2·U = Σ over (p,n) pairs of 2·[p>n] + 1·[p=n]
    val u2 = pos.iterator.map { p =>
      neg.iterator.map { n => if (p > n) 2L else if (p == n) 1L else 0L }.sum
    }.sum
    val row = Stats.rocAuc(spark, sfDir).collect().head
    assert(row.getLong(0) == pos.size.toLong && row.getLong(1) == neg.size.toLong)
    assert(row.getLong(2) == u2, s"doubled U ${row.getLong(2)} vs brute-force $u2")
    assert(row.getLong(3) ==
      (BigInt(u2) * 1000000 / (BigInt(2) * pos.size * neg.size)).toLong)
  }

  test("isotonic_calibrate equals exact-rational PAV quantized to micros, and is monotone") {
    val data = scoredLabels()
    val lo   = data.map(_._1).min
    val hi   = data.map(_._1).max
    val byBin = data.groupBy { case (s, _) => (s - lo) * 32 / (hi - lo + 1) }
    val buckets = byBin.keys.toSeq.sorted
    // classic driver-side PAV over (n, pos) rationals
    case class Block(n: BigInt, p: BigInt)
    var blocks = List.empty[Block] // reversed order
    for (b <- buckets) {
      val rows = byBin(b)
      var cur = Block(rows.size, rows.count(_._2))
      // pool while the previous block's average is >= the current's
      while (blocks.nonEmpty && blocks.head.p * cur.n >= cur.p * blocks.head.n) {
        cur = Block(blocks.head.n + cur.n, blocks.head.p + cur.p)
        blocks = blocks.tail
      }
      blocks = cur :: blocks
    }
    val pav: Map[Long, BigInt] = {
      val ordered = blocks.reverse
      // expand each block over the buckets it pooled: replay by sizes
      var remaining = buckets.toList
      ordered.flatMap { blk =>
        var n = blk.n
        val mine = scala.collection.mutable.ListBuffer.empty[Long]
        while (n > 0 && remaining.nonEmpty) {
          val b = remaining.head
          mine += b
          n -= byBin(b).size
          remaining = remaining.tail
        }
        assert(n == 0, "PAV block boundary must align with bucket boundaries")
        mine.map(_ -> blk.p * 1000000 / blk.n)
      }.toMap
    }
    val got = Stats.isotonicCalibrate(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4))).toSeq
    assert(got.map(_._1) == buckets, "bucket grid mismatch")
    got.foreach { case (b, n, p, iso) =>
      assert(n == byBin(b).size.toLong && p == byBin(b).count(_._2).toLong)
      assert(iso == pav(b).toLong,
        s"bucket $b: minimax-micros $iso vs rational-PAV ${pav(b)}")
    }
    assert(got.map(_._4) == got.map(_._4).sorted, "isotonic fit must be non-decreasing")
  }

  test("mutual_info cells replay and MI is the exact term-sum over N") {
    val li = Tables.lineitem(spark, sfDir)
      .select("l_returnflag", "l_linestatus").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val cells = li.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val nx = li.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val ny = li.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val n  = li.length.toLong
    val got = Stats.mutualInfo(spark, sfDir).collect()
    assert(got.map(r => (r.getString(0), r.getString(1))).toSet == cells.keySet)
    var termSum = 0L
    got.foreach { r =>
      val (x, y) = (r.getString(0), r.getString(1))
      val nxy = cells((x, y))
      val ln = math.round(math.log(nxy.toDouble * n / (nx(x).toDouble * ny(y))) * 1e6)
      assert(r.getLong(2) == nxy && r.getLong(3) == nx(x) && r.getLong(4) == ny(y))
      assert(r.getLong(5) == ln, s"cell ($x,$y) ln")
      assert(r.getLong(6) == nxy * ln)
      termSum += nxy * ln
    }
    got.foreach(r => assert(r.getLong(7) == termSum / n))
  }

  test("calibration_ece bins replay from the score/label frames") {
    val score = graft.ops.TextAnalysis.lmBigramScore(spark, sfDir)
      .select("doc_id", "avg_micros").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val label = graft.ops.Curation.qualityClassifier(spark, sfDir)
      .select("doc_id", "keep").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val vs = score.keys.toSeq.sorted.map(id => (score(id), label(id)))
    val (lo, hi) = (vs.map(_._1).min, vs.map(_._1).max)
    assert(hi > lo)
    val binned = vs.map { case (v, k) =>
      val norm = (v - lo) * 1000000L / (hi - lo)
      (math.min(9L, norm / 100000L), norm, k)
    }
    val expect = binned.groupBy(_._1).view.mapValues { g =>
      val nB = g.size.toLong
      val conf = g.map(_._2).sum / nB
      val acc = g.count(_._3).toLong * 1000000L / nB
      (nB, conf, acc, math.abs(conf - acc))
    }.toMap
    val ece = expect.values.map { case (nB, _, _, gap) => nB * gap }.sum /
      expect.values.map(_._1).sum
    val got = Stats.calibrationEce(spark, sfDir).collect()
    assert(got.map(_.getLong(0)).toSet == expect.keySet)
    got.foreach { r =>
      val (nB, conf, acc, gap) = expect(r.getLong(0))
      assert(r.getLong(1) == nB && r.getLong(3) == conf &&
        r.getLong(4) == acc && r.getLong(5) == gap, s"bin ${r.getLong(0)}")
      assert(r.getLong(6) == ece)
    }
  }

  test("corr_matrix pairs replay in exact BigInt arithmetic; self-consistency bounds hold") {
    val rows = Tables.lineitem(spark, sfDir)
      .select(expr("CAST(round(l_discount * 100) AS BIGINT)"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)"),
        expr("CAST(round(l_quantity * 100) AS BIGINT)"),
        expr("CAST(round(l_tax * 100) AS BIGINT)")).collect()
      .map(r => Map("disc" -> r.getLong(0), "price" -> r.getLong(1),
        "qty" -> r.getLong(2), "tax" -> r.getLong(3)))
    val n = BigInt(rows.length)
    def s(c: String)  = rows.map(r => BigInt(r(c))).sum
    def ss(x: String, y: String) = rows.map(r => BigInt(r(x)) * r(y)).sum
    val got = Stats.corrMatrix(spark, sfDir).collect()
    assert(got.length == 6)
    got.foreach { r =>
      val (x, y) = (r.getString(0), r.getString(1))
      val cov = n * ss(x, y) - s(x) * s(y)
      val vx  = n * ss(x, x) - s(x) * s(x)
      val vy  = n * ss(y, y) - s(y) * s(y)
      assert(r.getLong(2) == rows.length.toLong)
      assert(r.getString(3) == cov.toString && r.getString(4) == vx.toString &&
        r.getString(5) == vy.toString, s"pair ($x,$y) sums")
      val expect = (cov.sign * ((cov.abs * 1000000 / vx) * (cov.abs * 1000000 / vy))).toLong
      assert(r.getLong(6) == expect, s"pair ($x,$y) corr2")
      // Cauchy-Schwarz: corr^2 <= 1 => pico magnitude <= 1e12
      assert(math.abs(r.getLong(6)) <= 1000000000000L)
    }
  }

  test("spearman_corr replays against driver-side doubled average ranks") {
    val rows = Tables.lineitem(spark, sfDir)
      .select(expr("CAST(round(l_discount * 100) AS BIGINT)"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)"),
        expr("CAST(round(l_quantity * 100) AS BIGINT)"),
        expr("CAST(round(l_tax * 100) AS BIGINT)")).collect()
      .map(r => Map("disc" -> r.getLong(0), "price" -> r.getLong(1),
        "qty" -> r.getLong(2), "tax" -> r.getLong(3)))
    val n = BigInt(rows.length)
    // doubled average rank per column: r2(v) = 2·(#strictly-below) + #equal + 1
    def ranks(c: String): Map[Long, BigInt] = {
      val cnts   = rows.groupBy(_(c)).view.mapValues(_.size).toMap
      val sorted = cnts.toSeq.sortBy(_._1)
      var below  = 0L
      sorted.map { case (v, cnt) =>
        val r2 = BigInt(2) * below + cnt + 1
        below += cnt
        v -> r2
      }.toMap
    }
    val rk = Seq("disc", "price", "qty", "tax").map(c => c -> ranks(c)).toMap
    def s(c: String)  = rows.map(r => rk(c)(r(c))).sum
    def ss(x: String, y: String) = rows.map(r => rk(x)(r(x)) * rk(y)(r(y))).sum
    val got = Stats.spearmanCorr(spark, sfDir).collect()
    assert(got.length == 6)
    got.foreach { r =>
      val (x, y) = (r.getString(0), r.getString(1))
      val cov = n * ss(x, y) - s(x) * s(y)
      val vx  = n * ss(x, x) - s(x) * s(x)
      val vy  = n * ss(y, y) - s(y) * s(y)
      assert(r.getLong(2) == rows.length.toLong)
      assert(r.getString(3) == cov.toString && r.getString(4) == vx.toString &&
        r.getString(5) == vy.toString, s"pair ($x,$y) rank sums")
      val expect = (cov.sign * ((cov.abs * 1000000 / vx) * (cov.abs * 1000000 / vy))).toLong
      assert(r.getLong(6) == expect, s"pair ($x,$y) rho2")
      assert(math.abs(r.getLong(6)) <= 1000000000000L)
    }
    // the synthetic fixture's measures are drawn independently, so every
    // pair must land near zero — |rho²| under 0.01 in pico units (the
    // ~1/√n sampling band at the 6k-row fixture)
    got.foreach(r => assert(math.abs(r.getLong(6)) < 10000000000L,
      s"pair (${r.getString(0)},${r.getString(1)}) unexpectedly associated"))
  }

  test("kendall_tau replays the exact pair census on the daily series") {
    val daily = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(expr("unix_millis(ts) div 86400000").as("day"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    var (nc, nd, n1, n2, n0) = (0L, 0L, 0L, 0L, 0L)
    for (i <- daily.indices; jj <- (i + 1) until daily.length) {
      val (a, b) = (daily(i), daily(jj))
      val prod = (a._2 - b._2) * (a._3 - b._3)
      if (prod > 0) nc += 1 else if (prod < 0) nd += 1
      if (a._2 == b._2) n1 += 1
      if (a._3 == b._3) n2 += 1
      n0 += 1
    }
    val row = Stats.kendallTau(spark, sfDir).collect().head
    assert(row.getLong(0) == daily.length.toLong)
    assert(row.getLong(1) == nc && row.getLong(2) == nd)
    assert(row.getLong(3) == n1 && row.getLong(4) == n2 && row.getLong(5) == n0)
    val diff = nc - nd
    val expect =
      if (n0 == n1 || n0 == n2) null
      else java.lang.Long.valueOf(diff.sign *
        ((math.abs(diff) * 1000000L / (n0 - n1)) * (math.abs(diff) * 1000000L / (n0 - n2))))
    assert(row.get(6) == expect)
  }

  test("rolling_ols slopes replay per window and detect a monotone ramp") {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), expr("unix_millis(ts) div 86400000").as("day"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).sortBy(_._1)).toMap
    val got = Stats.rollingOls(spark, sfDir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (et, day) = (r.getString(0), r.getLong(1))
      val win = daily(et).filter { case (d, _) => d >= day - 6 && d <= day }
      val nw  = win.size.toLong
      val sx  = win.map(_._1).sum
      val sy  = win.map(_._2).sum
      val sxy = win.map(t => t._1 * t._2).sum
      val sxx = win.map(t => t._1 * t._1).sum
      assert(r.getLong(3) == nw, s"($et,$day) n_win")
      val num = nw * sxy - sx * sy
      val den = nw * sxx - sx * sx
      if (den == 0) assert(r.isNullAt(4), s"($et,$day) null slope")
      else assert(r.getLong(4) == num.sign * (math.abs(num) * 1000000L / den),
        s"($et,$day) slope")
    }
  }

  test("weighted_median quantiles replay against the brute-force weighted CDF") {
    val data = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)"),
        expr("CAST(round(l_quantity) AS BIGINT)"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val got = Stats.weightedMedian(spark, sfDir).collect()
    assert(got.length == data.map(_._1).distinct.length)
    got.foreach { r =>
      val grp  = data.filter(_._1 == r.getString(0)).map(t => (t._2, t._3))
      val wtot = grp.map(_._2).sum
      assert(r.getLong(1) == wtot)
      def wq(num: Long, den: Long): Long = {
        val target = (num * wtot + den - 1) / den
        var c = 0L
        grp.groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
          .collectFirst { case (v, f) if { c += f; c >= target } => v }.get
      }
      assert(r.getLong(2) == wq(1, 4) && r.getLong(3) == wq(1, 2) &&
        r.getLong(4) == wq(3, 4), s"flag ${r.getString(0)}")
      assert(r.getLong(2) <= r.getLong(3) && r.getLong(3) <= r.getLong(4))
    }
  }

  test("lift_deciles replays the top-down cumulative gains table") {
    val scored = graft.ops.TextAnalysis.lmBigramScore(spark, sfDir)
      .select("doc_id", "avg_micros")
      .join(graft.ops.Curation.qualityClassifier(spark, sfDir)
        .select("doc_id", "keep"), "doc_id")
      .collect().map(r => (r.getLong(1), r.getBoolean(2)))
    val n = scored.length.toLong
    val p = scored.count(_._2).toLong
    val cells = scored.groupBy(_._1).toSeq.sortBy(_._1).map { case (v, g) =>
      (v, g.count(_._2).toLong, g.length.toLong)
    }
    var cle = 0L
    val byDec = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    cells.foreach { case (_, na, nc) =>
      cle += nc
      val dec = ((n - cle) * 10) / n
      val (d0, d1) = byDec.getOrElse(dec, (0L, 0L))
      byDec(dec) = (d0 + nc, d1 + na)
    }
    val got = Stats.liftDeciles(spark, sfDir).collect()
    assert(got.map(_.getLong(0)).toSeq == got.map(_.getLong(0)).toSeq.sorted)
    var (cumN, cumP) = (0L, 0L)
    got.foreach { r =>
      val (nd, pd) = byDec(r.getLong(0))
      assert(r.getLong(1) == nd && r.getLong(2) == pd, s"decile ${r.getLong(0)}")
      cumN += nd; cumP += pd
      assert(r.getLong(3) == cumN && r.getLong(4) == cumP)
      assert(r.getLong(5) == cumP * 1000000L / p)
      assert(r.getLong(6) == (BigInt(cumP) * n * 1000000 / (BigInt(cumN) * p)).toLong)
    }
    // the whole-corpus row recovers gain = 1, lift = 1 exactly
    val last = got.last
    assert(last.getLong(3) == n && last.getLong(4) == p)
    assert(last.getLong(5) == 1000000L && last.getLong(6) == 1000000L)
  }

  test("brier decomposition terms replay and satisfy the Murphy bounds") {
    val scored = graft.ops.TextAnalysis.lmBigramScore(spark, sfDir)
      .select("doc_id", "avg_micros")
      .join(graft.ops.Curation.qualityClassifier(spark, sfDir)
        .select("doc_id", "keep"), "doc_id")
      .collect().map(r => (r.getLong(1), r.getBoolean(2)))
    val lo = scored.map(_._1).min
    val hi = scored.map(_._1).max
    val norm = scored.map { case (v, k) =>
      (if (hi == lo) 0L else (v - lo) * 1000000L / (hi - lo), k)
    }
    val n = norm.length.toLong
    val p = norm.count(_._2).toLong
    val brier = norm.map { case (v, k) =>
      val e = if (k) 1000000L - v else v
      BigInt(e) * e
    }.sum / n
    val row = Stats.brierDecomposition(spark, sfDir).collect().head
    assert(row.getLong(0) == n && row.getLong(1) == p)
    assert(row.getLong(2) == brier.toLong)
    // Murphy: all terms non-negative; uncertainty caps at 0.25 (pico 2.5e11);
    // resolution never exceeds uncertainty
    assert(row.getLong(3) >= 0L && row.getLong(4) >= 0L)
    assert(row.getLong(5) >= 0L && row.getLong(5) <= 250000000000L)
    assert(row.getLong(4) <= row.getLong(5) + 1000000L) // floor-jitter slack
  }

  test("srm_check replays the unit-level chi-square in BigInt and agrees with the df=2 gate") {
    val units = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey")).distinct()
      .collect().map(_.getLong(0))
    val obs = units.groupBy { k =>
      if (k % 10 < 8) "train" else if (k % 10 == 8) "val" else "test"
    }.view.mapValues(_.length.toLong).toMap
    val n = units.length.toLong
    def w(s: String): Long = if (s == "train") 8L else 1L
    val rows = Stats.srmCheck(spark, sfDir).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("test", "train", "val"))
    var chi2 = BigInt(0)
    val terms = rows.map { r =>
      val s = r.getString(0)
      val dev = BigInt(10L * obs(s) - n * w(s))
      val term = dev * dev * BigInt(1000000000000L) / (BigInt(10) * n * w(s))
      chi2 += term
      assert(r.getLong(1) == obs(s) && r.getLong(2) == n * w(s))
      assert(BigInt(r.getLong(3)) == term)
      term
    }
    assert(terms.length == 3)
    rows.foreach { r =>
      assert(BigInt(r.getLong(4)) == chi2)
      assert(r.getBoolean(5) == (chi2 > BigInt(13815510557964L)))
    }
  }

  test("permutation_test replays the derandomized flips and the null is not degenerate") {
    val daily = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(expr("unix_millis(ts) div 86400000").as("day"))
      .agg(
        (sum(when(col("event_type") === "click", expr("CAST(round(value * 1000) AS BIGINT)")).otherwise(0L)) -
          sum(when(col("event_type") === "purchase", expr("CAST(round(value * 1000) AS BIGINT)")).otherwise(0L))).as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val tObs = daily.map(_._2).sum
    def tPerm(p: Long): Long = daily.map { case (day, d) =>
      val u = ((((day % 999983L) * 31L + p) % 999983L) * 2654435761L) % 1000000L
      if (p == 0L || u < 500000L) d else -d
    }.sum
    val rows = Stats.permutationTest(spark, sfDir).collect()
    assert(rows.length == 65)
    var extreme = 0L
    rows.foreach { r =>
      val p = r.getLong(0)
      assert(r.getLong(1) == tPerm(p))
      assert(r.getLong(3) == tObs)
      val isExt = p > 0 && math.abs(tPerm(p)) >= math.abs(tObs)
      assert(r.getBoolean(2) == isExt)
      if (isExt) extreme += 1
    }
    rows.foreach(r => assert(r.getLong(4) == (extreme + 1) * 1000000L / 65L))
    // degeneracy guard: the parity-bit form collapsed every pattern onto
    // the two alternating-day flips — the threshold form must not
    assert(rows.map(r => math.abs(r.getLong(1))).distinct.length > 4)
  }
}
