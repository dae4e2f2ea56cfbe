package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, one JSON line on stdout.
  *
  * Each query is fully materialized through the `noop` datasource
  * (exercises the whole plan including sorts — a bare `.count()` lets
  * the optimizer eliminate ordering and prune columns, under-measuring).
  * AQE is on, matching how the engine would run on a real cluster.
  *
  * Noise robustness: after the untimed warmup pass (JMH-style — a cold
  * single shot measures mostly janino codegen + C2 JIT), every query is
  * measured in N full passes (default 2) and the PER-QUERY MIN is
  * reported, the steady-state convention: wall-clock noise (host
  * contention, GC, page cache misses) is strictly additive, so the min
  * is the noise-robust statistic. A transiently loaded host can
  * otherwise fake a multi-x regression — the committed round-4 artifact
  * showed ~127 s for a suite an idle host runs in ~76 s.
  *
  * Failures are LOUD: a query that throws is reported by name+message
  * in the JSON (`failed` count + `failures` map) and excluded from the
  * total — it can never silently shrink the total into a fake speedup.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def runOnce(name: String): Either[String, Double] = {
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        Right((System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable =>
          Left((e.getClass.getSimpleName + ": " +
            Option(e.getMessage).getOrElse("")).take(300))
      }
    }

    // validated BEFORE the warmup: a bad value must fail in the first
    // second, not after a full untimed pass; non-numeric or <1 falls
    // back to the default
    val passes = math.max(1,
      sys.env.get("SPARK_GRAFT_BENCH_PASSES")
        .flatMap(s => scala.util.Try(s.trim.toInt).toOption)
        .getOrElse(2))

    // Warmup pass: run every query once, untimed, before the measured
    // passes. Includes the streaming-engine queries: their first run pays
    // ~3 s of engine-path JIT on top of the fixed overhead, and the
    // memory-sink views are dropped per run, so later executions are
    // leak-free.
    // SPARK_GRAFT_BENCH_ONLY=a,b,c restricts the run to named queries —
    // the local perf-iteration loop (profile one query without paying
    // the full suite). Unset = the driver's full run.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    names.foreach(runOnce)

    // Each measured pass starts cold w.r.t. the shared materialized
    // tables (exact percentiles, dedup cluster labels — cleared below):
    // the first consumer query of the pass re-executes and is charged
    // the build, the second reuses it — so the pass total includes each
    // build exactly once, the sharing design stays visible, and nothing
    // rides for free on the warmup.
    val measured: Seq[Map[String, Either[String, Double]]] =
      (1 to passes).map { _ =>
        graft.ops.Artifacts.clearCache()
        names.map(n => n -> runOnce(n)).toMap
      }
    // per-query min over the passes a query succeeded in; a query that
    // failed EVERY pass surfaces its first error
    val perQuery: Seq[(String, Either[String, Double])] = names.map { n =>
      val rs = measured.map(_(n))
      val ok = rs.collect { case Right(t) => t }
      n -> (if (ok.nonEmpty) Right(ok.min) else rs.head)
    }
    val failures = perQuery.collect { case (n, Left(m)) => n -> m }
    failures.foreach { case (n, m) => System.err.println(s"[bench] FAILED $n: $m") }

    // Train-vs-serve split for every artifact-bearing family: each
    // measured pass clears the artifact caches (the honest-bench
    // design — every pass pays training once), so the headline number
    // is train+serve. Quantify the split for the detail artifact: one
    // cold run right after an eviction (train+serve) vs an immediately
    // following warm run (serve only, memoized artifact). Families:
    // ANN quantizer codebooks, tokenizer vocabularies (BPE merges,
    // wordpiece pieces), the bigram-LM score table, dedup cluster
    // labels, and the exact-percentile verification table. Detail-only
    // — the stdout contract line and the headline totals are untouched.
    val splitNames = Seq(
      "ann_ivf_pq", "ann_ivf", "ann_pq",          // quantizer codebooks
      "bpe_encode", "wordpiece_encode",           // tokenizer vocabularies
      "perplexity_filter", "roc_auc",             // bigram-LM score table
      "dedup_cluster_keep_best", "dup_cluster_profile", // cluster labels
      "approx_quantiles"                          // exact-percentile table
    ).filter(names.contains)
    val trainServe: Seq[(String, Double, Double)] = splitNames.flatMap { n =>
      graft.ops.Artifacts.clearCache()
      (runOnce(n), runOnce(n)) match {
        case (Right(cold), Right(warm)) => Some((n, cold, warm))
        case (c, w) =>
          // a dropped split row must be loud like every other bench
          // failure path — silence here reads as "family not measured"
          val why = Seq("cold" -> c, "warm" -> w)
            .collect { case (k, Left(m)) => s"$k: $m" }.mkString("; ")
          System.err.println(s"[bench] train_serve_split $n dropped: $why")
          None
      }
    }

    val ok = perQuery.collect { case (n, Right(t)) => n -> t }
    val fj = failures.map { case (n, m) => Verify.q(n) + ":" + Verify.q(m) }
      .mkString("{", ",", "}")
    val total = perQuery.collect { case (_, Right(t)) => t }.sum

    // The driver captures only the LAST ~2000 bytes of stdout and JSON-parses
    // the final line; rounds 1-6 emitted full-precision per-query times on one
    // ~3.5 KB line, so the artifact's `parsed` field was always null (the line
    // was truncated mid-object). Emit the contract line COMPACT — fixed-point
    // per-query seconds, methodology note on stderr — and degrade the map
    // (fewer decimals, then slowest-subset + "omitted" count) if the query set
    // ever outgrows the budget. Full precision goes to stderr + bench_detail
    // .json for humans; the stdout line is the machine-read artifact.
    def fmt(t: Double, dec: Int): String = s"%.${dec}f".format(t)
    def fmtD(t: Double): String = fmt(t, 3)
    def line(dec: Int, keep: Int): String = {
      val kept = if (keep >= ok.size) ok
                 else ok.sortBy(-_._2).take(keep).sortBy(_._1)
      val qs = kept.map { case (n, t) => "\"" + n + "\":" + fmt(t, dec) }
        .mkString("{", ",", "}")
      val omitted = if (keep >= ok.size) "" else s""","omitted":${ok.size - keep}"""
      // the empty failures map is elided and sf carried as its basename:
      // every byte spent here is a per-query entry the line can't carry
      val fails = if (failures.isEmpty) "" else s""","failures":$fj"""
      val sfName = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)
      s"""{"metric":"total","queries":$qs,"failed":${failures.size}$fails,"passes":$passes,"sf":"$sfName"$omitted,"value":${fmt(total, 3)},"unit":"sec"}"""
    }
    val budget = 1980 // driver tail window (2000) minus the trailing newline
    val out = Seq(line(3, Int.MaxValue), line(2, Int.MaxValue))
      .find(_.length <= budget)
      .getOrElse {
        // keep the slowest queries that fit; binary-search the count
        val k = (1 to ok.size).takeWhile(k => line(2, k).length <= budget).lastOption.getOrElse(1)
        line(2, k)
      }
    val full = perQuery.collect { case (n, Right(t)) => "\"" + n + "\":" + t }
      .mkString("{", ",", "}")
    val tsJson = trainServe.map { case (n, cold, warm) =>
      "\"" + n + "\":{\"train_plus_serve\":" + fmtD(cold) +
        ",\"serve_only\":" + fmtD(warm) + "}"
    }.mkString("{", ",", "}")
    val fullJson = s"""{"metric":"total","value":$total,"unit":"sec","queries":$full,"failed":${failures.size},"failures":$fj,"passes":$passes,"train_serve_split":$tsJson,"note":"per-query min over $passes passes; untimed warmup; shared materialized tables (exact percentiles, cluster labels) evicted before each pass; train_serve_split: cold = artifact caches just evicted (training + serve), serve_only = memoized artifact (codebooks, tokenizer vocab, LM score table, cluster labels, percentile table)","sf":"$sfDir"}"""
    System.err.println(s"[bench] full-precision: $fullJson")
    try {
      val p = java.nio.file.Paths.get("bench_detail.json")
      java.nio.file.Files.write(p, (fullJson + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () } // detail file is best-effort
    println(out)
    spark.stop()
  }
}
