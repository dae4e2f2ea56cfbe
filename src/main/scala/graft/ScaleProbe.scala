package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-probe harness: converts the SURVEY §2.4 "would survive 100 TB"
  * plan-shape claims into measured evidence.
  *
  * The driver's fixtures top out at sf0.1 (~17 MB) — small enough that a
  * single task holds every partition and a super-linear operator can
  * still look flat. This harness synthesizes k× replicas of the sf0.1
  * tables into a temp dir (id-remapped and content-perturbed so near-dup
  * operators see k independent corpora, not k exact copies of one — an
  * exact-copy replica would put k rows in every LSH bucket and
  * manufacture an O(k²) pair explosion that says nothing about the
  * operator) and runs the most scale-sensitive operators at each
  * multiplier, recording wall seconds, output rows, optimized-plan node
  * count, and post-GC driver heap.
  *
  * What "passes" looks like, per operator:
  *  - runtime grows ~linearly in k (the shuffle/join shape claims);
  *  - optimized-plan node count is CONSTANT in k (no data-dependent
  *    plan growth — the round-12 sssp defect class);
  *  - driver heap is flat in k (no driver-side materialization of
  *    data-sized state — collect() sites are bounded metadata only).
  *
  * Replica perturbation (replica r of k, r = 0 is byte-identical base):
  *  - ids: every fact key gets `r * 10_000_000` added (doc_id, vec_id,
  *    event_id, user_id, o_orderkey/l_orderkey) — replicas are disjoint
  *    key spaces, so per-key state (sessions, dedup groups, graph nodes
  *    where keyed by id) scales with data.
  *  - documents.text: letters Caesar-shifted by r·7 mod 26 — every
  *    shingle/gram/token differs across replicas while within-replica
  *    duplicate structure is preserved exactly (the shift is a bijection
  *    on the alphabet).
  *  - embeddings.embedding: circularly rotated by r positions — replicas
  *    point in unrelated directions (no manufactured cross-replica
  *    near-dups) while the norm/cluster statistics of each replica match
  *    the base corpus.
  *  - events.ts: unchanged — the event-time window population is the
  *    realistic axis (k× more keys and rows in the same time range).
  *
  * Env knobs: SPARK_GRAFT_SCALE_BASE (default /root/testdata/sf0.1),
  * SPARK_GRAFT_SCALE_MULTS (default "1,8,32"),
  * SPARK_GRAFT_SCALE_QUERIES (default the scale-sensitive six + the
  * corpus-scaled kNN variant), SPARK_GRAFT_SCALE_DIR (work dir).
  * Emits one JSON line per (query, mult) on stdout and a final summary
  * table on stderr; results land in PERF.md by hand.
  */
object ScaleProbe {

  private val Stride = 10000000L

  private val lower = "abcdefghijklmnopqrstuvwxyz"
  private val upper = lower.toUpperCase

  /** Caesar target alphabet for replica r (identity at r=0). */
  private def shifted(alpha: String, shift: Int): String =
    alpha.drop(shift) + alpha.take(shift)

  /** Fixed non-rotation letter permutation (keyboard order) for the
    * replica tiers past the Caesar/reverse pair: tier t ≥ 2 applies
    * this permutation t−1 times on top of the Caesar shift. The
    * permutation has order 42 and none of its powers 1..12 is a
    * Caesar rotation (verified), so `scramble^p ∘ caesar_c` is a
    * distinct alphabet bijection for every (p ≤ 8, c) pair and the
    * document cipher stays injective through k = 260 — the r17 scheme
    * applied it at most once and was injective only through 78, which
    * the 256× probes this round would overrun (replicas 78+ would
    * textually duplicate earlier tiers and manufacture cross-replica
    * near-dup pairs, the same artifact the k = 52 cycle caused at 64×
    * before it was caught). */
  private val scrambleLower = "qwertyuiopasdfghjklzxcvbnm"

  /** [[scrambleLower]] composed with itself `p` times as a translate
    * target alphabet (p = 0 → identity). */
  private def scramblePow(p: Int): String = {
    var out = lower
    var i = 0
    while (i < p) { out = out.map(c => scrambleLower(c - 'a')); i += 1 }
    out
  }

  /** One perturbed replica of a base table. */
  private[graft] def replica(name: String, base: DataFrame, r: Int): DataFrame = {
    val off = r * Stride
    name match {
      case "documents" =>
        // Caesar alone cycles with period 26 — replica 26 would be
        // byte-identical to replica 0 and manufacture cross-replica
        // near-dup pairs (observed: 54× rows at 32×). Tier t = r/26:
        // tier 0 is the plain Caesar family, tier 1 reverses the text,
        // tiers 2..9 additionally apply scramble^(t−1) — injective
        // through k = 260 (see [[scrambleLower]]); tiers 0–2 are
        // bit-identical to the r17 scheme so prior probe rows stay
        // comparable.
        val sh   = (r * 7) % 26
        val tier = r / 26
        require(tier < 10, s"document cipher family exhausted at replica $r (injective through 259)")
        val ciphered =
          if (sh == 0) col("text")
          else translate(col("text"), lower + upper, shifted(lower, sh) + shifted(upper, sh))
        val scrambled =
          if (tier < 2) ciphered
          else {
            val a = scramblePow(tier - 1)
            translate(ciphered, lower + upper, a + a.toUpperCase)
          }
        base
          .withColumn("doc_id", col("doc_id") + off)
          .withColumn("text", if (tier >= 1) reverse(scrambled) else scrambled)
      case "embeddings" =>
        // rotation alone cycles with period dim=64 — replica 64 would
        // duplicate replica 0's vectors and manufacture cross-replica
        // exact near-dups (the document-cipher artifact's embedding
        // twin). Tier r/64 adds a norm-preserving sign-flip pattern
        // (none / odd idx / even idx / all): flip-tier pairs sit at
        // cosine ≈ 0 (or −1) — injective through k = 256.
        val dim = 64
        val sh = r % dim
        val rotated =
          if (sh == 0) col("embedding")
          else concat(slice(col("embedding"), sh + 1, dim - sh), slice(col("embedding"), 1, sh))
        val flipped = r / dim match {
          case 0 => rotated
          case 1 => transform(rotated, (x, i) => when(i % 2 === 1, -x).otherwise(x))
          case 2 => transform(rotated, (x, i) => when(i % 2 === 0, -x).otherwise(x))
          case 3 => transform(rotated, x => -x)
          case t => throw new IllegalArgumentException(
            s"embedding perturbation family exhausted at replica $r (tier $t)")
        }
        base
          .withColumn("vec_id", col("vec_id") + off)
          .withColumn("embedding", flipped)
      case "events" =>
        base
          .withColumn("event_id", col("event_id") + off)
          .withColumn("user_id", col("user_id") + off)
      case "orders" =>
        base.withColumn("o_orderkey", col("o_orderkey") + off)
      case "lineitem" =>
        base.withColumn("l_orderkey", col("l_orderkey") + off)
      case _ => base
    }
  }

  /** Tables replicated k× (facts); dims are copied 1×. */
  private val facts = Seq("documents", "embeddings", "events", "orders", "lineitem")
  private val dims  = Seq("region", "nation", "customer", "supplier", "part")

  /** Synthesizes `<outDir>/x<k>/` with the full fixture layout. `events`
    * is rewritten as a single FILE named events.parquet (the streaming
    * source's pathGlobFilter matches leaf file names); other tables are
    * parquet directories, which every batch reader handles. */
  def synthesize(spark: SparkSession, baseDir: String, outDir: String, k: Int): String = {
    val dir = s"$outDir/x$k"
    val fs = java.nio.file.Paths.get(dir)
    // SPARK_GRAFT_SCALE_REUSE=1 skips re-synthesis when a completed
    // marker exists — the 256× replica set costs minutes to build, and
    // a probing session re-runs the same multiplier many times. The
    // marker records (base, k) and is written only AFTER a full synth,
    // so a crashed build is never reused; default stays rebuild-always.
    val marker = fs.resolve(s"_SYNTH_OK_${k}_${baseDir.replaceAll("[^A-Za-z0-9.]", "_")}")
    if (sys.env.get("SPARK_GRAFT_SCALE_REUSE").contains("1") &&
        java.nio.file.Files.exists(marker)) {
      System.err.println(s"[scale] x$k reused from $dir (marker present)")
      return dir
    }
    java.nio.file.Files.deleteIfExists(marker)
    java.nio.file.Files.createDirectories(fs)
    dims.foreach { t =>
      spark.read.parquet(s"$baseDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    facts.foreach { t =>
      val base = spark.read.parquet(s"$baseDir/$t.parquet")
      val scaled = (0 until k).map(r => replica(t, base, r)).reduce(_ union _)
      if (t == "events") {
        val tmp = s"$dir/_tmp_events"
        scaled.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = graft.ops.listDir(java.nio.file.Paths.get(tmp))
          .find(_.getFileName.toString.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(s"no parquet part in $tmp"))
        java.nio.file.Files.move(part, java.nio.file.Paths.get(s"$dir/events.parquet"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        graft.ops.deleteTree(java.nio.file.Paths.get(tmp))
      } else {
        scaled.write.mode("overwrite").parquet(s"$dir/$t.parquet")
      }
    }
    java.nio.file.Files.write(marker, Array.emptyByteArray)
    dir
  }

  private def heapUsedMb(): Long = {
    System.gc(); Thread.sleep(300); System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
  }

  private[graft] def planNodes(df: DataFrame): Int = {
    var n = 0
    df.queryExecution.optimizedPlan.foreach(_ => n += 1)
    n
  }

  /** The scale-sensitive set: the five operators the round-13 verdict
    * named plus the corpus-wide kNN graph (since the round-17 re-point
    * `knn_graph` IS the corpus-scaled shape; the old fixed-nlist knee
    * shape survives probe-only as `Similarity.knnGraphFixedNlist`). */
  val DefaultQueries: Seq[String] = Seq(
    "dedup_minhash", "semantic_dedup", "knn_graph",
    "substring_dup", "sssp_weighted", "stream_session_rocksdb",
    // second-session scale-sensitive additions (measured passes 3-4 in
    // PERF.md; kept in the default sweep so regressions surface)
    "incremental_dedup", "market_basket", "ann_ivf_pq", "debounce_events",
    // round-15 scale-sensitive additions (passes 7-8 in PERF.md)
    "link_predict", "ann_refine", "wordpiece_encode", "stupid_backoff",
    "train_shuffle",
    // round-16 scale-sensitive additions (pass 10 in PERF.md)
    "louvain_move", "perplexity_filter", "calendar_gap_fill",
    "gini_coefficient",
    // round-16 second batch (passes 11-12 in PERF.md)
    "textrank_keywords", "roc_auc", "graph_diameter",
    "frequent_itemsets", "prefix_jaccard_join",
    // round-16 third batch (passes 13-14 in PERF.md): the fixed
    // label_noise_detect + psi_drift, and the new fan-out-bearing ops
    "label_noise_detect", "psi_drift", "scc_components", "item_cf",
    "kneser_ney", "dsir_weights",
    // round-17 additions: the PPJoin-filtered prefix join's new-op
    // sibling (cross-corpus rolling-hash decontamination)
    "substring_decontaminate",
    // round-17 second batch (pass 20 in PERF.md): the rank-join matrix
    // (4 cumulateCells scans + 4 value equi-joins) is the one with
    // corpus-sized movement; kendall/rolling_ols are calendar-bounded
    // and brier is cells-sized, probed once to pin that
    "spearman_corr", "kendall_tau", "rolling_ols", "brier_decomposition",
    "weighted_median", "blocklist_filter", "user_cf", "hilbert_layout",
    "lift_deciles", "cooc_pmi",
    // round-18 additions: the ExactSubstr maximal-span extractor and
    // the corpus-wide top-duplicated-spans report
    "dup_spans", "dup_span_report",
    // round-18 second batch: corpus-frequency novelty (two hash-keyed
    // aggs + joins over the gram table), cluster-riding soft weights,
    // and the second-order walk (per-step candidate×neighborhood probe
    // join over a densifying replica graph)
    "ngram_novelty", "dedup_soft_weights", "node2vec_walks",
    // round-19: the re-shaped RFM quintile census (was the r18 verdict's
    // one flagged global-ntile scale-killer; now prefix-scan ranks), and
    // the per-pair ExactSubstr maximal-span extractor (seed join +
    // diagonal islands — the fan-out-bearing new op of the round)
    "rfm_segments", "dup_pair_spans")

  /** Probe-only variants — scale-shape diagnostics deliberately NOT
    * served queries (no oracle row, never in SparkEntry.queries):
    * the node-GROWING k_truss fixture (the served query's fixed
    * 997-node space saturates under replica scaling, so its probe
    * curve measured densification, not the peel) and the quarantined
    * fixed-nlist kNN knee shape kept for regression comparison. */
  private[graft] val probeOnly: Map[String, (SparkSession, String) => DataFrame] = Map(
    "k_truss_grown" -> ((s: SparkSession, d: String) => ops.Graph.kTrussGrown(s, d)),
    "node2vec_grown" -> ((s: SparkSession, d: String) => ops.Graph.node2vecGrown(s, d)),
    "link_predict_grown" -> ((s: SparkSession, d: String) => ops.Graph.linkPredictGrown(s, d)),
    "knn_graph_fixed_nlist" ->
      ((s: SparkSession, d: String) => ops.Similarity.knnGraphFixedNlist(s, d)))

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_BASE", "/root/testdata/sf0.1")
    val mults = sys.env.getOrElse("SPARK_GRAFT_SCALE_MULTS", "1,8,32")
      .split(",").map(_.trim.toInt).toSeq
    val workDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale")
    val queries = sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(DefaultQueries)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")

    val b0 = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // probe-only: the bounded streaming runs verify through a MEMORY
      // sink, which ships every output row to the driver as task
      // results — at 256× the sessionize output (~24M rows) crosses the
      // 1 g default and kills the run. A production stream writes to a
      // real sink; raising the cap keeps the harness able to measure
      // the operator's state work at the top multiplier.
      .config("spark.driver.maxResultSize", "8g")
    // diagnostic overrides, e.g. "spark.sql.autoBroadcastJoinThreshold=100m"
    // to test whether a knee is a broadcast->shuffle plan transition
    val spark = sys.env.get("SPARK_GRAFT_SCALE_CONF")
      .map(_.split(";").filter(_.contains("=")).foldLeft(b0) { (b, kv) =>
        val Array(k, v) = kv.split("=", 2); b.config(k, v)
      }).getOrElse(b0)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val dirsByMult = mults.map { k =>
      System.err.println(s"[scale] synthesizing x$k from $baseDir ...")
      val t0 = System.nanoTime()
      val d = synthesize(spark, baseDir, workDir, k)
      System.err.println(f"[scale] x$k ready in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      k -> d
    }

    // results: (query, mult) -> (sec, rows, planNodes, heapMb)
    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Double, Long, Int, Long)]
    for (q <- queries) {
      val fn = SparkEntry.queries.getOrElse(q, probeOnly.getOrElse(q,
        throw new IllegalArgumentException(s"unknown query $q")))
      // warmup at the smallest mult: pays codegen/JIT once so the
      // measured points are steady-state compute, not compilation
      try fn(spark, dirsByMult.head._2).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[scale] warmup $q: $e") }
      for ((k, dir) <- dirsByMult) {
        val t0 = System.nanoTime()
        val res =
          try {
            val df = fn(spark, dir)
            df.write.format("noop").mode("overwrite").save()
            val sec = (System.nanoTime() - t0) / 1e9
            val nRows = df.count()
            Some((sec, nRows, planNodes(df)))
          } catch {
            case e: Throwable =>
              System.err.println(s"[scale] FAILED $q x$k: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
              None
          }
        val heap = heapUsedMb()
        res.foreach { case (sec, nRows, pn) =>
          rows += ((q, k, sec, nRows, pn, heap))
          println(f"""{"query":"$q","mult":$k,"sec":$sec%.2f,"rows":$nRows,"plan_nodes":$pn,"heap_mb":$heap}""")
        }
      }
    }

    System.err.println("\n| query | mult | sec | rows | plan nodes | heap MB |")
    System.err.println("|---|---|---|---|---|---|")
    rows.foreach { case (q, k, s, n, p, h) =>
      System.err.println(f"| $q | ${k}x | $s%.2f | $n | $p | $h |")
    }
    spark.stop()
  }
}
