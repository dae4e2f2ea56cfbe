package graft

import graft.ops.Similarity

/** IVF multi-probe behavior at sf0.001: nprobe=2 must reach boundary
  * neighbors (vectors whose nearest centroid differs from their
  * query's) that nprobe=1 structurally cannot, without ever generating
  * a candidate pair twice.
  */
class SimilaritySpec extends SparkSpec {

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("nprobe=2 recovers a true neighbor from a foreign list that nprobe=1 misses") {
    val truth = pairs(Similarity.annBruteforce(spark, sfDir))
    val ivf1  = pairs(Similarity.annIvfProbe(spark, sfDir, 1))
    val ivf2  = pairs(Similarity.annIvfProbe(spark, sfDir, 2))

    val recovered = (ivf2 & truth) -- ivf1
    assert(recovered.nonEmpty,
      "expected at least one true top-K neighbor reachable only via the second probe")

    // those recovered neighbors really live across a list boundary:
    // the neighbor's single assigned list differs from the query's
    // primary (rank-1) list, so a 1-probe query can never see them
    val ivf1Recall = (ivf1 & truth).size.toDouble / truth.size
    val ivf2Recall = (ivf2 & truth).size.toDouble / truth.size
    assert(ivf2Recall > ivf1Recall,
      s"multi-probe recall $ivf2Recall must strictly beat single-probe $ivf1Recall")
  }

  test("multi-probe candidate generation yields no duplicate (query, neighbor) pairs") {
    val df = Similarity.annIvfProbe(spark, sfDir, 2)
    val n  = df.count()
    val d  = df.select("query_id", "neighbor_id").distinct().count()
    assert(n == d, s"duplicate candidate pairs: $n rows vs $d distinct")
  }

  test("rank-1 probe list equals the corpus-side single assignment for every query") {
    // nprobe=1 output must be exactly the old single-probe semantics:
    // subset of nprobe=2 and internally consistent with bruteforce ties
    val ivf1 = pairs(Similarity.annIvfProbe(spark, sfDir, 1))
    val ivf2 = pairs(Similarity.annIvfProbe(spark, sfDir, 2))
    // every query keeps K results in both; the 2-probe set re-ranks a
    // superset of candidates, so per query its top-K is at least as good —
    // here we just pin that no query LOSES all its rank-1-list results
    val q1 = ivf1.groupBy(_._1).view.mapValues(_.size).toMap
    val q2 = ivf2.groupBy(_._1).view.mapValues(_.size).toMap
    assert(q1.keySet == q2.keySet)
    assert(q2.values.forall(_ == Similarity.K))
  }

  test("ann_lsh recall envelope: near-dup pairs collide; OR-amplification amplifies") {
    // sign-LSH recall is CONDITIONAL on similarity: a pair at cosine c
    // agrees with one hyperplane with p = 1 − arccos(c)/π, so an 8-bit
    // bucket catches cos ≥ 0.99 near-dups with p ≈ 0.994⁸ ≈ 0.95 while
    // random-corpus "top-5 neighbors" (cos ≈ 0.5, p ≈ 0.67⁸ ≈ 4%) are
    // structurally invisible — the fixtures plant no near neighbors, so
    // ann_lsh's recall-vs-bruteforce is ~0 BY DESIGN and the designed
    // regime must be pinned on planted pairs instead.
    import org.apache.spark.sql.functions._
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // the semantic_dedup perturbation: cos(orig, copy) ≈ 0.9998
    val copies = base.select(col("vec_id"),
      transform(col("embedding"), (x, i) =>
        (x.cast("double") * (lit(1.0) + ((i % 5) - 2).cast("double") / lit(100.0)))
          .cast("float")).as("embedding"))
    val Tables = 6
    def codes(df: org.apache.spark.sql.DataFrame, prefix: String) =
      df.select(col("vec_id") +: (0 until Tables).map(t =>
        Similarity.bucketCode(col("embedding"), t * Similarity.NumPlanes)
          .as(s"$prefix$t")): _*)
    val joined = codes(base, "o").join(codes(copies, "c"), "vec_id")
      .select((0 until Tables).map(t => (col(s"o$t") === col(s"c$t")).as(s"hit$t")): _*)
      .collect()
    val n       = joined.length
    val single  = joined.count(_.getBoolean(0)).toDouble / n
    val anyOf6  = joined.count(r => (0 until Tables).exists(r.getBoolean)).toDouble / n
    info(s"planted-pair collision: single-table $single, 6-table OR $anyOf6 (n=$n)")
    assert(single >= 0.85,
      s"single 8-bit table catches $single of cos≥0.99 pairs — below the designed envelope")
    assert(anyOf6 > single && anyOf6 >= 0.99,
      s"6-table OR-amplification recall $anyOf6 must approach 1 (single $single)")
  }

  test("ann_lsh_multi SERVED path: planted near-dups recalled at ≥0.99, dominates single-table") {
    import org.apache.spark.sql.functions._
    // plant a cos≈0.9998 copy of every vector (the envelope test's
    // perturbation) and make EVERY original a query: the served 6-table
    // OR-union must surface each original's planted copy in its top-K —
    // the designed ≥0.99 recall, now pinned on the serving operator
    // rather than the collision statistic
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val copies = base.select((col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        (x.cast("double") * (lit(1.0) + ((i % 5) - 2).cast("double") / lit(100.0)))
          .cast("float")).as("embedding"))
    val n = base.count()
    val found = Similarity.annLshMultiOn(base.union(copies), col("vec_id") < 1000000L)
      .filter(col("neighbor_id") === col("query_id") + 1000000L)
      .count()
    val recall = found.toDouble / n
    info(s"served multi-table recall of planted copies: $recall (n=$n)")
    assert(recall >= 0.99, s"served recall $recall below the 6-table envelope")

    // candidate-superset dominance on the fixture corpus: at every
    // (query, rank) the multi-table sim is >= the single-table sim —
    // a bigger OR-union can only improve a per-query top-K
    val multi = Similarity.annLshMulti(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val single = Similarity.annLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3))
    assert(single.forall { case (k, s) => multi.getOrElse(k, Double.MinValue) >= s },
      "multi-table top-K fell below single-table at some rank")
    // table 0 IS ann_lsh's family, so no single-table pair can be lost
    // as a candidate — only out-ranked by a better one
    assert(multi.size >= single.length)
  }

  test("knn_graph_scaled: list count tracks the corpus; diversity prune hits only planted twins") {
    import org.apache.spark.sql.functions._
    // the named fix for knn_graph's quadratic knee: k = ceil(n/B) lists
    // keeps per-list population ~B at any n, so edge work is n*B
    val n = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    val k = math.max(1L, (n + Similarity.KnnScaledB - 1) / Similarity.KnnScaledB)
    val edges = Similarity.knnGraph(spark, sfDir)
    assert(edges.count() <= n * Similarity.K, "more than top-K edges per vector")
    // every vector appears (lists of size >= 2 give everyone a neighbor;
    // at B=50 a singleton list would mean the quantizer collapsed)
    assert(edges.select("query_id").distinct().count() >= n / 2)
    info(s"n=$n k=$k edges=${edges.count()}")

    // prune consumer: natural fixture sims top out ~0.47, so ONLY the
    // planted cos~0.9998 copies (id >= 1e6) can cross DiversityCos —
    // originals must all survive, and most copies must die via their
    // lower-id original (boundary-split copies survive: the IVF trade)
    val pruned = Similarity.knnDiversityPrune(spark, sfDir)
      .filter(col("pruned")).select("vec_id").collect().map(_.getLong(0))
    assert(pruned.nonEmpty, "prune rule never fired on planted twins")
    assert(pruned.forall(_ >= 1000000L), "an original was pruned — only copies can be")
    assert(pruned.length >= (n * 0.9).toInt,
      s"only ${pruned.length} of $n planted copies pruned — below the in-list recall envelope")
  }

  test("sq8 quantized top-5 recalls ≥0.75 of the exact float-L2 top-5") {
    // exact float-L2 ranking, brute-forced driver-side over the sf0.001
    // corpus (500 vectors) — the uncompressed truth SQ8 approximates
    val rows = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val exact: Set[(Long, Long)] = rows.filter(_._1 < Similarity.NumQueries).flatMap {
      case (qid, qv) =>
        rows.filter(_._1 != qid)
          .map { case (nid, nv) =>
            var d = 0.0
            var i = 0
            while (i < qv.length) {
              val x = qv(i).toDouble - nv(i).toDouble; d += x * x; i += 1
            }
            (nid, d)
          }
          .sortBy { case (nid, d) => (d, nid) }
          .take(Similarity.K)
          .map { case (nid, _) => (qid, nid) }
    }.toSet
    val sq8 = pairs(Similarity.annSq8(spark, sfDir))
    val recall = (sq8 & exact).size.toDouble / exact.size
    info(s"sq8 recall@${Similarity.K} vs exact L2: $recall")
    // measured 0.81 at sf0.001 — 8-bit quantization flips only near-tie
    // ranks; the floor leaves headroom for fixture drift
    assert(recall >= 0.75, s"sq8 recall $recall below the designed envelope")
    // quantized distances are exact non-negative integers
    assert(Similarity.annSq8(spark, sfDir).filter(org.apache.spark.sql.functions
      .col("qdist") < 0).count() == 0L)
  }

  test("pq ADC top-5 recalls a useful share of the exact float-L2 top-5") {
    import org.apache.spark.sql.functions.col
    // exact float-L2 truth, brute-forced driver-side (sq8 test's oracle)
    val rows = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val exact: Set[(Long, Long)] = rows.filter(_._1 < Similarity.NumQueries).flatMap {
      case (qid, qv) =>
        rows.filter(_._1 != qid)
          .map { case (nid, nv) =>
            var d = 0.0
            var i = 0
            while (i < qv.length) {
              val x = qv(i).toDouble - nv(i).toDouble; d += x * x; i += 1
            }
            (nid, d)
          }
          .sortBy { case (nid, d) => (d, nid) }
          .take(Similarity.K)
          .map { case (nid, _) => (qid, nid) }
    }.toSet
    val pq     = pairs(Similarity.annPq(spark, sfDir))
    val recall = (pq & exact).size.toDouble / exact.size
    info(s"pq recall@${Similarity.K} vs exact L2: $recall")
    // measured 0.49 at sf0.001 with m=16 × 64-entry Lloyd-refined
    // codebooks (16 B/vector vs sq8's 64 B, a 4× further compression —
    // the recall cost IS the tradeoff being bought); deterministic
    // fixture ⇒ deterministic recall, floor sits under the measurement
    assert(recall >= 0.4, s"pq recall $recall below the designed envelope")
    // ADC distances are rounded non-negative doubles
    assert(Similarity.annPq(spark, sfDir).filter(col("qdist") < 0).count() == 0L)
  }

  test("ivf+pq composition: recall within the two components' envelope, well-formed ranks") {
    import org.apache.spark.sql.functions.col
    val rows = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val exact: Set[(Long, Long)] = rows.filter(_._1 < Similarity.NumQueries).flatMap {
      case (qid, qv) =>
        rows.filter(_._1 != qid)
          .map { case (nid, nv) =>
            var d = 0.0
            var i = 0
            while (i < qv.length) {
              val x = qv(i).toDouble - nv(i).toDouble; d += x * x; i += 1
            }
            (nid, d)
          }
          .sortBy { case (nid, d) => (d, nid) }
          .take(Similarity.K)
          .map { case (nid, _) => (qid, nid) }
    }.toSet
    val res = Similarity.annIvfPq(spark, sfDir)
    val got = pairs(res)
    val recall = (got & exact).size.toDouble / exact.size
    info(s"ivf+pq recall@${Similarity.K} vs exact L2: $recall")
    // both pruning axes stack (nprobe misses + ADC distortion), so the
    // floor sits below the flat-PQ 0.4 (measured 0.30 at sf0.001); the
    // pin is that the composition produces a USEFUL index, not a
    // degenerate one — deterministic fixture ⇒ deterministic recall
    assert(recall >= 0.25, s"ivf+pq recall $recall below the designed envelope")
    assert(res.filter(col("qdist") < 0).count() == 0L)
    // ranks are 1..n_q contiguous per query, at most K rows each
    val byQ = res.collect().groupBy(_.getLong(0))
    byQ.foreach { case (q, rs) =>
      val ranks = rs.map(_.getLong(2)).sorted.toSeq
      assert(ranks == (1L to ranks.size.toLong) && ranks.size <= Similarity.K,
        s"query $q ranks $ranks")
    }
  }

  test("ann_refine: exact re-rank lifts recall over the raw ADC ranks, well-formed") {
    import org.apache.spark.sql.functions.col
    // both measured against the served exact-cosine truth (ann_bruteforce):
    // refine re-ranks the SAME candidate stream by exact cosine, so its
    // agreement with the exact ranking can only meet or beat the ADC order
    val truth   = pairs(Similarity.annBruteforce(spark, sfDir))
    val adcOnly = pairs(Similarity.annIvfPq(spark, sfDir))
    val refined = pairs(Similarity.annRefine(spark, sfDir))
    val rAdc = (adcOnly & truth).size.toDouble / truth.size
    val rRef = (refined & truth).size.toDouble / truth.size
    info(s"recall@${Similarity.K} vs exact cosine: adc=$rAdc refined=$rRef")
    assert(rRef >= rAdc,
      s"refined recall $rRef fell below the ADC-ranked $rAdc it re-ranks")
    assert(rRef > 0.25, s"refined recall $rRef below the designed envelope")
    // sims are exact cosines: bounded, and ranks contiguous per query
    val res = Similarity.annRefine(spark, sfDir)
    assert(res.filter(col("sim") > 1.000001 || col("sim") < -1.000001).count() == 0L)
    res.collect().groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val ranks = rs.map(_.getLong(2)).sorted.toSeq
      assert(ranks == (1L to ranks.size.toLong) && ranks.size <= Similarity.K,
        s"query $q ranks $ranks")
    }
  }

  test("probe-only fixed-nlist kNN graph restricted to the ann_ivf query set IS ann_ivf") {
    import org.apache.spark.sql.functions.col
    // same quantizer, same probes, same ranking — the corpus-wide graph
    // must agree row-for-row with the 20-query op on those 20 queries.
    // (knnGraphFixedNlist is no longer a served query — round-17
    // re-point — but this agreement pin keeps its candidate-generation
    // semantics honest for the scale probe's knee-curve record.)
    val fromGraph = Similarity.knnGraphFixedNlist(spark, sfDir)
      .filter(col("query_id") < Similarity.NumQueries)
      .collect().map(_.toSeq).toSeq
    val fromIvf = Similarity.annIvf(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(fromGraph == fromIvf)
    // every corpus vector appears as a query (no list strands a vector)
    val nVecs = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    assert(Similarity.knnGraphFixedNlist(spark, sfDir)
      .select("query_id").distinct().count() == nVecs)
  }

  test("hard_negatives never share the query's label and rank contiguously") {
    import org.apache.spark.sql.functions.col
    val labels = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getAs[Number](1).longValue).toMap
    val rows = Similarity.hardNegatives(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(labels(r.getLong(1)) != labels(r.getLong(0)),
        s"negative ${r.getLong(1)} shares query ${r.getLong(0)}'s label")
    }
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      assert(rs.map(_.getLong(2)).sorted.toSeq == (1L to rs.length.toLong), s"query $q ranks")
    }
    // mining bites: for some query the best same-label neighbor outranks
    // the best negative (otherwise the label predicate filtered nothing)
    val bruteTop = pairs(Similarity.annBruteforce(spark, sfDir))
    val negTop   = pairs(Similarity.hardNegatives(spark, sfDir))
    assert((bruteTop -- negTop).nonEmpty, "label filter excluded nothing — vacuous")
  }

  test("label_noise_detect consensus replays from the knn graph and labels") {
    import org.apache.spark.sql.functions.col
    val labels = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getAs[Number](1).longValue).toMap
    // the audit rides the corpus-SCALED graph (the round-16 fix for the
    // inherited fixed-nlist knee) — replay from the same edge source
    val edges = Similarity.knnGraph(spark, sfDir)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expect = edges.groupBy(_._1).view.mapValues { es =>
      (es.length.toLong, es.count { case (q, n) => labels(q) == labels(n) }.toLong)
    }.toMap
    val got = Similarity.labelNoiseDetect(spark, sfDir).collect()
    assert(got.length == expect.size)
    got.foreach { r =>
      val (nn, ns) = expect(r.getLong(0))
      assert(r.getAs[Number](1).longValue == labels(r.getLong(0)))
      assert(r.getLong(2) == nn && r.getLong(3) == ns)
      assert(r.getBoolean(4) == (2 * ns < nn))
    }
    // the fixture's label clusters are WEAK (natural cosines top out
    // ~0.47), so the audit flags most vectors — the honest verdict on
    // near-random labels. Pin that both verdicts occur: the minority of
    // genuinely-clustered vectors must clear the vote
    val suspects = got.count(_.getBoolean(4))
    assert(suspects > 0 && suspects < got.length,
      s"$suspects of ${got.length} suspect — a one-sided audit is vacuous")
  }

  test("rrf_fusion: fused micros replay exactly from the two retrievers' ranks") {
    import graft.ops.TextAnalysis
    val rows = Similarity.rrfFusion(spark, sfDir).collect()
    // the fused cut matches the retrievers' top-N (Bm25TopN, pkg-private)
    val bm25Rows = TextAnalysis.bm25Search(spark, sfDir).collect()
    assert(rows.length == bm25Rows.length)

    // 1. each row's score is the literal RRF formula over its own ranks
    def contrib(rank: Any): Long = rank match {
      case null    => 0L
      case r: Long => 1000000L / (60L + r)
    }
    rows.foreach { r =>
      assert(r.getLong(3) == contrib(r.get(1)) + contrib(r.get(2)),
        s"row $r is not 1e6 div (60+rank) summed over present ranks")
      assert(r.get(1) != null || r.get(2) != null, s"row $r in neither retriever")
    }

    // 2. ordering is (rrf desc, doc_id asc) — no hidden reshuffle
    val scores = rows.map(r => (-r.getLong(3), r.getLong(0))).toSeq
    assert(scores == scores.sorted, "fusion output not in (rrf desc, doc_id) order")

    // 3. the sparse ranks replay the actual bm25 top-N ordering
    val bm25 = bm25Rows
      .map(_.getLong(0)).zipWithIndex.map { case (d, i) => d -> (i + 1L) }.toMap
    rows.filter(_.get(1) != null).foreach { r =>
      assert(bm25.get(r.getLong(0)).contains(r.getLong(1)),
        s"doc ${r.getLong(0)}: fused bm25_rank ${r.get(1)} != retriever's ${bm25.get(r.getLong(0))}")
    }
  }

  test("mmr_rerank replays the integer greedy on the driver and step 1 is pure relevance") {
    import org.apache.spark.sql.functions.col
    val rows = Similarity.mmrRerank(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty && rows.length % 5 == 0)
    // rebuild candidates + pairwise sims on the driver from the corpus
    val emb = graft.tables.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cosMicros(a: Array[Float], b: Array[Float]): Long = {
      var (dot, na, nb) = (0.0, 0.0, 0.0)
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      val c = BigDecimal(dot / math.sqrt(na * nb))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      math.round(c * 1000000)
    }
    var departures = 0
    rows.groupBy(_._1).foreach { case (q, picked) =>
      val qv = emb(q)
      val cands = emb.keysIterator.filter(_ != q).toSeq
        .map(id => id -> cosMicros(qv, emb(id)))
        .sortBy { case (id, rel) => (-rel, id) }.take(15)
      val relOf = cands.toMap
      var sel = Vector.empty[Long]
      val expect = (1 to 5).map { k =>
        val pick =
          if (k == 1) cands.head
          else cands.filterNot { case (id, _) => sel.contains(id) }
            .map { case (id, rel) =>
              (id, 7 * rel - 3 * sel.map(s => cosMicros(emb(id), emb(s))).max)
            }
            .sortBy { case (id, m) => (-m, id) }.head
        sel :+= pick._1
        (k.toLong, pick._1, pick._2)
      }
      val got = picked.sortBy(_._2).map(r => (r._2, r._3, r._5))
      expect.zip(got).foreach { case ((ek, eid, escore), (gk, gid, gscore)) =>
        assert(gk == ek && gid == eid, s"query $q step $ek: got $gid expected $eid")
        val expScore = if (ek == 1L) 7 * relOf(eid) else escore
        assert(gscore == expScore, s"query $q step $ek score")
      }
      if (got.map(_._2).toSeq != cands.take(5).map(_._1)) departures += 1
    }
    // the diversification property on this fixture: for at least one
    // query the MMR order departs from the pure-relevance top-5 (else
    // the λ-trade is degenerate and the op adds nothing over top-k)
    assert(departures > 0, "MMR never departed from pure relevance")
  }

  test("jl_project replays the projection on the driver and the ratio is unbiased") {
    import org.apache.spark.sql.functions.col
    val emb = graft.tables.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < 20).select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def proj(x: Array[Float]): Array[Double] =
      Array.tabulate(16) { k =>
        val w = Similarity.planeWeightsF(k)
        x.indices.map(d => x(d).toDouble * w(d).toDouble).sum
      }
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ys = emb.view.mapValues(proj).toMap
    val rows = Similarity.jlProject(spark, sfDir).collect()
    assert(rows.length == emb.size * (emb.size - 1) / 2)
    var ratios = Vector.empty[Long]
    rows.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val dO = r6(d2(emb(a).map(_.toDouble), emb(b).map(_.toDouble)))
      val dP = r6(d2(ys(a), ys(b)))
      assert(r.getDouble(2) == dO && r.getDouble(3) == dP, s"pair ($a,$b) distances")
      val ratio = math.round(dP * 3 * 1000000 / (16 * dO))
      assert(r.getLong(4) == ratio, s"pair ($a,$b) ratio")
      ratios :+= ratio
    }
    // the 1/(k·Var) constant must leave the estimator unbiased-ish —
    // the n/k miscalibration measured mean 21.3×, far outside this band
    val mean = ratios.sum.toDouble / ratios.size
    assert(mean > 700000 && mean < 1400000, s"distortion ratio mean $mean not ~1e6")
  }

  test("ann_recall_matrix replays from the methods' own result sets") {
    import org.apache.spark.sql.functions.col
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = pairs(Similarity.annBruteforce(spark, sfDir))
    val methods = Map(
      "ann_ivf" -> pairs(Similarity.annIvf(spark, sfDir)),
      "ann_lsh" -> pairs(Similarity.annLsh(spark, sfDir)),
      "ann_lsh_multi" -> pairs(Similarity.annLshMulti(spark, sfDir)))
    val got = Similarity.annRecallMatrix(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.keySet == methods.keySet)
    methods.foreach { case (m, ps) =>
      val hits = ps.intersect(bf).size.toLong
      assert(got(m) == ((ps.size.toLong, hits, hits * 1000000L / bf.size)), s"method $m")
      assert(got(m)._3 >= 0L && got(m)._3 <= 1000000L)
    }
    // the frontier the table exists to show: more tables can only find
    // MORE true neighbors than one table (supersets of candidates)
    assert(got("ann_lsh_multi")._2 >= got("ann_lsh")._2)
  }

  test("maxsim_retrieval equals the brute-force late-interaction scoring") {
    import org.apache.spark.sql.functions.col
    val emb = graft.tables.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def cosM(a: Array[Float], b: Array[Float]): Long = {
      var (dot, na, nb) = (0.0, 0.0, 0.0)
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble; nb += b(i).toDouble * b(i).toDouble
      }
      math.round(BigDecimal(dot / math.sqrt(na * nb))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble * 1000000)
    }
    val byDoc = emb.groupBy(_._1 / 4).view.mapValues(_.map(_._2)).toMap
    val queries = byDoc.filter(_._1 < 5)
    val docs = byDoc.filter(_._1 >= 5)
    val want = queries.toSeq.sortBy(_._1).flatMap { case (qd, qts) =>
      docs.toSeq.map { case (d, dts) =>
        (qd, d, qts.map(qt => dts.map(dt => cosM(qt, dt)).max).sum)
      }.sortBy { case (_, d, s) => (-s, d) }.take(10).zipWithIndex
        .map { case ((q, d, s), i) => (q, i + 1L, d, s) }
    }
    val got = Similarity.maxsimRetrieval(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want)
    got.foreach { case (_, _, _, s) => assert(s <= 4000000L, "score exceeds 4 tokens' max") }
  }
}
