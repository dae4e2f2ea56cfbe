package graft

import graft.ops.Dedup

/** Recall property of the LSH dedup paths: every constructed near-dup
  * pair (doc, 80%-truncated copy at id+1,000,000) must be found — the
  * banding parameters are chosen so P(miss) is ~1e-5 at the corpus's
  * minimum jaccard, and the DuckDB oracle proves it exactly at sf0.01;
  * this spec pins the property at sf0.001 in-JVM.
  */
class DedupSpec extends SparkSpec {

  test("minhash LSH finds every constructed truncation pair") {
    val found = Dedup.dedupMinhash(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val docIds = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
    // pairs (d, d+1e6) whose truncated copy still has >= 3 tokens and
    // jaccard >= 0.7 are the guaranteed minimum; spot-check a sample of
    // full-length docs (>= 20 tokens → truncation jaccard ~0.8)
    val longDocs = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("doc_id", "size(split(text, ' ')) AS n")
      .filter("n >= 20").collect().map(_.getLong(0)).toSet
    val expected = docIds.filter(longDocs).map(d => (d, d + 1000000L))
    val missing  = expected.filterNot(found)
    assert(missing.isEmpty, s"LSH missed ${missing.length} constructed pairs: ${missing.take(5).mkString(",")}")
  }

  test("incremental dedup flags every long batch doc against the index, and only batch docs") {
    val out = Dedup.incrementalDedup(spark, sfDir).collect()
    // asymmetric: one row per BATCH doc, index docs never appear
    val ids = out.map(_.getLong(0))
    assert(ids.forall(_ >= 1000000L), "index docs leaked into the batch-side output")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("doc_id", "CAST(size(split(text, ' ')) AS BIGINT) AS n").collect()
    assert(ids.toSet == docs.map(_.getLong(0) + 1000000L).toSet,
      "every batch doc must get a row, matched or not")
    // every >= 20-token doc's truncation sits at jaccard ~0.8 vs its
    // original: it must be flagged and its original must be among the
    // matches (first_dup is the min matching index id, so <= original)
    val byId = out.map(r => r.getLong(0) -> r).toMap
    docs.filter(_.getLong(1) >= 20).foreach { d =>
      val r = byId(d.getLong(0) + 1000000L)
      assert(r.getBoolean(2), s"batch doc ${r.getLong(0)} not flagged")
      assert(!r.isNullAt(3) && r.getLong(3) <= d.getLong(0),
        s"first_dup of ${r.getLong(0)} should be <= its original ${d.getLong(0)}")
    }
  }

  test("fixture invariant: qualifying near-dup pairs are exact copies (recall-1 precondition)") {
    // embeddingNearDup's exact-compare oracle relies on every pair at
    // rounded cos >= 0.99 being an IDENTICAL vector pair (those collide
    // in every LSH table → recall exactly 1). A fixture drift that
    // introduces a near-but-unequal pair (≈0.1% per-pair miss odds with
    // 6 tables) must fail HERE, loudly, not as a flaky driver gate.
    // Checked at both the spec SF and the driver's verify SF.
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      var i = 0
      while (i < vecs.length) {
        var j = i + 1
        while (j < vecs.length) {
          val (a, b) = (vecs(i)._2, vecs(j)._2)
          var dot = 0.0; var na = 0.0; var nb = 0.0; var k = 0
          while (k < a.length) {
            dot += a(k).toDouble * b(k); na += a(k).toDouble * a(k); nb += b(k).toDouble * b(k)
            k += 1
          }
          val cos = math.rint(dot / math.sqrt(na * nb) * 1e4) / 1e4
          if (cos >= 0.99) {
            assert(java.util.Arrays.equals(a, b),
              s"$dir: non-identical pair (${vecs(i)._1}, ${vecs(j)._1}) at cos=$cos " +
                "breaks embeddingNearDup's recall-1 assumption")
          }
          j += 1
        }
        i += 1
      }
    }
  }

  test("embedding near-dup finds every exact copy at cosine 1.0") {
    val found = Dedup.embeddingNearDup(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val nVecs = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    val copyPairs = found.filter { case (a, b, _) => b == a + 1000000L }
    assert(copyPairs.length == nVecs)
    assert(copyPairs.forall(_._3 == 1.0))
  }

  test("fuzzy join finds exactly the pairs a brute-force edit-distance scan finds") {
    import spark.implicits._
    // includes a length-band edge: "abcdef" vs "abc" is dist 3 with len gap 3
    val names = Seq("abc", "abd", "abcd", "abcdef", "xyz", "qqqqqqqqqq")
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      a <- names; b <- names if a < b
      d = lev(a, b) if d <= 3
    } yield (a, b, d.toLong)).sortBy(p => (p._1, p._2))
    val got = Dedup.fuzzyJoinOn(names.toDF("n"), 3).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == want)
  }

  test("ccOn fails loudly, and frees its rounds, when a component outlives maxIters") {
    import spark.implicits._
    // a 30-node chain needs 28 rounds past the fused first one; 5 leave
    // the far end's representative wrong, which must throw, not return
    val chain = (1L until 30L).flatMap(i => Seq((i, i + 1), (i + 1, i))).toDF("src", "dst")
    def persistent = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persistent
    val err = intercept[IllegalStateException](Dedup.ccOn(chain, maxIters = 5))
    assert(err.getMessage.contains("maxIters"), err.getMessage)
    assert((persistent -- before).isEmpty, "the failed loop left checkpoints behind")
  }

  test("entity_resolve: transitive chains resolve together; canonical is the cluster min") {
    import spark.implicits._
    // string-typed CC: chain "cold anvil" ~ "bold anvil" ~ "old anvil"
    // must resolve as ONE entity even where the extremes are within
    // threshold or not — transitivity is the point of the CC step
    val pairs = Seq(("bold anvil", "cold anvil"), ("bold anvil", "old anvil"),
      ("zeta", "zetb"))
    val edges = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    val labels = Dedup.ccOn(edges).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(labels("cold anvil") == "bold anvil" && labels("old anvil") == "bold anvil"
      && labels("bold anvil") == "bold anvil")
    assert(labels("zeta") == "zeta" && labels("zetb") == "zeta")
    // operator-level invariants on the real fixture
    val res = Dedup.entityResolve(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(res.nonEmpty)
    // canonical is a member and the lexicographic min of its cluster
    val byCanon = res.groupBy(_._2)
    byCanon.foreach { case (c, members) =>
      val names = members.map(_._1)
      assert(names.min == c, s"canonical $c is not its cluster's min")
      assert(members.forall(_._3 == names.length.toLong), s"size mismatch in $c")
    }
    // every fuzzy pair landed in one cluster (transitive consistency)
    val canonOf = res.map(t => t._1 -> t._2).toMap
    Dedup.fuzzyJoin(spark, sfDir).collect().foreach { r =>
      assert(canonOf(r.getString(0)) == canonOf(r.getString(1)),
        s"matched pair split across clusters: ${r.getString(0)} / ${r.getString(1)}")
    }
  }

  test("fuzzy join stays exact on a skewed same-length fixture and random mutations") {
    import spark.implicits._
    // every name the same length — the worst case for a length-only band —
    // including deterministic 1–3-char mutations that must all be found
    val rnd = new scala.util.Random(42)
    val base = (0 until 120).map(i => f"entity-record-$i%04d-${rnd.alphanumeric.take(8).mkString}")
    val mutated = base.zipWithIndex.collect { case (s, i) if i % 4 == 0 =>
      val arr = s.toCharArray
      (0 to i % 3).foreach(j => arr((i + 5 * j) % arr.length) = ('a' + (i + j) % 26).toChar)
      new String(arr)
    }
    val names = (base ++ mutated).distinct
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      a <- names; b <- names if a < b
      d = lev(a, b) if d <= 3
    } yield (a, b, d.toLong)).sortBy(p => (p._1, p._2))
    assert(want.nonEmpty, "fixture must contain qualifying pairs")
    val got = Dedup.fuzzyJoinOn(names.toDF("n"), 3).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == want)
  }

  test("composite band collapses the skewed length bucket's candidate set") {
    import spark.implicits._
    // 200 same-length names: the length-only band's single bucket is
    // all-pairs (200·199/2 = 19900 candidates); the composite
    // (length, slot, segment-content) band must keep only pairs that
    // actually agree on a segment — orders of magnitude fewer. Content
    // is random (the skew under test is LENGTH concentration; shared
    // prefixes are a separate, content-level hot key any content band
    // inherits by construction)
    val rnd   = new scala.util.Random(7)
    val names = (0 until 200).map(_ => rnd.alphanumeric.take(14).mkString).distinct
    val df    = names.toDF("n")
    val lengthOnlyCandidates = names.size.toLong * (names.size - 1) / 2
    val composite = Dedup.fuzzyCandidates(df, 3).count()
    assert(composite * 10 < lengthOnlyCandidates,
      s"composite band produced $composite candidates vs " +
        s"$lengthOnlyCandidates for length-only — expected ≥10× shrink")
  }

  test("substring duplication flags exactly the planted cross-doc span") {
    import spark.implicits._
    val shared = "0123456789" * 3 // one 30-char span shared by docs 1 and 2
    val docs = Seq(
      (1L, "a" * 20 + shared),
      (2L, "b" * 20 + shared),
      (3L, "c" * 50), // 21 identical grams, but all in ONE doc: not dup
      (4L, "too short")) // under the gram length: zero grams
      .toDF("doc_id", "text")
    val got = Dedup.substringDupOn(docs, 30).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val r21 = BigDecimal(1.0 / 21).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Seq(
      (1L, 21L, 1L, r21),
      (2L, 21L, 1L, r21),
      (3L, 21L, 0L, 0.0),
      (4L, 0L, 0L, 0.0)))
  }

  test("dup spans merges duplicated windows into maximal spans, self-repeats included") {
    import spark.implicits._
    val shared = "0123456789" * 3 // one 30-char span shared by docs 1 and 2
    val docs = Seq(
      (1L, "a" * 20 + shared),
      (2L, "b" * 20 + shared),
      (3L, "c" * 50), // 21 identical windows in ONE doc: self-repeats
      // count toward duplication here (Lee et al.), unlike
      // substring_dup's cross-doc-only flag
      (4L, "too short")) // under the window length: no grams, no row
      .toDF("doc_id", "text")
    val got = Dedup.dupSpansOn(docs, 30).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(
      (1L, 21L, 30L), // exactly the planted shared span
      (2L, 21L, 30L),
      (3L, 1L, 50L))) // the whole self-repeating doc merges to one span
  }

  test("dup pair spans reports each pair's LONGEST shared span with both start offsets") {
    import spark.implicits._
    val s1 = "0123456789" * 8  // 80-char span shared by docs 1 and 2
    val s2 = "ABCDEFGHIJ" * 9  // 90-char span shared by docs 1 and 3
    val s4 = "KLMNOPQRST" * 4  // 40 chars: ≥ window, < PairSpanMin → cut
    val docs = Seq(
      (1L, "a" * 10 + s1 + "b" * 10 + s2), // s1 at 11, s2 at 101
      (2L, "c" * 25 + s1),                 // s1 at 26
      (3L, "d" * 5 + s2 + "e" * 10 + s4),  // s2 at 6
      (4L, "f" * 40 + s4))                 // pair (3,4) shares only s4
      .toDF("doc_id", "text")
    val got = Dedup.dupPairSpansOn(docs, 30, 60, 32).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    // the periodic spans also match on off-by-10 diagonals (shorter
    // islands); the per-pair argmax must still pick the full run
    assert(got == Seq(
      (1L, 2L, 80L, 11L, 26L),
      (1L, 3L, 90L, 101L, 6L))) // (3,4)'s 40-char span is below PairSpanMin
  }

  test("dup span report ranks repeated windows, counts docs, and samples the min site") {
    import spark.implicits._
    val shared = "0123456789" * 3
    val docs = Seq(
      (1L, "a" * 20 + shared), // shared window at pos 21 in docs 1 and 2
      (2L, "b" * 20 + shared),
      (3L, "c" * 50)) // one 30-char window repeated at 21 positions
      .toDF("doc_id", "text")
    val got = Dedup.dupSpanReportOn(docs, 30, 20).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5)))
      .toSeq
    assert(got == Seq(
      (21L, 1L, 3L, 1L, "c" * 30), // self-repeats rank first by occurrence
      (2L, 2L, 1L, 21L, shared))) // cross-doc pair: sample = (min doc, its min pos)
  }

  test("containment finds every planted mid-slice pair; the relation is asymmetric") {
    import org.apache.spark.sql.functions._
    val out = Dedup.containmentDup(spark, sfDir).cache()
    try {
      // every doc whose mid-slice still carries ≥ 1 shingle must emit
      // (slice → original) at containment exactly 1.0 (consecutive-token
      // slices only produce shingles of the original)
      val planted = out.filter(col("src_id") >= 2000000L &&
        col("host_id") === col("src_id") - 2000000L)
      val expected = tables.Tables.documents(spark, sfDir)
        .select(size(split(col("text"), " ")).as("n"))
        // slice = floor(0.5 n) tokens; needs ≥ 5 for one shingle
        .filter(floor(col("n") * 0.5) >= 5).count()
      assert(planted.count() == expected,
        s"planted containment pairs: got ${planted.count()}, want $expected")
      assert(planted.filter(col("containment") =!= 1.0).count() == 0,
        "a consecutive-token slice must be contained at exactly 1.0")
      // asymmetry: the ORIGINAL is only ~50% contained in its slice, so
      // no (original → slice) pair may qualify at t = 0.9 — this is the
      // directional relation symmetric Jaccard dedup cannot express
      assert(out.filter(col("src_id") < 2000000L &&
        col("host_id") === col("src_id") + 2000000L).count() == 0)
    } finally out.unpersist()
  }

  test("semantic_dedup prunes exactly the co-clustered perturbed copies") {
    val rows = Dedup.semanticDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val cluster = rows.map(r => r._1 -> r._2).toMap
    val pruned  = rows.filter(_._3).map(_._1)
    // originals always survive (greedy keep-first keeps the lower id)
    assert(pruned.forall(_ >= 1000000L))
    // a pruned copy was caught because it co-clusters with its source
    pruned.foreach(id => assert(cluster(id) == cluster(id - 1000000L)))
    // the only surviving copies crossed a cluster boundary — the
    // documented cluster-local recall limit of the SemDeDup shape
    val survivors = rows.filter(r => r._1 >= 1000000L && !r._3).map(_._1)
    assert(survivors.nonEmpty && pruned.length + survivors.length == 500)
    survivors.foreach(id => assert(cluster(id) != cluster(id - 1000000L)))
  }

  test("semantic_dedup cluster count scales with corpus size (k = ceil(n/B))") {
    // the SemDeDup k∝n posture: per-cluster population targets B rows at
    // ANY corpus size, so the in-cluster pair join never goes quadratic
    assert(Dedup.semanticK(1000L) == 8)
    assert(Dedup.semanticK(4000L) == 32)
    assert(Dedup.semanticK(100L) == 1) // tiny fixture: floor of one cluster
    assert(Dedup.semanticK(1000000000L) == 8000000) // web scale: k in the millions
    // and on the fixture itself the realized populations stay near B:
    // k-means does not hard-cap bucket sizes, but with size-derived k the
    // expected population is B — pin a 4x slack so a regression back to
    // fixed-k (population n/10 and growing) fails loudly
    val rows = Dedup.semanticDedup(spark, sfDir).collect().map(_.getLong(1))
    val maxPop = rows.groupBy(identity).map(_._2.length).max
    assert(maxPop <= 4 * Dedup.SemanticClusterB,
      s"max in-cluster population $maxPop exceeds 4xB")
  }

  test("semantic_dedup k does not wrap Int at web-scale corpus sizes") {
    // ⌈n/B⌉ exceeds 2³¹ near n = 2.7e11 — semanticK must stay Long
    assert(Dedup.semanticK(400_000_000_000L) == 3_200_000_000L)
  }

  test("two-level assignment: no plan literal grows past ceil(sqrt(k)) rows") {
    // the scale contract of kmeansAssignTwoLevel — the flat path embeds
    // the full k×dim centroid matrix in the plan (O(n·k·dim) compute at
    // k ∝ n); the two-level path's only matrix literal is the √k×dim
    // super-centroid table. Walk every expression of the final plan and
    // bound the largest array<array<double>> literal.
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val k    = 16L
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
    val assigned = graft.ops.Centroids.kmeansAssignTwoLevel(base, k)
    val maxLit = assigned.queryExecution.optimizedPlan.collect { case p =>
      p.expressions.flatMap(_.collect {
        case Literal(v: ArrayData, ArrayType(ArrayType(DoubleType, _), _)) => v.numElements()
      })
    }.flatten
    val s = math.ceil(math.sqrt(k.toDouble)).toInt
    assert(maxLit.nonEmpty, "expected a super-centroid literal in the plan")
    assert(maxLit.max <= s,
      s"centroid literal of ${maxLit.max} rows exceeds sqrt-k bound $s — flat assignment leaked back in")
  }

  test("dup_cluster_profile partitions the corpus and replays from the cluster census") {
    import graft.ops.Dedup
    import org.apache.spark.sql.functions.col
    val sizes = Dedup.dedupClusters(spark, sfDir).collect().map(_.getLong(1))
    val expect = sizes.groupBy(s => 63 - java.lang.Long.numberOfLeadingZeros(s))
      .map { case (o, ss) => o.toLong -> (ss.length.toLong, ss.sum) }
    val corpusN = Dedup.nearDupCorpus(spark, sfDir).count()
    val got = Dedup.dupClusterProfile(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.filter(_._1 > 0).foreach { case (o, nc, nd) =>
      assert(expect(o) == ((nc, nd)), s"octave $o: ($nc, $nd) vs ${expect(o)}")
    }
    val singles = got.find(_._1 == 0L).get
    assert(singles._2 == corpusN - sizes.sum && singles._2 == singles._3)
    assert(got.map(_._3).sum == corpusN, "profile does not partition the corpus")
    // near-dup fixture guarantees: clusters of >= 2 exist AND singletons exist
    assert(got.exists(r => r._1 >= 1 && r._2 > 0) && singles._2 > 0)
  }

  test("heaps_law cumulative curve replays and vocabulary growth is concave-ish") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").filter(_.nonEmpty)))
    def octave(id: Long): Long = 64 - java.lang.Long.numberOfLeadingZeros(id + 1) - 1 + 1
    val tokCnt = docs.groupBy { case (id, _) => octave(id) }
      .view.mapValues(_.map(_._2.length.toLong).sum).toMap
    val firstSeen = docs.flatMap { case (id, ts) => ts.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val newVocab = firstSeen.values.groupBy(octave)
      .view.mapValues(_.size.toLong).toMap
    val got = graft.ops.TextAnalysis.heapsLaw(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    var (ct, cv) = (0L, 0L)
    got.foreach { case (o, t, v, cumT, cumV) =>
      assert(t == tokCnt.getOrElse(o, 0L), s"octave $o tokens")
      assert(v == newVocab.getOrElse(o, 0L), s"octave $o new vocab")
      ct += t; cv += v
      assert(cumT == ct && cumV == cv, s"octave $o cumulative drift")
      assert(cumV <= cumT)
    }
    assert(got.last._5 == firstSeen.size.toLong, "final vocab != corpus vocabulary")
  }

  test("line_dedup drops exactly the planted furniture and the digest replays") {
    import org.apache.spark.sql.functions.col
    val rows = graft.ops.Dedup.lineDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rows.nonEmpty)
    val texts = graft.tables.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // driver replay: same synthesized page, same >5-distinct-docs rule
    val pages = texts.map { case (id, t) =>
      val half = t.length / 2
      id -> Seq(
        s"nav home about contact v${id % 3}",
        t.substring(0, half),
        t.substring(half),
        s"copyright footer y${id % 2}")
    }
    val ndocs = pages.toSeq.flatMap { case (id, ls) => ls.distinct.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    rows.foreach { case (id, kept, dropped, digest) =>
      val ls = pages(id)
      val keptLines = ls.filter(l => ndocs(l) <= 5)
      assert(kept == keptLines.size.toLong && dropped == (ls.size - keptLines.size).toLong,
        s"doc $id kept/dropped")
      assert(digest == md5Hex(keptLines.mkString("\n")), s"doc $id digest")
      // the planted furniture is always cut; the body halves survive
      assert(dropped >= 2L, s"doc $id: header/footer not recognized as boilerplate")
    }
  }

  test("corpus_diff recovers the planted crawl delta with a wide hamming margin") {
    import org.apache.spark.sql.functions.col
    val baseIds = graft.tables.Tables.documents(spark, sfDir)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val rows = graft.ops.Dedup.corpusDiff(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.get(2)).map(_ => r.getLong(2))))
    assert(rows.map(_._1).toSet ==
      (baseIds ++ baseIds.filter(_ % 17 == 9).map(_ + 1000000L)))
    rows.foreach { case (id, status, hamming) =>
      val expect =
        if (id >= 1000000L) "new"
        else if (id % 17 == 3) "removed"
        else if (id % 17 == 5) "changed_minor"
        else if (id % 17 == 7) "changed_major"
        else "unchanged"
      assert(status == expect, s"doc $id: $status != $expect")
      status match {
        case "new" | "removed"  => assert(hamming.isEmpty)
        case "unchanged"        => assert(hamming.contains(0L))
        case "changed_minor"    => assert(hamming.exists(_ <= 16L))
        case "changed_major"    => assert(hamming.exists(_ > 16L))
      }
    }
    // the two changed classes are separated by a real gap, not a knife-edge
    val minors = rows.filter(_._2 == "changed_minor").flatMap(_._3)
    val majors = rows.filter(_._2 == "changed_major").flatMap(_._3)
    assert(minors.nonEmpty && majors.nonEmpty)
    assert(minors.max + 8 <= majors.min,
      s"hamming gap too narrow: minor max ${minors.max} vs major min ${majors.min}")
  }

  test("ngram_novelty: every truncated twin is zero-novel; ratios are exact") {
    val rows = Dedup.ngramNovelty(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    // corpus = base docs ∪ truncated twins: one output row per corpus doc
    val base  = rows.filter(_._1 < 1000000L)
    val twins = rows.filter(_._1 >= 1000000L)
    assert(base.nonEmpty && twins.nonEmpty && rows.length == base.length + twins.length)
    // a twin's shingle set is a subset of its base doc's → nothing it
    // contains is corpus-unique, no matter what the other docs hold
    twins.foreach { case (id, n, novel, micros) =>
      assert(novel == 0L, s"twin $id has $novel novel shingles")
      if (n > 0) assert(micros.contains(0L)) else assert(micros.isEmpty)
    }
    // base docs with a shingled twin share their prefix shingles with it
    // (non-novel), so none can be fully novel while twins exist
    val twinned = twins.filter(_._2 > 0).map(_._1 - 1000000L).toSet
    base.filter(r => twinned.contains(r._1)).foreach { case (id, n, novel, _) =>
      assert(novel < n, s"base doc $id claims full novelty despite twin overlap")
    }
    // exact-ratio arithmetic + bounds on every row
    rows.foreach { case (id, n, novel, micros) =>
      assert(novel >= 0 && novel <= n)
      if (n == 0) assert(micros.isEmpty, s"doc $id: micros on an unshingled doc")
      else assert(micros.contains(novel * 1000000L / n), s"doc $id ratio drift")
    }
    // the fixture must exercise both tails: some novelty exists somewhere
    assert(rows.exists(_._3 > 0), "fixture produced zero novel shingles anywhere")
  }

  test("lsh_tuning_matrix: banding containment chains and bounds hold") {
    val rows = Dedup.lshTuningMatrix(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(rows.keySet == Set((24L, 1L), (12L, 2L), (8L, 3L), (6L, 4L), (4L, 6L)))
    val truths = rows.values.map(_._3).toSet
    assert(truths.size == 1 && truths.head > 0, "n_truth must be constant and nonzero")
    rows.foreach { case (cfg, (cands, hits, truth)) =>
      assert(hits <= cands && hits <= truth, s"$cfg: hits exceed candidates or truth")
    }
    // a width-(c·r) band match implies all c constituent width-r bands
    // match (slices align at offsets 0, c·r, 2c·r, …), so candidate sets
    // nest along aligned config chains — counts and hits both monotone
    def leq(fine: (Long, Long), coarse: (Long, Long)): Unit = {
      assert(rows(coarse)._1 <= rows(fine)._1,
        s"$coarse candidates exceed $fine despite banding containment")
      assert(rows(coarse)._2 <= rows(fine)._2,
        s"$coarse hits exceed $fine despite banding containment")
    }
    leq((24L, 1L), (12L, 2L)); leq((12L, 2L), (6L, 4L))
    leq((24L, 1L), (8L, 3L));  leq((8L, 3L), (4L, 6L))
    // the steep end must actually find near-dups on this fixture
    assert(rows((24L, 1L))._2 > 0, "steepest config found no true pair")
  }

  test("dedup_soft_weights: every doc kept, family mass ≈ 1, consistent with the census") {
    val rows = Dedup.dedupSoftWeights(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val corpusN = Dedup.nearDupCorpus(spark, sfDir).count()
    assert(rows.length.toLong == corpusN, "soft dedup must keep every document")
    // per-row arithmetic: weight is exactly floor(1e6 / size)
    rows.foreach { case (id, rep, sz, w) =>
      assert(sz >= 1 && w == 1000000L / sz, s"doc $id weight drift")
      assert((sz == 1) == (rep == id) || sz > 1, s"doc $id singleton shape")
    }
    // cluster sizes agree with the dedup_clusters census row-for-row
    val census = Dedup.dedupClusters(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mine = rows.filter(_._3 > 1).groupBy(_._2).view.mapValues(_.length.toLong).toMap
    assert(mine == census.filter(_._2 > 1), "cluster sizes diverge from the census")
    // each multi-doc family's total mass is ≤ 1 doc and > 1 − size·ulp
    rows.groupBy(_._2).foreach { case (rep, fam) =>
      val mass = fam.map(_._4).sum
      assert(mass <= 1000000L, s"family $rep oversamples")
      assert(mass > 1000000L - fam.length, s"family $rep loses more than floor residue")
    }
    // fixture actually has multi-doc families AND singletons
    assert(rows.exists(_._3 > 1) && rows.exists(_._3 == 1))
  }
}
