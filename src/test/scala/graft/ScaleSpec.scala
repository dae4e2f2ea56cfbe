package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Scale-shape assertions with hard numbers: the near-dup pipelines
  * must shuffle O(docs · bands) reduced rows (signatures/bands/ids),
  * never the O(docs²) pair space — measured from real task metrics,
  * not inferred from the plan.
  */
class ScaleSpec extends SparkSpec {

  private class ShuffleCounter extends SparkListener {
    val records = new AtomicLong()
    val bytes   = new AtomicLong()
    override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit = {
      val m = taskEnd.taskMetrics
      if (m != null) {
        records.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        ()
      }
    }
  }

  private def shuffleMetricsOf(name: String): (Long, Long) = {
    val counter = new ShuffleCounter
    spark.sparkContext.addSparkListener(counter)
    try {
      SparkEntry.queries(name)(spark, sfDir).collect()
      org.apache.spark.graftbridge.SchedulerBridge.drainListeners(spark.sparkContext)
      (counter.records.get(), counter.bytes.get())
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  private def shuffleRecordsOf(name: String): Long = shuffleMetricsOf(name)._1

  test("dedup_minhash shuffles band rows, not the quadratic pair space") {
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count() * 2 // corpus = docs + copies
    val quadratic = nDocs * nDocs / 2
    val records = shuffleRecordsOf("dedup_minhash")
    // bands (32/doc) + candidate ids + verify re-attach + final sort —
    // generous linear envelope, far below the pair space
    assert(records < nDocs * 100,
      s"dedup_minhash shuffled $records records for $nDocs docs — not linear")
    assert(records < quadratic / 2,
      s"dedup_minhash shuffled $records records — quadratic-scale volume")
  }

  test("embedding_neardup shuffles table-bucket rows, not all pairs") {
    val nVecs = spark.read.parquet(s"$sfDir/embeddings.parquet").count() * 2
    val records = shuffleRecordsOf("embedding_neardup")
    assert(records < nVecs * 100,
      s"embedding_neardup shuffled $records records for $nVecs vectors — not linear")
  }

  test("substring_dup shuffles compact (hash, id) rows — never document text") {
    // every shuffle stage carries longs (gram hash, doc id, counts);
    // serialized rows are fingerprint-sized. A text-carrying row at the
    // fixtures' ~250-char docs would be an order of magnitude larger.
    val (records, bytes) = shuffleMetricsOf("substring_dup")
    assert(records > 0)
    val perRecord = bytes.toDouble / records
    assert(perRecord < 64.0,
      f"substring_dup shuffle rows average $perRecord%.1f bytes — text leaked into a shuffle")
  }

  test("bm25_search shuffles only the stats partials and the top-k heap rows") {
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    val records = shuffleRecordsOf("bm25_search")
    // one stats row per partition + k rows per partition for the cut —
    // far below a (doc, term) explode, which would be ~nDocs × terms
    assert(records < nDocs,
      s"bm25_search shuffled $records records for $nDocs docs — scoring is not map-side")
  }

  test("kmeans assignment shuffles only (cluster, dim) partials, never vectors") {
    val nVecs = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    val records = shuffleRecordsOf("kmeans_embed")
    // update partials: k×dim per partition; output agg: k per partition.
    // A corpus-shuffling implementation would write ≥ nVecs rows.
    assert(records < math.max(nVecs / 2, 4200),
      s"kmeans_embed shuffled $records records for $nVecs vectors — assignment is not a pure map")
  }

  test("q1_agg shuffles only group partials, not input rows") {
    val nRows = spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    val records = shuffleRecordsOf("q1_agg")
    // partial aggregation: per-partition partials (groups × partitions),
    // orders of magnitude below the input row count
    assert(records < nRows / 10,
      s"q1_agg shuffled $records of $nRows rows — map-side combine lost")
  }

  test("document cipher tiers stay disjoint through k = 256") {
    import org.apache.spark.sql.functions._
    // same Caesar shift recurs at r, r+26, r+52, … — the reversal
    // (tier 1) and scramble-power tiers (2..9) must keep those replicas
    // textually disjoint, else 64×+/256× sweeps manufacture
    // cross-replica near-dups (observed pre-fix: dedup_minhash 64× rows
    // at 1.69× linear). Sampled pairs cover every tier plus the
    // same-shift column through all ten tiers.
    val base = spark.read.parquet(s"$sfDir/documents.parquet").limit(50)
    val sameShift = (0 until 10).map(_ * 26 + 7)
    val tierEdges = Seq(0, 25, 26, 51, 52, 77, 78, 130, 181, 233, 255)
    val texts = (sameShift ++ tierEdges).distinct.map { r =>
      r -> ScaleProbe.replica("documents", base, r)
        .select("text").collect().map(_.getString(0)).toSet
    }
    for ((ra, ta) <- texts; (rb, tb) <- texts if ra < rb)
      assert(ta.intersect(tb).isEmpty, s"replicas $ra and $rb share texts")
  }

  test("embedding perturbation tiers stay disjoint through k = 256") {
    import org.apache.spark.sql.functions._
    // rotation alone cycles at r = 64: the sign-flip tiers must keep
    // same-rotation replicas (r, r+64, r+128, r+192) pointing in
    // different directions, else embedding near-dup sweeps past 64×
    // manufacture cross-replica exact pairs
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(20)
    val vecs = Seq(3, 67, 131, 195, 0, 64, 128, 192).map { r =>
      r -> ScaleProbe.replica("embeddings", base, r)
        .select("embedding").collect().map(_.getSeq[Float](0).toList).toSet
    }
    for ((ra, va) <- vecs; (rb, vb) <- vecs if ra < rb)
      assert(va.intersect(vb).isEmpty, s"replicas $ra and $rb share embeddings")
  }

  test("ScaleProbe synthesis: replicas are disjoint, content-perturbed, workload-independent") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft_scalespec").toString
    try {
      val k = 3
      val dir = ScaleProbe.synthesize(spark, sfDir, tmp, k)
      // facts replicate exactly k×; dims copy 1×
      for (t <- Seq("documents", "embeddings", "events", "orders", "lineitem")) {
        val base   = spark.read.parquet(s"$sfDir/$t.parquet").count()
        val scaled = spark.read.parquet(s"$dir/$t.parquet").count()
        assert(scaled == k * base, s"$t: $scaled != $k × $base")
      }
      assert(spark.read.parquet(s"$dir/nation.parquet").count() ==
        spark.read.parquet(s"$sfDir/nation.parquet").count())
      // id spaces are disjoint across replicas (per-key state must scale)
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      assert(docs.select("doc_id").distinct().count() == docs.count())
      // the Caesar/reversal perturbation is a bijection per replica:
      // replicas contribute disjoint text spaces, so distinct texts
      // scale exactly k× — the property that prevents manufactured
      // cross-replica near-dup pairs
      val baseDocs = spark.read.parquet(s"$sfDir/documents.parquet")
      assert(docs.select("text").distinct().count() ==
        k * baseDocs.select("text").distinct().count(),
        "replica texts collide — near-dup workload would go quadratic in k")
      // embeddings rotate: distinct vectors also scale k×
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      assert(emb.select("embedding").distinct().count() ==
        k * spark.read.parquet(s"$sfDir/embeddings.parquet")
          .select("embedding").distinct().count())
      // a near-dup operator's output scales exactly k× on the synthetic
      // dir (replica independence, end-to-end), and its plan is the
      // SAME plan it has at 1× (no data-dependent plan growth)
      val at1 = SparkEntry.queries("dedup_minhash")(spark, sfDir)
      val atK = SparkEntry.queries("dedup_minhash")(spark, dir)
      assert(atK.count() == k * at1.count(),
        "dedup pairs not k× — replicas are not workload-independent")
      assert(ScaleProbe.planNodes(atK) == ScaleProbe.planNodes(at1))
      // events survive the single-file rewrite with both id offsets
      val ev = graft.tables.Tables.events(spark, dir)
      assert(ev.count() == k * graft.tables.Tables.events(spark, sfDir).count())
      assert(ev.select("event_id").distinct().count() == ev.count())
    } finally graft.ops.deleteTree(java.nio.file.Paths.get(tmp))
  }

  test("perfbench/gen.py's replica rule equals ScaleProbe.replica, row for row") {
    // the benchmark synthesizes its grown inputs in Python; both sides must
    // keep the same rule (id offsets, Caesar/reverse/scramble tiers, rotation
    // and sign-flip tiers) or benchmark figures stop matching probe figures
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "documents", "embeddings", "events", "orders", "lineitem")
    val rs  = Seq(1, 26, 27, 64, 65, 255)
    val tmp = java.nio.file.Files.createTempDirectory("graft_replica_rule")
    try {
      // -B: importing gen.py must leave no bytecode cache under perfbench/
      val script =
        s"""import sys
           |sys.path.insert(0, "perfbench")
           |import gen, pyarrow.parquet as pq
           |for name in ${tables.map(t => s"'$t'").mkString("[", ", ", "]")}:
           |    base = pq.read_table("$sfDir/%s.parquet" % name)
           |    for r in ${rs.mkString("[", ", ", "]")}:
           |        pq.write_table(gen.replica(name, base, r), "$tmp/%s_%d.parquet" % (name, r))
           |""".stripMargin
      val py  = new ProcessBuilder("python3", "-B", "-c", script).redirectErrorStream(true).start()
      val log = scala.io.Source.fromInputStream(py.getInputStream).mkString
      assert(py.waitFor() == 0, log)
      for (name <- tables; r <- rs) {
        val want = ScaleProbe.replica(name, spark.read.parquet(s"$sfDir/$name.parquet"), r)
        val got  = spark.read.parquet(s"$tmp/${name}_$r.parquet").select(want.columns.head, want.columns.tail: _*)
        assert(got.exceptAll(want).union(want.exceptAll(got)).isEmpty,
          s"$name replica $r: gen.py and ScaleProbe rows differ")
      }
    } finally graft.ops.deleteTree(tmp)
  }

  test("curation_pipeline and media_dedup shuffle hash-sized rows, never text/media bytes") {
    val textBytes = spark.read.parquet(s"$sfDir/documents.parquet")
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.length(org.apache.spark.sql.functions.col("text"))))
      .head().getLong(0) * 2 // corpus = docs + shifted copies
    for (q <- Seq("curation_pipeline", "media_dedup")) {
      val (records, bytes) = shuffleMetricsOf(q)
      // rows are (fp/hash, id, small ints): if document text or payload
      // bytes entered any exchange, shuffle bytes would be ≥ the corpus
      // text volume; hash-sized rows stay far below half of it
      assert(bytes < textBytes / 2,
        s"$q shuffled $bytes bytes vs $textBytes corpus text bytes — payload entered a shuffle")
      assert(records > 0, s"$q: expected at least the dedup group exchange")
    }
  }
}
