package graft

import org.apache.spark.sql.execution.SimpleMode

/** Plan-shape regression tests: the properties that make these queries
  * scale are asserted, not assumed — filter pushdown reaching the scan,
  * column pruning, broadcast joins for dims, TakeOrderedAndProject for
  * top-k (no global sort), whole-stage codegen presence.
  */
class PlanSpec extends SparkSpec {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)

  /** The physical plans (AQE's final plans, formatted) of every action
    * `body` ran. */
  private def physicalPlans(body: => Any): Seq[String] = {
    val ps = servedPlans(body).map(_.explainString(org.apache.spark.sql.execution.FormattedMode))
    assert(ps.nonEmpty, "no action ran")
    ps
  }

  test("search_contains pushes Contains into the parquet scan and prunes columns") {
    val p = planOf("search_contains")
    assert(p.contains("StringContains(p_name,id)"), "filter not pushed to scan")
    assert(p.contains("struct<p_partkey:bigint,p_name:string>"), "columns not pruned")
  }

  test("q1_agg prunes lineitem to the referenced columns and pushes the date filter") {
    val p = planOf("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      "shipdate filter not pushed")
    assert(!p.contains("l_partkey"), "unreferenced column read")
  }

  test("q5_join broadcasts the dimension tables") {
    val p = planOf("q5_join")
    assert(p.contains("BroadcastHashJoin"), "no broadcast join in star join")
    assert(!p.contains("CartesianProduct"))
  }

  test("dedup_cluster_keep_best broadcasts the labels and never shuffles text") {
    val p = planOf("dedup_cluster_keep_best")
    assert(p.contains("BroadcastHashJoin"), "labels join not broadcast")
    // the keep-best aggregation input is (id, score, rep) — the corpus
    // text must be reduced to a score BEFORE any exchange
    val exchangeOn = p.linesIterator.filter(_.contains("Arguments: hashpartitioning"))
    assert(exchangeOn.forall(!_.contains("text")), "document text entered a shuffle")
  }

  test("topk plans TakeOrderedAndProject, not a global sort") {
    val p = planOf("topk")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q1_agg aggregates partially before the shuffle (map-side combine)") {
    val p = planOf("q1_agg")
    assert(p.contains("HashAggregate"))
    // partial + final pattern: two HashAggregate nodes around one Exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("whole-stage codegen covers the scan-filter-project pipeline") {
    // AQE shows the un-finalized plan pre-execution; run, then inspect
    val df = SparkEntry.queries("search_contains")(spark, sfDir)
    df.collect()
    // "*(n)" prefixes mark WholeStageCodegen stages in the compact form
    assert(codegenStages(df) > 0)
  }

  private def codegenStages(df: org.apache.spark.sql.DataFrame): Int =
    "\\*\\(\\d+\\)".r.findAllIn(df.queryExecution.executedPlan.toString).size

  test("custom expressions stay inside codegen (no CodegenFallback rows)") {
    import org.apache.spark.sql.functions._
    import graft.functions.{TextFunctions, VectorFunctions}
    val df = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(VectorFunctions.cosine(col("embedding"), col("embedding")).as("c"))
    df.collect()
    assert(codegenStages(df) > 0, "cosine fell out of codegen")
    val df2 = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(TextFunctions.fingerprint(col("text")).as("fp"),
        TextFunctions.simhash(split(col("text"), " ")).as("sh"),
        TextFunctions.simhashMd5(split(col("text"), " ")).as("shm"))
    df2.collect()
    assert(codegenStages(df2) > 0, "text expressions fell out of codegen")
  }

  test("expensive projections sit ABOVE global sorts (sampling pass stays cheap)") {
    // a global orderBy's range-boundary sampling pass re-executes the
    // sort's child; these plans keep transcendental math / JSON parsing
    // above the Sort so the sampling pass only computes raw columns
    import org.apache.spark.sql.catalyst.plans.logical.Sort
    for ((q, marker) <- Seq(
        ("scalar_math2", "SIN"), ("scalar_math", "SQRT"),
        ("json_funcs", "from_json"), ("map_funcs", "from_json"))) {
      val plan = SparkEntry.queries(q)(spark, sfDir).queryExecution.optimizedPlan
      val sorts = plan.collect { case s: Sort => s }
      assert(sorts.nonEmpty, s"$q: no Sort in plan")
      sorts.foreach { s =>
        assert(!s.child.toString.toLowerCase.contains(marker.toLowerCase),
          s"$q: $marker evaluated BELOW the sort — sampling pass recomputes it")
      }
    }
  }

  test("skew_salted_sum aggregates in two phases over the salted key") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val plan = SparkEntry.queries("skew_salted_sum")(spark, sfDir)
      .queryExecution.optimizedPlan
    val aggs = plan.collect { case a: Aggregate => a }
    assert(aggs.size == 2, s"expected salted + final Aggregate, got ${aggs.size}")
    // the inner (first-executed) aggregate groups by (key, salt)
    assert(aggs.last.groupingExpressions.size == 2, "salt phase lost its salt key")
    assert(plan.toString.contains("xxhash64"), "deterministic salt hash missing")
  }

  test("zorder_layout has no global (partitionBy-less) window — the scale-killer shape") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val qe = SparkEntry.queries("zorder_layout")(spark, sfDir).queryExecution
    val windows = qe.optimizedPlan.collect { case w: LWindow => w }
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"global window funnels the table through one task: $w")
    }
    // the distributed-rank tiling needs no window at all
    assert(windows.isEmpty, s"expected window-free tiling, found ${windows.size} windows")
  }

  test("q4_priority pushes the orders date window to the scan and plans a semi join") {
    val p = planOf("q4_priority")
    assert(p.contains("LeftSemi"), "EXISTS did not plan as a semi join")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"),
      "orders date filter not pushed to the scan")
  }

  test("q14/q18/q19 broadcast their small sides — the fact never shuffles for the join") {
    for (q <- Seq("q14_promo", "q18_large", "q19_disjunctive")) {
      val p = planOf(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: dim/sliver join not broadcast")
      assert(!p.contains("CartesianProduct"), s"$q: cartesian product")
    }
  }

  test("q2/q7/q8/q9/q10/q15/q16 broadcast dim slivers, no cartesian, top-k never global-sorts") {
    for (q <- Seq("q2_min_cost", "q7_volume", "q8_market_share", "q9_profit",
        "q10_returned", "q15_top_supplier", "q16_supplier_cnt")) {
      val p = planOf(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: dim/sliver join not broadcast")
      assert(!p.contains("CartesianProduct"), s"$q: cartesian product")
    }
    assert(planOf("q10_returned").contains("TakeOrderedAndProject"),
      "q10 top-20 planned as a global sort")
    assert(planOf("q2_min_cost").contains("TakeOrderedAndProject"),
      "q2 top-100 planned as a global sort")
  }

  test("q16 anti-joins the complaint suppliers and q8/q11 semi-join their filters") {
    assert(planOf("q16_supplier_cnt").contains("LeftAnti"),
      "NOT IN did not plan as an anti join")
    assert(planOf("q8_market_share").contains("LeftSemi"),
      "region customer filter did not plan as a semi join")
    assert(planOf("q11_important_stock").contains("LeftSemi"),
      "nation supplier filter did not plan as a semi join")
  }

  test("q19_disjunctive reaches the scans with the hoisted table-local predicates") {
    val p = planOf("q19_disjunctive")
    assert(p.contains("In(p_brand"), "brand IN-list not pushed to the part scan")
    assert(p.contains("GreaterThanOrEqual(l_quantity"),
      "quantity range not pushed to the lineitem scan")
  }

  test("scd2/streaks/attribution windows are all key-partitioned (no global window)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    for (q <- Seq("scd2_snapshot", "user_streaks", "attribution")) {
      val qe = SparkEntry.queries(q)(spark, sfDir).queryExecution
      val windows = qe.optimizedPlan.collect { case w: LWindow => w }
      assert(windows.nonEmpty, s"$q: expected window functions")
      windows.foreach(w => assert(w.partitionSpec.nonEmpty,
        s"$q: global window funnels the table through one task: $w"))
    }
  }

  test("token_diversity computes token stats with zero hash shuffle, inside codegen") {
    val df = SparkEntry.queries("token_diversity")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the one-pass kernel means no groupBy(doc, token): the only exchange
    // is the output sort's range partitioning
    assert(!p.contains("hashpartitioning"), "token stats shuffled (explode+groupBy shape?)")
    assert(codegenStages(df) > 0, "TokenStats fell out of codegen")
  }

  test("LSH bucket code and IVF assignment stay inside whole-stage codegen") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions
    val bucketed = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(ops.Similarity.bucketCode(col("embedding")).as("bucket"))
    bucketed.collect()
    assert(codegenStages(bucketed) > 0, "bucketCode fell out of codegen")
    val plan = bucketed.queryExecution.executedPlan.toString
    assert(!plan.contains("aggregate("), "bucketCode still uses interpreted lambdas")
    val cents = Seq(Seq.fill(64)(0.0), Seq.fill(64)(1.0))
    val assigned = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(VectorFunctions.nearestCentroidIdx(col("embedding"), typedLit(cents)).as("idx"))
    assigned.collect()
    assert(codegenStages(assigned) > 0, "nearestCentroidIdx fell out of codegen")
  }

  // ---- curation / graph operators (round 9) ----

  test("ngram_decontaminate broadcasts the benchmark n-gram set (corpus never shuffled)") {
    val p = planOf("ngram_decontaminate")
    assert(p.contains("LeftSemi") && p.contains("BroadcastHashJoin"),
      "benchmark semi-join must be a broadcast hash probe")
  }

  test("pii_redact and doc_chunks stay map-side: no hash shuffle, regex above the sort") {
    Seq("pii_redact", "doc_chunks").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("hashpartitioning"),
        s"$q shuffled — per-row curation must only range-exchange for the final sort")
    }
    // the expensive regex/concat projection must sit ABOVE the sort so the
    // range-sampling pass doesn't evaluate it twice (simple mode: tree order)
    val plan = SparkEntry.queries("pii_redact")(spark, sfDir)
      .queryExecution.explainString(SimpleMode)
    val proj = plan.linesIterator.indexWhere(_.contains("regexp_replace"))
    val sort = plan.linesIterator.indexWhere(_.contains("Sort ["))
    assert(proj >= 0 && sort >= 0 && proj < sort, "redaction ran below the global sort")
  }

  test("weighted_sample plans TakeOrderedAndProject, not a global sort") {
    val p = planOf("weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      "weighted top-k must push the limit into per-partition top-k")
  }

  test("cms_watchlist merges sketch partials through the shuffle and pushes the key filter") {
    val p = planOf("cms_watchlist")
    assert(p.contains("partial_cmsfreq"),
      "CMS must run map-side partial aggregation before the exchange")
    assert(p.contains("PushedFilters: [IsNotNull(l_partkey), GreaterThanOrEqual(l_partkey,1)"),
      "watchlist filter must reach the parquet scan on the numeric key")
  }

  test("pagerank never plans a cartesian product and partial-aggregates contributions") {
    val ps = physicalPlans(graft.ops.Graph.pageRankOn(graft.ops.Graph.edges(spark, sfDir), 2).collect())
    assert(ps.forall(!_.contains("CartesianProduct")), "the 1-row N join must broadcast")
    assert(ps.exists(_.contains("partial_sum")), "contribution sum lost map-side combine")
  }

  test("bm25_search plans TakeOrderedAndProject over a broadcast 1-row stats join") {
    val p = planOf("bm25_search")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k must be per-partition heaps, not a global sort")
    assert(!p.contains("CartesianProduct"), "the 1-row stats join must broadcast")
  }

  test("kmeans assignment is a pure map: no join anywhere in the final plan") {
    // centroids ride as foldable literals inside the codegen'd
    // NearestCentroidIdx/SqDistFD, so assigning the corpus is scan +
    // project + partial-agg — the only exchange is the k-row final agg
    val p = planOf("kmeans_embed")
    assert(!p.contains("Join"), "kmeans assignment must not join the corpus")
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 2,
      "assignment added exchanges beyond the k-row aggregate + output sort")
  }

  test("substring_dup shuffles only (hash, id) longs — text never leaves the scan") {
    val p = planOf("substring_dup")
    val exchangeOn = p.linesIterator.filter(_.contains("Arguments: hashpartitioning"))
    assert(exchangeOn.forall(!_.contains("text")), "document text entered a shuffle")
  }

  test("triangle_count never plans a cartesian product") {
    val ps = physicalPlans(graft.ops.Graph.triangleCountOn(graft.ops.Graph.triEdges(spark, sfDir)).collect())
    assert(ps.exists(_.contains("Join")), "no join among the served plans")
    assert(ps.forall(!_.contains("CartesianProduct")),
      "wedge formation and closing must be key joins")
  }

  test("fuzzy_join bands by (length, slot, segment) as an equi-join — no cartesian/NLJ pair generation") {
    val p = planOf("fuzzy_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "composite PassJoin banding must keep candidate generation an equi-join")
  }

  test("profile_table avoids Expand-based multi-distinct and prunes each branch's scan") {
    val p = planOf("profile_table")
    assert(!p.contains("Expand"),
      "per-column UNION branches must not plan a multi-distinct Expand")
    // every lineitem scan reads at most one column
    val schemas = p.linesIterator.filter(_.contains("ReadSchema: struct<")).toSeq
    assert(schemas.nonEmpty && schemas.forall(!_.contains(",")),
      s"a profile branch scan read more than one column:\n${schemas.mkString("\n")}")
  }

  test("join_outer reduces orders per-customer BEFORE the full outer join") {
    val p = planOf("join_outer")
    assert(p.contains("FullOuter"), "join type lost")
    assert(p.contains("HashAggregate"), "orders-side pre-aggregation missing")
  }

  test("bpe_pairs: corpus map side is one codegen'd pass; merges broadcast") {
    // the only corpus-sized work is word extraction + partial count —
    // everything downstream is vocabulary-sized. Pin (a) the SymbolPairs
    // kernel stays inside whole-stage codegen, (b) a merge round's 1-row
    // top pair reaches the vocabulary via broadcast, not a shuffle or
    // cartesian product. The served query checkpoints each round's pair
    // table (its final plan is three LogicalRDD scans), so the merge
    // shape is pinned on the building block itself.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sym = Seq(("<a><b><c>", 3L), ("<a><b>", 2L)).toDF("s", "f")
    val pc = sym
      .select(explode(graft.functions.TextFunctions.symbolPairsCol(col("s"))).as("pair"), col("f"))
      .groupBy("pair").agg(sum("f").as("n"))
    val merged = graft.ops.TextAnalysis.applyMerge(sym, pc)
    merged.collect()
    val p = merged.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), "merge join planned cartesian")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "1-row merge pair not broadcast")
    val kernel = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(explode(graft.functions.TextFunctions.symbolPairsCol(
        regexp_replace(lower(col("text")), "(.)", "<$1>"))).as("pair"))
      .groupBy("pair").count()
    kernel.collect()
    val kp = kernel.queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\)".r.findAllIn(kp).size > 0, "SymbolPairs fell out of codegen")
  }

  test("quality_classifier scores map-side: no hash shuffle, margin inside codegen") {
    val df = SparkEntry.queries("quality_classifier")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("hashpartitioning"),
      "classifier scoring shuffled — a linear model over per-row features is a pure map")
    assert(codegenStages(df) > 0, "margin expression fell out of codegen")
  }

  test("bloom_membership builds the bitmap with partial aggregation and broadcasts it") {
    val p = planOf("bloom_membership")
    assert(p.contains("partial_bloomagg"),
      "bloom bitmap must partial-aggregate map-side before the exchange")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the 1-row bitmap must reach the probe side via broadcast")
  }

  test("every probe-join query broadcasts its query set and drops self pairs in the join") {
    // the probe join's line: the query set is the build side, and the
    // self-pair predicate sits in the join condition, not after it
    val probe = """Broadcast(HashJoin|NestedLoopJoin).*BuildRight.*NOT \(query_id#\d+L? = vec_id#\d+L?\)""".r
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "-1") // only the query set's own broadcast hint may broadcast
    try Seq("ann_bruteforce", "ann_lsh", "ann_ivf", "ann_sq8", "ann_pq", "ann_ivf_pq",
            "ann_refine", "hard_negatives", "mmr_rerank").foreach { q =>
      val ps = servedPlans(SparkEntry.queries(q)(spark, sfDir).collect()).map(_.executedPlan.toString)
      assert(ps.nonEmpty, s"$q: no action ran")
      assert(!ps.exists(_.contains("CartesianProduct")), s"$q: pair generation planned cartesian")
      assert(ps.exists(p => probe.findFirstIn(p).isDefined),
        s"$q: no broadcast probe join of the query set:\n${ps.mkString("\n")}")
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("ann_sq8 quantizes inside codegen") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions
    val lo = typedLit(Seq.fill(64)(0.0))
    val hi = typedLit(Seq.fill(64)(1.0))
    val coded = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(VectorFunctions.quantize8(col("embedding"), lo, hi).as("code"))
    coded.collect()
    assert(codegenStages(coded) > 0, "Quantize8 fell out of codegen")
  }

  test("ann_pq encodes inside codegen") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions
    val book = typedLit(Seq.fill(4)(Seq.fill(4)(0.5)))
    val coded = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(VectorFunctions.nearestCentroidIdx(slice(col("embedding"), 1, 4), book).as("c"))
    coded.collect()
    assert(codegenStages(coded) > 0, "NearestCentroidIdx encode fell out of codegen")
  }

  test("knn_graph generates candidates via a list-id equi-join, never all-pairs") {
    val p = planOf("knn_graph")
    assert(!p.contains("CartesianProduct"), "corpus x corpus planned cartesian")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "corpus-wide kNN must not plan an all-pairs nested loop — that is annBruteforce's job")
  }

  test("round-17 eval/privacy ops: partitioned windows only, no cartesian on data") {
    // group_auc's cumulation must be the lang-partitioned window over
    // cells, never a global single-partition window
    val ga = planOf("group_auc")
    assert(!ga.contains("CartesianProduct"))
    // a Window with no partition spec serializes the whole frame through
    // one task; every Window here must carry the lang partition key
    val winSpecs = ga.split("\n").filter(_.contains("windowspecdefinition"))
    assert(winSpecs.forall(_.contains("lang")),
      "group_auc window not partitioned by lang")
    // fairness_parity and dp_count_release collapse to cells before any
    // non-broadcast join; neither may plan a data-sized cartesian or a
    // global window at all
    for (q <- Seq("fairness_parity", "dp_count_release")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q planned a cartesian")
      assert(!p.contains("windowspecdefinition") || q != "dp_count_release",
        s"$q planned an unexpected window")
    }
  }

  test("vocab_coverage cuts the vocabulary with TakeOrdered, never a full sort") {
    val p = planOf("vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"),
      "top-30 cut must plan TakeOrderedAndProject")
  }

  test("inverted_index cuts terms with TakeOrdered and plans no window") {
    val p = planOf("inverted_index")
    assert(p.contains("TakeOrderedAndProject"), "top-100 cut must plan TakeOrderedAndProject")
    assert(!p.contains("Window"), "posting lists must come from the bounded aggregate, not a window")
  }

  test("source_cap decides map-side via broadcast thresholds — no per-source window") {
    val p = planOf("source_cap")
    assert(!p.contains("Window"),
      "cap must not plan a per-source window — that shape serializes each source into one task")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "the n_sources threshold rows must broadcast back to the corpus scan")
  }

  test("bpe_encode serves from the trained-vocab artifact: no merge work in the plan") {
    val p = planOf("bpe_encode")
    assert(!p.contains("Window"), "encode must not plan any window")
    assert(!p.contains("CartesianProduct"), "1-row merge pair planned cartesian")
    // round 20: the vocab is a memoized trained artifact (localCheckpoint
    // LogicalRDD) — the merge-pair broadcast chain lives in the TRAINING
    // run, never in the serving plan, which is corpus scan + vocab join
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "merge work leaked back into the serving plan")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      "the trained vocab artifact (checkpoint scan) is missing from the serving plan")
  }

  test("ann_lsh_multi: OR-union via one (table, code) equi-join — no cartesian, no BNLJ") {
    val df = SparkEntry.queries("ann_lsh_multi")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), "multi-table candidates planned cartesian")
    assert(!p.contains("BroadcastNestedLoopJoin"), "bucket join degenerated to BNLJ")
  }

  test("bpe_train: N-merge loop keeps the symbol-table plan O(1) in rounds") {
    // the round-12 defect class: an iterative operator whose per-round
    // plan references the previous round's frame k times grows k^r —
    // bpeTrainLoop localCheckpoints each round, so the round-r symbol
    // table must plan as LogicalRDD + rewrite regardless of r
    import spark.implicits._
    val sym0 = Seq(("<l><o><w>", 3L), ("<l><o><w><e><r>", 2L), ("<n><e><w><e><s><t>", 1L))
      .toDF("s", "f").localCheckpoint()
    val (_, sym3) = graft.ops.TextAnalysis.bpeTrainLoop(sym0, 3)
    val (_, sym8) = graft.ops.TextAnalysis.bpeTrainLoop(sym0, 8)
    assert(ScaleProbe.planNodes(sym3) == ScaleProbe.planNodes(sym8),
      s"plan grows with rounds: ${ScaleProbe.planNodes(sym3)} vs ${ScaleProbe.planNodes(sym8)}")
  }

  test("incremental_dedup: batch reaches the index via a (band, bh) equi-join — no cartesian") {
    val p = planOf("incremental_dedup")
    assert(!p.contains("CartesianProduct"), "batch x index planned cartesian")
    assert(!p.contains("BroadcastNestedLoopJoin"), "band join degenerated to BNLJ")
  }

  test("feature_hash partial-aggregates (doc, bucket) sums before the shuffle") {
    val p = planOf("feature_hash")
    assert(p.contains("HashAggregate"), "no hash aggregate planned")
    val aggs = p.split("\n").count(_.contains("HashAggregate"))
    assert(aggs >= 2, s"expected partial+final aggregate pair, saw $aggs HashAggregate rows")
    assert(!p.contains("CartesianProduct"))
  }

  test("market_basket broadcasts the part dim and the 1-row total; no cartesian pair-gen") {
    val p = planOf("market_basket")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "part dim not broadcast")
    assert(!p.contains("CartesianProduct"),
      "basket pair generation must ride the okey equi-join")
    assert(p.contains("TakeOrderedAndProject"), "top-50 cut planned as a global sort")
  }

  test("prefix_jaccard_join candidates ride a prefix-token equi-join — no cartesian") {
    val p = planOf("prefix_jaccard_join")
    // the whole point of prefix filtering: candidate generation is an
    // equi-join on indexed prefix tokens, never an all-pairs product
    // (the all-pairs form lives only in the brute-force oracle, whose
    // hash match PROVES the filter's recall is exactly 1)
    assert(!p.contains("CartesianProduct"), "candidate generation planned as cartesian")
    assert(!p.contains("BroadcastNestedLoopJoin"), "candidate generation degenerated to BNLJ")
  }

  test("bootstrap_ci rides one corpus pass: no row replication, one aggregate pair") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, LogicalPlan}
    val lps = servedPlans(graft.ops.Stats.bootstrapCi(spark, sfDir).collect())
      .map(_.optimizedPlan)
    // the Poisson bootstrap's whole point: 32 resamples WITHOUT a 32x
    // row explode. `stack` does plan a Generate, but it must sit ABOVE
    // an aggregate (unpivoting the ONE 64-column row) — a Generate
    // whose subtree reaches the events relation with no intervening
    // Aggregate means rows were replicated before reduction.
    def scanWithoutAgg(p: LogicalPlan): Boolean = p match {
      case _: Aggregate => false
      case leaf if leaf.children.isEmpty => leaf.isInstanceOf[
        org.apache.spark.sql.execution.datasources.LogicalRelation]
      case other => other.children.exists(scanWithoutAgg)
    }
    val bad = lps.flatMap(_.collect { case g: Generate if scanWithoutAgg(g.child) => g })
    assert(bad.isEmpty, s"Generate over un-aggregated corpus rows:\n${bad.mkString("\n")}")
    assert(lps.exists(_.collect { case g: Generate => g }.nonEmpty), "stack unpivot missing entirely")
    assert(lps.exists(_.collect { case a: Aggregate => a }.nonEmpty),
      "no aggregate planned over the events scan")
  }

  test("frequent_itemsets prunes via the Apriori semi-join and honors the support property") {
    var rows = Array.empty[org.apache.spark.sql.Row]
    val ps = physicalPlans {
      rows = graft.ops.Relational.frequentItemsets(spark, sfDir).collect()
    }
    // level-1 pruning must plan as a broadcast SEMI join, triple
    // generation as okey equi-joins (never cartesian), final cut bounded
    assert(ps.exists(_.contains("LeftSemi")), "frequent-singles Apriori pruning not planned as semi-join")
    assert(ps.forall(!_.contains("CartesianProduct")), "triple generation must ride the okey equi-join")
    assert(ps.exists(_.contains("TakeOrderedAndProject")), "top-50 cut planned as a global sort")

    // Apriori property (semantic): a triple's support never exceeds the
    // support of any contained pair — checked against a driver replay
    assert(rows.nonEmpty)
    val baskets = graft.tables.Tables.lineitem(spark, sfDir)
      .join(graft.tables.Tables.part(spark, sfDir),
        org.apache.spark.sql.functions.col("p_partkey") ===
          org.apache.spark.sql.functions.col("l_partkey"))
      .select("l_orderkey", "p_brand").distinct().collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val byOrder = baskets.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def pairSup(a: String, b: String) = byOrder.valuesIterator.count(s => s(a) && s(b))
    rows.foreach { r =>
      val (a, b, c, sup) = (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))
      val tripleTrue = byOrder.valuesIterator.count(s => s(a) && s(b) && s(c))
      assert(sup == tripleTrue, s"($a,$b,$c) support $sup vs replay $tripleTrue")
      assert(sup <= pairSup(a, b) && sup <= pairSup(b, c) && sup <= pairSup(a, c))
      assert(a < b && b < c, "itemset not in canonical brand order")
    }
  }

  test("kmeans_train assignment rounds stay join-free pure maps (flat plan in rounds)") {
    // the returned curve is a local DF; pin the ROUND plan instead:
    // an assignment against literal centroids must plan no join
    val base = graft.tables.Tables.embeddings(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
    val cents = graft.ops.Centroids.seedCents(base, graft.ops.Centroids.KmeansK)
    val p = graft.ops.Centroids.assignWith(base, cents)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("Join") && !p.contains("Exchange"),
      "per-round assignment must be a zero-shuffle map against the literal matrix")
  }

  test("bpe_train reproduces the canonical merge sequence by hand") {
    // Sennrich's worked example shape: {low×3, lower×2, newest×1}.
    // Round ties break (n DESC, pair ASC) — proven by hand below.
    import spark.implicits._
    val sym0 = Seq(("<l><o><w>", 3L), ("<l><o><w><e><r>", 2L), ("<n><e><w><e><s><t>", 1L))
      .toDF("s", "f").localCheckpoint()
    val (merges, _) = graft.ops.TextAnalysis.bpeTrainLoop(sym0, 5)
    assert(merges == Seq(
      (1, "l o", 5L),   // "l o"=5 ties "o w"=5, asc tie-break
      (2, "lo w", 5L),
      (3, "e r", 2L),   // "e r"=2 ties "low e"=2, asc tie-break
      (4, "low er", 2L),
      (5, "e s", 1L)),  // all 1s in newest; "e s" first asc
      s"got $merges")
  }
  test("round-15 ops: no cartesian anywhere, windows key-partitioned, cuts TakeOrdered") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // link_predict: wedge generation must be an equi-join on the center
    // id with a TakeOrdered cut — never a cartesian or a global sort
    val lp = SparkEntry.queries("link_predict")(spark, sfDir)
    lp.collect()
    val lpP = lp.queryExecution.executedPlan.toString
    assert(!lpP.contains("CartesianProduct"), "link_predict planned cartesian wedges")
    assert(lpP.contains("TakeOrderedAndProject"), "link_predict top-50 must be TakeOrdered")
    assert(lpP.contains("LeftAnti"), "existing edges must leave via an anti-join")
    // ann_refine: candidate fetch joins stay equi/broadcast, no cartesian
    val ar = SparkEntry.queries("ann_refine")(spark, sfDir)
    ar.collect()
    assert(!ar.queryExecution.executedPlan.toString.contains("CartesianProduct"),
      "ann_refine planned a cartesian")
    // train_shuffle ranks by prefix scan: no window at all
    assertScanShape("train_shuffle", SparkEntry.queries("train_shuffle")(spark, sfDir))
    // anomaly_mad / volume_trend: every window is key-partitioned
    // (event_type) — no global-order window
    for (q <- Seq("anomaly_mad", "volume_trend")) {
      val qe = SparkEntry.queries(q)(spark, sfDir).queryExecution
      val windows = qe.optimizedPlan.collect { case w: LWindow => w }
      assert(windows.nonEmpty, s"$q: expected window functions")
      windows.foreach(w => assert(w.partitionSpec.nonEmpty,
        s"$q: global window funnels the table through one task: $w"))
    }
    // pca_project: the served projection is a pure map over the scan —
    // no join, no window, no shuffle beyond the final order
    val pp = SparkEntry.queries("pca_project")(spark, sfDir)
    val ppP = pp.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!ppP.contains("Join") && !ppP.contains("Window"),
      "pca_project projection must stay a join-free, window-free map")
    // wordpiece_encode: per-doc re-attach is a broadcast word join, no window
    val wp = planOf("wordpiece_encode")
    assert(!wp.contains("Window"), "wordpiece_encode must not plan any window")
    assert(wp.contains("BroadcastHashJoin"),
      "the word->pieces table must broadcast back to the token stream")
    // anova_f: one scan, no join in the aggregation pipeline
    val an = planOf("anova_f")
    assert(!an.contains("Join"), "anova_f must be a pure aggregation pipeline")
  }

  test("round-16 late ops: no cartesians, keyed windows, scan-pure rule packs") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // item_cf: basket pair generation must be an equi-join on the order
    // key (never cartesian) and the top-k window keyed per item
    val ic = SparkEntry.queries("item_cf")(spark, sfDir)
    val icP = ic.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!icP.contains("CartesianProduct"), "item_cf planned cartesian pairs")
    val icW = ic.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(icW.nonEmpty && icW.forall(_.partitionSpec.nonEmpty),
      "item_cf top-k window must partition by item")
    // kneser_ney / dsir_weights: model tables attach via equi-joins;
    // the only nested-loop is the broadcast 1-row totals frame
    for (q <- Seq("kneser_ney", "dsir_weights")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q planned a cartesian")
      assert(!p.contains("Window"), s"$q must not plan any window")
    }
    // gopher_rules / luhn_filter: pure per-row rule packs — no join, no
    // window, nothing between scan and the output sort
    for (q <- Seq("gopher_rules", "luhn_filter")) {
      val p = planOf(q)
      assert(!p.contains("Join") && !p.contains("Window") && !p.contains("HashAggregate"),
        s"$q must stay a scan-pure per-row map")
    }
    // corr_matrix: ONE aggregation pipeline, no join anywhere (the six
    // pairs explode from the single 1-row sums frame)
    val cm = SparkEntry.queries("corr_matrix")(spark, sfDir)
    assert(!cm.queryExecution.executedPlan.toString.contains("Join"),
      "corr_matrix must be a single-scan aggregate, not a join tree")
    // mutual_info / calibration_ece: margins and extents re-attach via
    // broadcast, and no global-order window sneaks in
    for (q <- Seq("mutual_info", "calibration_ece")) {
      val qdf = SparkEntry.queries(q)(spark, sfDir)
      val p = qdf.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      assert(!p.contains("CartesianProduct"), s"$q planned a cartesian")
      val ws = qdf.queryExecution.optimizedPlan.collect { case w: LWindow => w }
      assert(ws.isEmpty, s"$q must not plan window functions")
    }
  }

  test("session-18 ops: no cartesians, keyed windows, TakeOrdered cuts, scan-pure maps") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // line_dedup / corpus_diff / token_entropy / srm_check: pure
    // aggregate/join pipelines — no cartesian, no window anywhere
    for (q <- Seq("line_dedup", "corpus_diff", "token_entropy", "srm_check")) {
      val qdf = SparkEntry.queries(q)(spark, sfDir)
      val p = qdf.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      assert(!p.contains("CartesianProduct"), s"$q planned a cartesian")
      val ws = qdf.queryExecution.optimizedPlan.collect { case w: LWindow => w }
      assert(ws.isEmpty, s"$q must not plan window functions")
    }
    // span_corruption / interval_union / twap / proximity_search: every
    // window is doc-/user-partitioned — never a global order
    for (q <- Seq("span_corruption", "interval_union", "twap", "proximity_search")) {
      val qe = SparkEntry.queries(q)(spark, sfDir).queryExecution
      val windows = qe.optimizedPlan.collect { case w: LWindow => w }
      assert(windows.nonEmpty, s"$q: expected window functions")
      windows.foreach(w => assert(w.partitionSpec.nonEmpty,
        s"$q: global window funnels the table through one task"))
      assert(!qe.explainString(org.apache.spark.sql.execution.FormattedMode)
        .contains("CartesianProduct"), s"$q planned a cartesian")
    }
    // proximity_search: the serve cut must be TakeOrdered, not a sort
    val px = SparkEntry.queries("proximity_search")(spark, sfDir)
    px.collect()
    assert(px.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"),
      "proximity_search top-50 must be TakeOrdered")
    // permutation_test: the pattern explode rides cells — no window, no
    // cartesian; the observed row attaches via a broadcast 1-row frame
    val pt = SparkEntry.queries("permutation_test")(spark, sfDir)
    val ptP = pt.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!ptP.contains("CartesianProduct"), "permutation_test planned a cartesian")
    assert(pt.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      "permutation_test must not plan window functions")
  }

  test("round-18 span ops: hash-keyed windows only, TakeOrdered report, text out of wide shuffles") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // dup_spans: both windows are keyed (h for the dup flag, doc_id for
    // the island merge) — a global window here would funnel every
    // corpus position through one task
    val ds = SparkEntry.queries("dup_spans")(spark, sfDir).queryExecution
    val dsw = ds.optimizedPlan.collect { case w: LWindow => w }
    assert(dsw.nonEmpty, "dup_spans: expected the h-keyed dup-flag window")
    dsw.foreach(w => assert(w.partitionSpec.nonEmpty,
      "dup_spans: global window funnels all positions through one task"))
    val dsP = ds.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!dsP.contains("CartesianProduct"), "dup_spans planned a cartesian")
    // the corpus-wide exchanges carry (doc_id, pos, h) longs — document
    // text must never enter a hash shuffle (it re-attaches nowhere)
    val dsExchanges = dsP.linesIterator.filter(_.contains("Arguments: hashpartitioning"))
    assert(dsExchanges.forall(!_.contains("text")), "dup_spans shuffled document text")
    // dup_span_report: the K-cut must plan TakeOrderedAndProject (per-
    // partition top-K + merge), never a global sort of the hash table
    val rep = SparkEntry.queries("dup_span_report")(spark, sfDir)
    rep.collect()
    assert(rep.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"),
      "dup_span_report top-K must be TakeOrdered")
  }

  test("rfm_segments plans no window and no partition-id exchange") {
    // three partitionBy-less ntile(5) windows would serialize the
    // customer census through one task; the quintiles rank by prefix scan
    val df = SparkEntry.queries("rfm_segments")(spark, sfDir)
    assertScanShape("rfm_segments", df)
    assert(!df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      .contains("CartesianProduct"), "rfm_segments planned a cartesian")
  }

  test("prefix-scan queries plan no window and no partition-id exchange") {
    // lift_deciles keeps its ≤10-row decile window
    val scans = Seq("ks_test", "mann_whitney", "roc_auc", "pr_auc", "spearman_corr",
      "train_shuffle", "mixture_sample", "epoch_mixture", "rfm_segments",
      "zorder_layout", "hilbert_layout")
    for (q <- scans) assertScanShape(q, SparkEntry.queries(q)(spark, sfDir))
    assertScanShape("lift_deciles", SparkEntry.queries("lift_deciles")(spark, sfDir), windows = true)
  }

  test("round-18 novelty/weights: 8-byte gram keys only, no cartesian, text out of shuffles") {
    // ngram_novelty: the corpus-sized gram table is aggregated (owner
    // attribution), never self-joined, and its shuffles carry
    // (doc_id, 64-bit hash) longs — neither shingle strings nor text
    val nn = planOf("ngram_novelty")
    assert(!nn.contains("CartesianProduct"), "ngram_novelty planned a cartesian")
    val nnEx = nn.linesIterator.filter(_.contains("Arguments: hashpartitioning")).toSeq
    assert(nnEx.nonEmpty && nnEx.forall(l => !l.contains("text") && !l.contains("ng#")),
      "ngram_novelty shuffled text or raw shingles instead of 8-byte hashes")
    // dedup_soft_weights: id-table joins only — text never shuffles
    val sw = planOf("dedup_soft_weights")
    assert(!sw.contains("CartesianProduct"), "dedup_soft_weights planned a cartesian")
    assert(sw.linesIterator.filter(_.contains("Arguments: hashpartitioning"))
      .forall(!_.contains("text")), "dedup_soft_weights shuffled document text")
  }

  test("round-22: partitionedCheckpoint joins exchange/sort-free on its key") {
    // a Scope.partitioned checkpoint keeps HashPartitioning(key) and its
    // sort order, so a join on that key plans no Exchange or Sort on its arm;
    // the label side is too large to broadcast, so this pins the SMJ arm itself
    import org.apache.spark.sql.functions._
    graft.ops.Checkpoints.scope { s =>
      val e = s.partitioned(
        spark.range(0, 3000000).select((col("id") % 500).as("src"), (col("id") % 400000).as("dst")),
        Seq("dst"))
      val labels = spark.range(0, 2000000).select(col("id").as("node"), col("id").as("c"))
      val round = e.select(col("dst").as("node"), col("src").as("v"))
        .join(labels, "node")
      val plan = round.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
      // the edge arm: ExistingRDD scan with no Exchange/Sort between it
      // and the SortMergeJoin; the label arm may exchange (node-sized)
      val arm = plan.linesIterator
        .dropWhile(!_.contains("SortMergeJoin")).drop(1) // the SMJ line itself
        .takeWhile(!_.contains("ExistingRDD")).toSeq
      assert(!arm.exists(l => l.contains("Exchange") || l.trim.startsWith("+- Sort")),
        s"checkpointed partitioning/ordering did not survive — edge arm re-planned:\n$plan")
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true", "AQE was switched off")
    }
  }

  test("link_predict's wedge and user_cf's pair self-joins read their checkpoints unshuffled") {
    import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec        => nodes(q.plan)
      case other                    => other.children.flatMap(nodes)
    })
    // an arm is unshuffled when it reaches the checkpoint scan with no
    // Exchange, query stage or Sort on the way
    def unshuffled(p: SparkPlan): Boolean = p match {
      case _: RDDScanExec                                => true
      case _: Exchange | _: QueryStageExec | _: SortExec => false
      case other => other.children.nonEmpty && other.children.forall(unshuffled)
    }
    def scanned(p: SparkPlan) = nodes(p).collect { case r: RDDScanExec => r.rdd.id }.toSet
    def selfJoins(qes: Seq[QueryExecution]) = qes.flatMap(qe => nodes(qe.executedPlan)).collect {
      case j: SortMergeJoinExec
          if j.children.forall(unshuffled) && scanned(j.left) == scanned(j.right) => j
    }
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "-1") // no broadcast fallback: the SMJ arms are what is pinned
    try Seq("link_predict", "user_cf").foreach { name =>
      val qes = servedPlans(SparkEntry.queries(name)(spark, sfDir).collect())
      assert(selfJoins(qes).nonEmpty, s"$name: no sort-merge join reads its checkpoint " +
        s"without an Exchange or Sort:\n${qes.map(_.executedPlan).mkString("\n")}")
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
