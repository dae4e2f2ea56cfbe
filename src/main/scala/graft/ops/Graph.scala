package graft.ops

import graft.tables.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph analytics — PageRank as the canonical repeated
  * join-aggregate. Complements the connected-components propagation in
  * `Dedup` (dup-cluster formation): CC iterates to a fixpoint with
  * checkpointed lineage; PageRank here runs a FIXED number of unrolled
  * iterations so the DuckDB oracle can mirror them as chained CTEs.
  *
  * Scale shape per iteration: ranks ⋈ edges on src (a shuffle-on-key
  * join — at 100 TB both sides hash-partition on the node id and the
  * partitioning is REUSED across iterations since the join key never
  * changes), then a partial-aggregated sum per dst. Nothing is
  * collected; N (the node count) rides along as a broadcast 1-row
  * aggregate exactly like tfidf's corpus count. Deep lineage is the
  * real production hazard: at 3 iterations it is harmless, beyond ~10
  * you checkpoint every few rounds exactly as `Dedup.clusterLabels`
  * does.
  *
  * Determinism contract: every rank is rounded to 9 dp after each
  * iteration, and the per-node contribution sum is carried in EXACT
  * INTEGER NANOS (each r/deg term is a bit-identical double on both
  * engines, rounded to a long before the sum) — so the sum is
  * association-free and the output cannot flip with partition layout.
  * (A 9dp-rounded DOUBLE sum is not enough: a sum landing exactly on
  * the 0.5e-9 boundary rounds differently under different partial-sum
  * orders — observed once under a cache-induced plan change.)
  */
object Graph {

  private val Damping = 0.85
  private val Iters   = 3

  /** Directed graph derived from orders: customer-slot → order-slot in
    * a shared mod-prime node space (a deterministic stand-in for a real
    * link graph; the reference has no graph surface and the fixtures no
    * adjacency table). Distinct edges only — PageRank is defined on the
    * simple graph. */
  private[graft] def edges(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select((col("o_custkey") % 211).as("src"), (col("o_orderkey") % 197).as("dst"))

  /** 3 unrolled PageRank iterations: r₀ = 1/N, rₜ₊₁(v) = 0.15/N +
    * 0.85·Σ_{(u,v)∈E} rₜ(u)/deg(u), dangling mass dropped (the common
    * simplification — documented, and mirrored exactly by the oracle).
    * Output: node, out-degree, final rank. */
  def pageRank(spark: SparkSession, dir: String): DataFrame =
    pageRankOn(edges(spark, dir))

  /** PageRank over an arbitrary (src, dst) edge table — split out so
    * specs can drive it with a hand-checkable graph. Normalizes to the
    * simple graph first (PageRank's domain): self-loops and duplicate
    * edges dropped in one distinct pass. */
  def pageRankOn(edgesDf: DataFrame): DataFrame =
    pageRankOn(edgesDf, Iters, materialize = true)

  /** The working body. `materialize = true` (the served path) eagerly
    * `localCheckpoint`s every reused intermediate — the reduced edge /
    * node / degree tables once, ranks per round — so (a) the logical
    * plan stays O(1) per round and (b) NOTHING is registered with the
    * CacheManager: the operator's scope frees every checkpoint its
    * result does not read, where a `.cache()` would pin storage for the
    * rest of a 180-query bench run (round-13 verdict #1).
    * `materialize = false` keeps the whole pipeline lazy (no cache, no
    * checkpoint) so plan specs can assert on the real join/aggregate
    * shapes instead of truncated LogicalRDD leaves. */
  private[graft] def pageRankOn(
      edgesDf: DataFrame, iters: Int, materialize: Boolean): DataFrame = Checkpoints.scope { ck =>
    val e0 = edgesDf.filter(col("src") =!= col("dst")).distinct()
    val e  = if (materialize) ck.ckpt(e0) else e0
    val nodes0 = e.select(col("src").as("node")).union(e.select(col("dst").as("node"))).distinct()
    val nodes  = if (materialize) ck.ckpt(nodes0) else nodes0
    val n   = nodes.agg(count(lit(1)).as("n"))
    // deg and nodes feed every iteration plus the output join — reduce
    // them once instead of re-shuffling per iteration
    val deg0 = e.groupBy("src").agg(count(lit(1)).as("d"))
    val deg  = if (materialize) ck.ckpt(deg0) else deg0

    // Round-22: rank rounds checkpoint EAGERLY again (the r20 shape).
    // Round 21 made them a lazy single-consumer chain — faster in this
    // repo's warm-pair A/Bs, but the driver's cold-JVM bench measured
    // pagerank 0.90× and personalized_pagerank 0.53× (VERDICT r21 #1):
    // the one-shot deep plan's analysis + AQE replan + janino codegen
    // is charged per cold run, and at 3 rounds the saved barriers don't
    // cover it. Superseded rank checkpoints are freed immediately.
    val ranks0 = nodes.crossJoin(broadcast(n))
      .select(col("node"), round(lit(1.0) / col("n"), 9).as("r"))
    var ranks  = if (materialize) ck.ckpt(ranks0) else ranks0
    for (_ <- 1 to iters) {
      val contribs = e
        .join(ranks.select(col("node").as("src"), col("r")), "src")
        .join(deg, "src")
        .select(col("dst").as("node"),
          round((col("r") / col("d")) * 1e9).cast("long").as("cn"))
        .groupBy("node")
        .agg(sum("cn").as("sn"))
      val next = nodes
        .join(contribs, Seq("node"), "left")
        .crossJoin(broadcast(n))
        .select(col("node"),
          round(lit(0.15) / col("n") +
            lit(Damping) * (coalesce(col("sn"), lit(0L)).cast("double") / lit(1e9)), 9).as("r"))
      if (materialize) {
        val prev = ranks
        ranks = ck.ckpt(next)
        ck.free(prev) // new ranks materialized; old round dead
      } else ranks = next
    }
    ranks
      .join(deg.withColumnRenamed("src", "node"), Seq("node"), "left")
      .select(col("node"), coalesce(col("d"), lit(0L)).as("out_deg"), col("r").as("rank"))
      .orderBy("node")
  }

  /** `nodes`/`nn`/`deg`/`r0` prep + `r1..r{Iters}` chained PageRank CTE
    * rounds over a caller-supplied `edges` CTE — shared by the pagerank
    * oracle and `textrank_keywords` (whose node keys are WORDS, not
    * ids: the iteration arithmetic never touches the key type, only
    * joins on it). Replays [[pageRankOn]]'s exact-nanos contribution
    * sums and 9dp per-round re-round. */
  private[ops] val pageRankIterCtes: String = {
    val prep =
      """nodes AS (
        |  SELECT src AS node FROM edges UNION SELECT dst FROM edges
        |), nn AS (SELECT count(*) AS n FROM nodes),
        |deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
        |r0 AS (SELECT node, round(1.0 / nn.n, 9) AS r FROM nodes, nn)""".stripMargin
    val iters = (1 to Iters).map { i =>
      val prev = s"r${i - 1}"
      s"""r$i AS (
         |  SELECT x.node,
         |    round(0.15 / nn.n + 0.85 * (coalesce(c.sn, 0) / 1000000000.0), 9) AS r
         |  FROM nodes x CROSS JOIN nn LEFT JOIN (
         |    SELECT e.dst AS node,
         |           sum(CAST(round((p.r / deg.d) * 1000000000.0) AS BIGINT)) AS sn
         |    FROM edges e JOIN $prev p ON e.src = p.node
         |    JOIN deg ON e.src = deg.src GROUP BY e.dst
         |  ) c ON x.node = c.node)""".stripMargin
    }.mkString(",\n")
    s"$prep,\n$iters"
  }

  /** name of the final PageRank round CTE in [[pageRankIterCtes]]. */
  private[ops] val pageRankFinalCte: String = s"r$Iters"

  private val pageRankSql: String =
    s"""WITH edges AS (
       |  SELECT DISTINCT (o_custkey % 211) AS src, (o_orderkey % 197) AS dst
       |  FROM orders WHERE (o_custkey % 211) <> (o_orderkey % 197)
       |),
       |$pageRankIterCtes
       |SELECT f.node, CAST(coalesce(deg.d, 0) AS BIGINT) AS out_deg, f.r AS rank
       |FROM $pageRankFinalCte f LEFT JOIN deg ON f.node = deg.src
       |ORDER BY f.node""".stripMargin

  /** seed-set cutoff for [[personalizedPagerank]]: nodes below this id
    * form the trusted seed set. */
  private val PprSeedMax = 10L

  def personalizedPagerank(spark: SparkSession, dir: String): DataFrame =
    pprOn(edges(spark, dir), Iters)

  /** Personalized PageRank from the seed set {node < [[PprSeedMax]]} —
    * the seed-EXPANSION primitive of web-corpus curation (rank every
    * page by random-walk proximity to a small trusted set, then keep
    * the high-PPR tail; the same walk powers who-to-follow style
    * recommendation). Identical machinery and determinism contract as
    * [[pageRankOn]] — exact-nanos contribution sums, 9 dp re-rounding
    * per round, per-round `localCheckpoint` + [[Checkpoints.Scope.free]] —
    * with ONE change: the teleport term lands only on seeds (0.15/|S|
    * instead of 0.15/N), so mass injects at the seeds and decays
    * outward by 0.85 per hop. Nodes unreachable from the seed set stay
    * at EXACTLY 0.0 — the walk never visits them — which is the
    * filtering property the curation use case reads. The 1-row seed
    * count broadcasts like pagerank's N. */
  private[graft] def pprOn(edgesDf: DataFrame, iters: Int): DataFrame = Checkpoints.scope { ck =>
    val e = ck.ckpt(edgesDf
      .filter(col("src") =!= col("dst"))
      .distinct())
    val nodes = ck.ckpt(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    val s   = nodes.filter(col("node") < PprSeedMax).agg(count(lit(1)).as("s"))
    val deg = ck.ckpt(e.groupBy("src").agg(count(lit(1)).as("d")))
    val teleport =
      when(col("node") < PprSeedMax, lit(0.15) / col("s")).otherwise(lit(0.0))
    // Round-22: eager per-round rank checkpoints restored (the r20
    // shape) — the driver's cold bench had the r21 lazy chain at 0.53×
    // (VERDICT r21 #1); see the pageRankOn note.
    var ranks = ck.ckpt(nodes.crossJoin(broadcast(s))
      .select(col("node"),
        when(col("node") < PprSeedMax, round(lit(1.0) / col("s"), 9))
          .otherwise(lit(0.0)).as("r")))
    for (_ <- 1 to iters) {
      val contribs = e
        .join(ranks.select(col("node").as("src"), col("r")), "src")
        .join(deg, "src")
        .select(col("dst").as("node"),
          round((col("r") / col("d")) * 1e9).cast("long").as("cn"))
        .groupBy("node")
        .agg(sum("cn").as("sn"))
      val prev = ranks
      ranks = ck.ckpt(nodes
        .join(contribs, Seq("node"), "left")
        .crossJoin(broadcast(s))
        .select(col("node"),
          round(teleport +
            lit(Damping) * (coalesce(col("sn"), lit(0L)).cast("double") / lit(1e9)), 9)
            .as("r")))
      ck.free(prev) // new ranks materialized; old round dead
    }
    ranks
      .join(deg.withColumnRenamed("src", "node"), Seq("node"), "left")
      .select(col("node"), coalesce(col("d"), lit(0L)).as("out_deg"), col("r").as("rank"))
      .orderBy("node")
  }

  private val pprSql: String = {
    val base =
      s"""WITH edges AS (
         |  SELECT DISTINCT (o_custkey % 211) AS src, (o_orderkey % 197) AS dst
         |  FROM orders WHERE (o_custkey % 211) <> (o_orderkey % 197)
         |), nodes AS (
         |  SELECT src AS node FROM edges UNION SELECT dst FROM edges
         |), ss AS (SELECT count(*) AS s FROM nodes WHERE node < $PprSeedMax),
         |deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
         |r0 AS (
         |  SELECT node, CASE WHEN node < $PprSeedMax THEN round(1.0 / ss.s, 9)
         |               ELSE CAST(0 AS DOUBLE) END AS r
         |  FROM nodes, ss)""".stripMargin
    val iters = (1 to Iters).map { i =>
      val prev = s"r${i - 1}"
      s"""r$i AS (
         |  SELECT x.node,
         |    round(CASE WHEN x.node < $PprSeedMax THEN 0.15 / ss.s
         |               ELSE CAST(0 AS DOUBLE) END
         |          + 0.85 * (coalesce(c.sn, 0) / 1000000000.0), 9) AS r
         |  FROM nodes x CROSS JOIN ss LEFT JOIN (
         |    SELECT e.dst AS node,
         |           sum(CAST(round((p.r / deg.d) * 1000000000.0) AS BIGINT)) AS sn
         |    FROM edges e JOIN $prev p ON e.src = p.node
         |    JOIN deg ON e.src = deg.src GROUP BY e.dst
         |  ) c ON x.node = c.node)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$iters
       |SELECT f.node, CAST(coalesce(deg.d, 0) AS BIGINT) AS out_deg, f.r AS rank
       |FROM r$Iters f LEFT JOIN deg ON f.node = deg.src
       |ORDER BY f.node""".stripMargin
  }

  /** node-space modulus for the triangle graph: larger than PageRank's
    * so the graph stays sparse (avg degree ~6 at sf0.01) instead of
    * saturating to a clique. */
  private val TriMod = 4999

  /** Undirected simple graph for triangle counting: canonical (u<v)
    * distinct edges over the same orders-derived node space PageRank
    * uses, just sparser. */
  /** Probe-only node-GROWING link-prediction fixture (the k_truss_grown
    * device over [[triEdges]]' node space): each replica stride gets
    * its own disjoint [[TriMod]]-node community at constant density —
    * without it the fixed space densifies to COMPLETE under replica
    * scaling and the non-edge set the predictor scores goes EMPTY
    * (measured: 0 rows at 64×), a degenerate point that says nothing
    * about the operator. */
  private[graft] def linkPredictGrown(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.orders(spark, dir)
      .select(expr("o_orderkey div 10000000").as("blk"),
        (col("o_custkey") % TriMod).as("a0"),
        ((col("o_orderkey") % 10000000L) % TriMod).as("b0"))
      .select((col("blk") * TriMod + col("a0")).as("a"),
        (col("blk") * TriMod + col("b0")).as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .distinct()
    linkPredictOn(e)
  }

  private[graft] def triEdges(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select((col("o_custkey") % TriMod).as("a"), (col("o_orderkey") % TriMod).as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .distinct()

  /** Per-node triangle counts + local clustering coefficient.
    *
    * Algorithm: degree-ordered orientation (each edge points from its
    * lower-(degree, id) endpoint to the higher one), wedges = pairs of
    * out-neighbors of a common center, closed against the canonical
    * edge set. Every triangle has exactly one vertex whose two incident
    * triangle edges both point OUT (its lowest-order vertex), so each
    * triangle closes exactly once. The orientation is the scale move:
    * out-degree is O(√m) on any graph (a vertex's out-neighbors all
    * have ≥ its degree, and there are ≤ 2m degree units), so the wedge
    * join materializes Σ C(outdeg, 2) = O(m^1.5) rows instead of the
    * unoriented Σ C(deg, 2), which a single hot vertex (degree h) blows
    * up to h² — this is the standard MapReduce triangle algorithm
    * (Suri & Vassilvitskii's "Counting triangles and the curse of the
    * last reducer"). All joins/aggregates carry only (long, long) pairs.
    *
    * Determinism: counts and degrees are exact ints; the coefficient
    * 2·tri/(deg·(deg−1)) is one double division of exact ints, rounded
    * to 6dp — bit-identical on both engines.
    */
  def triangleCount(spark: SparkSession, dir: String): DataFrame =
    triangleCountOn(triEdges(spark, dir))

  /** Triangle counting over an arbitrary canonical (u<v) edge table —
    * split out so specs can drive it with a hand-checkable graph. */
  def triangleCountOn(edgesDf: DataFrame): DataFrame =
    triangleCountOn(edgesDf, materialize = true)

  /** The working body — same `materialize` contract as [[pageRankOn]]:
    * the served path `localCheckpoint`s the thrice-consumed edge table
    * and the reused degree / oriented tables (eagerly materialized,
    * scope-owned, never CacheManager-pinned — round-13 verdict #1);
    * plan specs pass `false` for the fully-lazy join shapes. The wedge
    * join and close stay lazy on both paths — they are
    * single-consumption and MUST stream (the wedge set is the O(m^1.5)
    * bulk that never deserves materializing). */
  private[graft] def triangleCountOn(
      edgesDf: DataFrame, materialize: Boolean): DataFrame = Checkpoints.scope { ck =>
    val e = if (materialize) ck.ckpt(edgesDf) else edgesDf
    // deg and the oriented edge list each feed ≥2 downstream joins
    // (both wedge sides, the close, the output) — materialize the
    // reduced (long, long) tables once instead of re-running their
    // shuffles per consumer. MEMORY_AND_DISK, so at cluster scale this
    // is the standard spill-safe reuse of an O(m) intermediate.
    val deg0 = e.select(col("u").as("node")).union(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val deg  = if (materialize) ck.ckpt(deg0) else deg0

    // orient each edge from the lower-(deg, id) endpoint to the higher
    val ej = e
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
    val uFirst = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val or0 = ej.select(
      when(uFirst, col("u")).otherwise(col("v")).as("src"),
      when(uFirst, col("v")).otherwise(col("u")).as("dst"))
    val or  = if (materialize) ck.ckpt(or0) else or0

    // wedges at a common center; a.dst < b.dst by id makes the pair
    // canonical, so the close probes the u<v edge set directly
    val wedges = or.as("a").join(or.as("b"),
        col("a.src") === col("b.src") && col("a.dst") < col("b.dst"))
      .select(col("a.src").as("c0"), col("a.dst").as("x"), col("b.dst").as("y"))
    val tri = wedges.join(e, col("x") === col("u") && col("y") === col("v"))
      .select(explode(array(col("c0"), col("x"), col("y"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))

    deg.join(tri, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("deg") < 2, lit(0.0)).otherwise(
          round(lit(2.0) * coalesce(col("triangles"), lit(0L)) / (col("deg") * (col("deg") - 1)), 6))
          .as("lcc"))
      .orderBy("node")
  }

  private val triangleSql: String =
    s"""WITH raw AS (
       |  SELECT (o_custkey % $TriMod) AS a, (o_orderkey % $TriMod) AS b FROM orders
       |), e AS (
       |  SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v FROM raw WHERE a <> b
       |), deg AS (
       |  SELECT node, count(*) AS deg FROM (
       |    SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY node
       |), tri AS (
       |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |  FROM e e1 JOIN e e2 ON e2.u = e1.v JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
       |), pn AS (
       |  SELECT unnest([a, b, c]) AS node FROM tri
       |), tc AS (
       |  SELECT node, count(*) AS triangles FROM pn GROUP BY node
       |)
       |SELECT d.node, d.deg, CAST(coalesce(t.triangles, 0) AS BIGINT) AS triangles,
       |  CASE WHEN d.deg < 2 THEN 0.0
       |       ELSE round(2.0 * coalesce(t.triangles, 0) / (d.deg * (d.deg - 1)), 6) END AS lcc
       |FROM deg d LEFT JOIN tc t ON d.node = t.node ORDER BY d.node""".stripMargin

  /** [[kTruss]] fixture knobs: node space (denser than [[TriMod]] so
    * the truss is populated — the 4999-space graph's 4-truss is EMPTY
    * at every SF), the truss order k (each surviving edge must close
    * ≥ k−2 triangles INSIDE the truss), and the peel-round bound
    * (measured fixpoint: 7 rounds at sf0.01, 1 at sf0.1, 2 at
    * sf0.001 — 10 leaves margin; below the bound the result is exact
    * round-replay parity with the oracle, the kcore convention). */
  private val TrussMod    = 997
  private val KTrussK     = 4
  private val KTrussRounds = 10

  /** Canonical distinct u<v edge list in the [[TrussMod]] node space. */
  private def trussEdges(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select((col("o_custkey") % TrussMod).as("a"), (col("o_orderkey") % TrussMod).as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .distinct()

  /** Degree-oriented (src → dst points low-degree → high) edge view of
    * a canonical u<v edge table — the wedge-generation input shared by
    * [[edgeSupportOn]]'s lazy and checkpointed shapes. */
  private def orientedOn(e: DataFrame): DataFrame = {
    val deg = e.select(col("u").as("node")).union(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val ej = e
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
    val uFirst = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    ej.select(
      when(uFirst, col("u")).otherwise(col("v")).as("src"),
      when(uFirst, col("v")).otherwise(col("u")).as("dst"))
  }

  /** Per-edge triangle SUPPORT from a degree-oriented view `or` and the
    * canonical edge set `e` it came from — every closed wedge credits
    * its three edges. Fully lazy; callers checkpoint what they reuse
    * (and in particular may pass a CHECKPOINTED `or` so the wedge
    * self-join reads one materialization instead of computing the
    * orientation subtree once per arm). */
  private def supportFromOriented(or: DataFrame, e: DataFrame): DataFrame = {
    val tri = or.as("a").join(or.as("b"),
        col("a.src") === col("b.src") && col("a.dst") < col("b.dst"))
      .select(col("a.src").as("c0"), col("a.dst").as("x"), col("b.dst").as("y"))
      .join(e, col("x") === col("u") && col("y") === col("v"))
    tri.select(explode(array(
        struct(least(col("c0"), col("x")).as("u"), greatest(col("c0"), col("x")).as("v")),
        struct(least(col("c0"), col("y")).as("u"), greatest(col("c0"), col("y")).as("v")),
        struct(col("x").as("u"), col("y").as("v")))).as("ed"))
      .select(col("ed.u").as("u"), col("ed.v").as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("s"))
  }

  /** [[supportFromOriented]] over the lazily-derived orientation — the
    * single-shot shape (the orientation subtree plans once per
    * self-join arm; fine when the caller runs it once). */
  private def edgeSupportOn(e: DataFrame): DataFrame =
    supportFromOriented(orientedOn(e), e)

  /** k-truss decomposition at k = [[KTrussK]] (Cohen 2008) — the
    * triangle-cohesion community core [[kcoreDecompose]]'s pure degree
    * peel cannot see (a star has high degree and zero triangles; a
    * k-truss is the maximal subgraph where every EDGE closes ≥ k−2
    * triangles, so it certifies overlapping-neighborhood density —
    * the standard "find the tightly-knit core before running the
    * expensive community pass" primitive). Iterated peel: compute
    * per-edge support inside the current subgraph, drop under-k−2
    * edges, repeat to fixpoint (the support of a surviving edge can
    * only DROP when a neighbor edge dies, so the peel is monotone and
    * the fixpoint exact).
    *
    * Scale shape per round: one degree agg + the degree-oriented wedge
    * self-join closed against the edge set — the [[triangleCountOn]]
    * O(m^1.5) bound, on an edge table that only ever SHRINKS — then a
    * partial-aggregated support count keyed on the edge. Per-round
    * eager `localCheckpoint` keeps the plan O(1) per round and the
    * convergence early-exit free ([[kcoreOn]] convention); superseded
    * rounds free their blocks. */
  def kTruss(spark: SparkSession, dir: String): DataFrame =
    kTrussOn(trussEdges(spark, dir), KTrussK, KTrussRounds)

  /** Probe-only node-GROWING [[kTruss]] fixture (not a served query —
    * [[kTruss]] is unchanged). The served fixture's fixed 997-node
    * space saturates under replica scaling: at the 32× probe the edge
    * set sits within 0.01% of the complete graph, so the measured
    * super-linear slope was the densification artifact, not the peel.
    * Here each replica stride (ScaleProbe offsets `o_orderkey` by
    * r·10⁷) maps to its OWN disjoint 997-node block — at 1× the graph
    * is byte-identical to [[trussEdges]]'s; at k× it is k
    * statistically identical communities, so nodes grow with the data
    * at CONSTANT density and the probe curve measures the operator
    * (expected ~linear: the wedge join decomposes per community). This
    * is also the honest 100 TB shape — real corpus growth at constant
    * density adds communities, not edges into a fixed node set. */
  private[graft] def kTrussGrown(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.orders(spark, dir)
      .select(expr("o_orderkey div 10000000").as("blk"),
        (col("o_custkey") % TrussMod).as("a0"),
        ((col("o_orderkey") % 10000000L) % TrussMod).as("b0"))
      .select((col("blk") * TrussMod + col("a0")).as("a"),
        (col("blk") * TrussMod + col("b0")).as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .distinct()
    kTrussOn(e, KTrussK, KTrussRounds)
  }

  /** Bounded k-truss peel over an arbitrary canonical u<v edge table —
    * split out so specs can drive it with a hand-checkable graph. */
  private[graft] def kTrussOn(
      edgesDf: DataFrame, k: Int, rounds: Int): DataFrame = Checkpoints.scope { ck =>
    var e = ck.ckpt(edgesDf)
    var round = 1
    var lastSup: Option[DataFrame] = None
    while (round <= rounds && lastSup.isEmpty) {
      // round 22: materialize the degree-oriented view ONCE per round
      // with its hash(src) layout captured — the wedge self-join's two
      // arms otherwise each recompute the orientation subtree (deg agg
      // + two joins) and re-exchange it (ReuseExchange across AQE
      // stages is not guaranteed — the lsa_topic lesson); with the
      // captured layout both arms read the one materialization
      // exchange- and sort-free
      val or = ck.partitioned(
        orientedOn(e), Seq("src"), Seq("src", "dst"))
      val sup = ck.ckpt(supportFromOriented(or, e))
      ck.free(or) // sup is materialized; the oriented view is dead
      // probe convergence on the support checkpoint FIRST (one cheap
      // aggregate) — the converged round (the common case at sf0.1,
      // where the peel fixes in one pass) used to also pay an
      // edge-sized `kept` checkpoint it then threw away (round 21)
      val keptCnt = sup.filter(col("s") >= k - 2).count()
      if (keptCnt == e.count()) {
        // fixpoint: NO edge died this round, so `sup` — computed on
        // exactly this edge set — already IS the within-truss support
        // the output ships; reusing it saves the full final wedge pass
        // (measured ~half the sf0.1 cost, where the peel converges in
        // one round)
        lastSup = Some(sup)
      } else {
        val kept = ck.ckpt(sup.filter(col("s") >= k - 2)
          .select(col("u"), col("v")))
        ck.free(e)
        ck.free(sup)
        e = kept
      }
      round += 1
    }
    // bound-stopped only: support INSIDE the final edge set must be
    // recomputed (the last round's support was measured on the larger
    // predecessor set) — the value the oracle's bounded replay ships
    val finalSup = lastSup.getOrElse(edgeSupportOn(e))
    e.join(finalSup, Seq("u", "v"), "left")
      .select(col("u"), col("v"), coalesce(col("s"), lit(0L)).as("support"))
      .orderBy("u", "v")
  }

  private val kTrussSql: String = {
    def roundCtes(i: Int): String = {
      val prev = s"t${i - 1}"
      s"""deg$i AS (
         |  SELECT node, count(*) AS deg FROM (
         |    SELECT u AS node FROM $prev UNION ALL SELECT v FROM $prev) GROUP BY node
         |), orr$i AS (
         |  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.u < e.v) THEN e.u ELSE e.v END AS src,
         |         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.u < e.v) THEN e.v ELSE e.u END AS dst
         |  FROM $prev e JOIN deg$i da ON da.node = e.u JOIN deg$i db ON db.node = e.v
         |), tri$i AS (
         |  SELECT a.src AS c0, a.dst AS x, b.dst AS y
         |  FROM orr$i a JOIN orr$i b ON a.src = b.src AND a.dst < b.dst
         |  JOIN $prev e ON e.u = a.dst AND e.v = b.dst
         |), sup$i AS (
         |  SELECT u, v, CAST(count(*) AS BIGINT) AS s FROM (
         |    SELECT LEAST(c0, x) AS u, GREATEST(c0, x) AS v FROM tri$i
         |    UNION ALL SELECT LEAST(c0, y), GREATEST(c0, y) FROM tri$i
         |    UNION ALL SELECT x, y FROM tri$i) GROUP BY u, v
         |), t$i AS (
         |  SELECT u, v FROM sup$i WHERE s >= ${KTrussK - 2}
         |)""".stripMargin
    }
    val r = KTrussRounds
    s"""WITH raw AS (
       |  SELECT (o_custkey % $TrussMod) AS a, (o_orderkey % $TrussMod) AS b FROM orders
       |), t0 AS (
       |  SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v FROM raw WHERE a <> b
       |),
       |${(1 to r).map(roundCtes).mkString(",\n")},
       |degf AS (
       |  SELECT node, count(*) AS deg FROM (
       |    SELECT u AS node FROM t$r UNION ALL SELECT v FROM t$r) GROUP BY node
       |), orrf AS (
       |  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.u < e.v) THEN e.u ELSE e.v END AS src,
       |         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.u < e.v) THEN e.v ELSE e.u END AS dst
       |  FROM t$r e JOIN degf da ON da.node = e.u JOIN degf db ON db.node = e.v
       |), trif AS (
       |  SELECT a.src AS c0, a.dst AS x, b.dst AS y
       |  FROM orrf a JOIN orrf b ON a.src = b.src AND a.dst < b.dst
       |  JOIN t$r e ON e.u = a.dst AND e.v = b.dst
       |), supf AS (
       |  SELECT u, v, CAST(count(*) AS BIGINT) AS s FROM (
       |    SELECT LEAST(c0, x) AS u, GREATEST(c0, x) AS v FROM trif
       |    UNION ALL SELECT LEAST(c0, y), GREATEST(c0, y) FROM trif
       |    UNION ALL SELECT x, y FROM trif) GROUP BY u, v
       |)
       |SELECT t.u, t.v, CAST(coalesce(f.s, 0) AS BIGINT) AS support
       |FROM t$r t LEFT JOIN supf f ON f.u = t.u AND f.v = t.v
       |ORDER BY t.u, t.v""".stripMargin
      // DuckDB re-INLINES a CTE at every reference: each round reads
      // its predecessor 3× (deg/orient/close), so a 10-round chain
      // expands 3¹⁰ ways — measured as "Too many open files" on the
      // base scan. MATERIALIZED pins each round to one evaluation.
      .replace(" AS (\n", " AS MATERIALIZED (\n")
  }

  private val BfsIters  = 4
  private val BfsSource = 0L

  /** Directed (src, dst) edge list from orders in a mod-prime node
    * space — the shared raw-edge preamble every graph operator starts
    * from (self-loops dropped). */
  private def rawEdges(spark: SparkSession, dir: String, mod1: Long, mod2: Long): DataFrame =
    Tables.orders(spark, dir)
      .select((col("o_custkey") % mod1).as("src"), (col("o_orderkey") % mod2).as("dst"))
      .filter(col("src") =!= col("dst"))

  /** Symmetrized, de-duplicated undirected edge view (both directions
    * present exactly once) — the shared prep for BFS/SSSP/LPA/k-core,
    * so every iterative walk inherits the same edge contract instead of
    * re-deriving it (round-12 verdict #8). NOT cached here: each caller
    * decides its own cache/checkpoint + unpersist discipline. */
  private[graft] def symmetrize(edgesDf: DataFrame): DataFrame =
    edgesDf.select(col("src"), col("dst"))
      .union(edgesDf.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()

  /** Single-source BFS distances (≤ [[BfsIters]] hops) over the
    * undirected form of the PageRank graph. */
  def bfsDistances(spark: SparkSession, dir: String): DataFrame =
    bfsDistancesOn(rawEdges(spark, dir, 211L, 197L), BfsSource, BfsIters)

  /** Frontier-expansion BFS — the Pregel shape: each round joins ONLY
    * the newly-discovered frontier against the edge table (shuffle on
    * the node key, reused every round), then anti-joins the visited set
    * to keep first discoveries. Joining the full distance table each
    * round — the naive min-agg formulation — re-traverses every settled
    * node's edges every round; frontiers touch each edge O(1) times
    * total. The oracle mirrors the RESULT (min hop count) as chained
    * min-union CTEs, not the algorithm. Distances are exact longs.
    * The per-round FRONTIER `localCheckpoint` truncates lineage and
    * gates the early exit; the dist table is a lazy union over those
    * checkpoints (round 21 — a second per-round barrier bought
    * nothing). Empty frontier → early exit. */
  def bfsDistancesOn(edgesDf: DataFrame, source: Long, iters: Int): DataFrame =
    bfsDistTable(edgesDf, source, iters).orderBy("node")

  /** [[bfsDistancesOn]] minus the final sort: returns the raw
    * checkpointed distance table, so callers that only take an argmax
    * over it ([[graphDiameterOn]]) can free it directly (free is a
    * no-op through a Sort wrapper). */
  private[graft] def bfsDistTable(
      edgesDf: DataFrame, source: Long, iters: Int): DataFrame = Checkpoints.scope { ck =>
    // PLAIN checkpoint (round 22). The round-21 repartition(src)+sort
    // never captured its layout (LogicalRDD records UnknownPartitioning
    // under AQE) — a pure upfront exchange+sort. And CAPTURING it
    // (Scope.partitioned) cold-measured 0.83x here: the
    // pinned layout locks every frontier join into SortMergeJoin, while
    // with a plain checkpoint AQE broadcasts the tiny frontier and the
    // edge arm never shuffles at all.
    val e = ck.ckpt(symmetrize(edgesDf))
    val spark = edgesDf.sparkSession
    import spark.implicits._
    // Round-21 (opt guide §1.2): only the FRONTIER checkpoints per
    // round (it gates the loop, so it must materialize anyway); the
    // dist table accumulates LAZILY as a union over the frontier
    // checkpoints — the old per-round dist checkpoint was a second
    // barrier job copying every settled node again each round. The
    // final union materializes once here so callers keep a direct
    // checkpoint handle (graphDiameterOn frees it).
    var frontier = ck.ckpt(Seq((source, 0L)).toDF("node", "dist"))
    var dist: DataFrame = frontier
    var t = 1
    while (t <= iters && !frontier.isEmpty) {
      val expand = frontier.join(e.select(col("src").as("node"), col("dst")), "node")
        .select(col("dst").as("node"), lit(t.toLong).as("dist"))
        .distinct()
      frontier = ck.ckpt(expand.join(dist, Seq("node"), "left_anti"))
      dist = dist.union(frontier)
      t += 1
    }
    ck.ckpt(dist)
  }

  /** `e0`/`e` CTEs of the shared order-derived undirected graph —
    * every chained-CTE oracle in this family replays the same edge
    * contract ([[symmetrize]] over [[rawEdges]] 211/197). */
  private val edgeCtesSql: String =
    """e0 AS (
      |  SELECT DISTINCT (o_custkey % 211) AS src, (o_orderkey % 197) AS dst FROM orders
      |  WHERE (o_custkey % 211) <> (o_orderkey % 197)
      |), e AS (
      |  SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0
      |)""".stripMargin

  /** Chained min-union BFS CTE block `d{tag}0..d{tag}{BfsIters}` over
    * the `e` edge CTE, seeded by the SQL expression `seed` — shared by
    * the bfs_distances oracle and both graph_diameter sweeps. */
  private def bfsChainSql(tag: String, seed: String): String = {
    val base =
      s"d${tag}0 AS (SELECT CAST($seed AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist)"
    val steps = (1 to BfsIters).map { i =>
      val prev = s"d$tag${i - 1}"
      s"""d$tag$i AS (SELECT node, min(dist) AS dist FROM (
         |  SELECT node, dist FROM $prev
         |  UNION ALL SELECT e.dst AS node, $prev.dist + 1 FROM $prev JOIN e ON $prev.node = e.src)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$steps"
  }

  private val bfsSql: String =
    s"""WITH $edgeCtesSql,
       |${bfsChainSql("", BfsSource.toString)}
       |SELECT node, dist FROM d$BfsIters ORDER BY node""".stripMargin

  /** Pseudo-diameter via the double-sweep heuristic (Magnien–Latapy–
    * Habib): BFS from an arbitrary source, then BFS AGAIN from the
    * farthest node found — the second sweep's eccentricity is a lower
    * bound on the true diameter that is exact on trees and near-exact
    * on real graphs, at the cost of two sweeps instead of the all-pairs
    * O(n·m) an exact diameter needs. Output: one row per sweep
    * (source, farthest node, eccentricity); sweep 2's `ecc` is the
    * pseudo-diameter. Hop-bounded to [[BfsIters]] like every walk in
    * the family so the oracle can replay both sweeps as chained CTEs
    * (the second seeded by a scalar subquery over the first's argmax).
    *
    * Scale shape: two [[bfsDistancesOn]] frontier runs (each edge
    * touched O(1) times per sweep) bridged by a 1-row driver argmax —
    * bounded metadata, the kmeans convention. The argmax itself is a
    * TakeOrderedAndProject (dist desc, node) cut, never a global sort. */
  def graphDiameter(spark: SparkSession, dir: String): DataFrame =
    graphDiameterOn(spark, rawEdges(spark, dir, 211L, 197L), BfsSource, BfsIters)

  private[graft] def graphDiameterOn(
      spark: SparkSession, edgesDf: DataFrame, source: Long, iters: Int): DataFrame = Checkpoints.scope { ck =>
    import spark.implicits._
    def far(bfs: DataFrame): (Long, Long) = {
      val r = bfs.orderBy(col("dist").desc, col("node")).limit(1).collect()(0)
      ck.free(bfs) // argmax collected; the distance table is dead
      (r.getLong(0), r.getLong(1))
    }
    val (u, ecc1) = far(bfsDistTable(edgesDf, source, iters))
    val (w, ecc2) = far(bfsDistTable(edgesDf, u, iters))
    Seq((1L, source, u, ecc1), (2L, u, w, ecc2))
      .toDF("sweep", "source", "far_node", "ecc")
      .orderBy("sweep")
  }

  private val diameterSql: String =
    s"""WITH $edgeCtesSql,
       |${bfsChainSql("a", BfsSource.toString)},
       |fara AS (SELECT node, dist FROM da$BfsIters ORDER BY dist DESC, node LIMIT 1),
       |${bfsChainSql("b", "(SELECT node FROM fara)")},
       |farb AS (SELECT node, dist FROM db$BfsIters ORDER BY dist DESC, node LIMIT 1)
       |SELECT * FROM (
       |  SELECT CAST(1 AS BIGINT) AS sweep, CAST($BfsSource AS BIGINT) AS source,
       |         node AS far_node, dist AS ecc
       |  FROM fara
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT), (SELECT node FROM fara), node, dist FROM farb
       |) ORDER BY sweep""".stripMargin

  /** Degree assortativity (Newman 2002): Pearson correlation of the
    * endpoint degrees over every directed edge instance of the
    * symmetrized graph — positive when hubs attach to hubs, negative
    * when hubs attach to leaves. Because the pair multiset is symmetric
    * (each undirected edge contributes both (dx,dy) and (dy,dx)), the
    * x- and y-marginals coincide and r collapses to the fully RATIONAL
    *   r = (m·Σxy − (Σx)²) / (m·Σx² − (Σx)²)
    * — no square root — so it ships as exact integral micros with the
    * welch_t sign-after-abs truncation, NULL for a degree-regular graph
    * (zero variance). Composite sums run DECIMAL(38,0)/HUGEINT and the
    * wide columns cross the artifact boundary as digit strings (the
    * round-15 gate convention).
    *
    * Scale shape: one partial-aggregated degree count, two node-keyed
    * equi-joins to attach endpoint degrees, one 4-sum aggregate to a
    * single row — no window, no driver state, no quadratic anything. */
  def degreeAssortativity(spark: SparkSession, dir: String): DataFrame =
    assortativityOn(rawEdges(spark, dir, 211L, 197L))

  private[graft] def assortativityOn(edgesDf: DataFrame): DataFrame = Checkpoints.scope { ck =>
    val sym = ck.ckpt(symmetrize(edgesDf)) // feeds the degree count and the pairing joins
    val deg = sym.groupBy("src").agg(count(lit(1)).as("d"))
    sym
      .join(deg, "src")
      .join(deg.select(col("src").as("dst"), col("d").as("d2")), "dst")
      .agg(
        count(lit(1)).as("m"),
        sum("d").as("sx"),
        sum(expr("CAST(d AS DECIMAL(38,0)) * d")).as("sxx"),
        sum(expr("CAST(d AS DECIMAL(38,0)) * d2")).as("sxy"))
      .select(col("m"), col("sx"), col("sxx"), col("sxy"),
        (col("m").cast("decimal(38,0)") * col("sxy") -
          col("sx").cast("decimal(38,0)") * col("sx")).cast("decimal(38,0)").as("num"),
        (col("m").cast("decimal(38,0)") * col("sxx") -
          col("sx").cast("decimal(38,0)") * col("sx")).cast("decimal(38,0)").as("den"))
      .select(col("m"), col("sx"),
        col("sxx").cast("string").as("sxx"),
        col("sxy").cast("string").as("sxy"),
        col("num").cast("string").as("num"),
        col("den").cast("string").as("den"),
        expr("""CASE WHEN den = 0 THEN NULL
               |ELSE CAST(CASE WHEN num < 0 THEN -1 ELSE 1 END *
               |  ((abs(num) * 1000000) div den) AS BIGINT)
               |END""".stripMargin).as("r_micros"))
  }

  private val assortativitySql: String =
    s"""WITH $edgeCtesSql,
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY src),
       |p AS (
       |  SELECT d1.d AS d, d2.d AS d2
       |  FROM e JOIN deg d1 ON e.src = d1.src JOIN deg d2 ON e.dst = d2.src
       |), s AS (
       |  SELECT CAST(count(*) AS BIGINT) AS m, CAST(sum(d) AS BIGINT) AS sx,
       |         CAST(sum(CAST(d AS HUGEINT) * d) AS HUGEINT) AS sxx,
       |         CAST(sum(CAST(d AS HUGEINT) * d2) AS HUGEINT) AS sxy
       |  FROM p
       |), c AS (
       |  SELECT m, sx, sxx, sxy,
       |         CAST(CAST(m AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sx AS HUGEINT) AS num,
       |         CAST(CAST(m AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS HUGEINT) AS den
       |  FROM s
       |)
       |SELECT m, sx, CAST(sxx AS VARCHAR) AS sxx, CAST(sxy AS VARCHAR) AS sxy,
       |       CAST(num AS VARCHAR) AS num, CAST(den AS VARCHAR) AS den,
       |       CASE WHEN den = 0 THEN NULL
       |            ELSE CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END) *
       |              ((abs(num) * 1000000) // den) AS BIGINT)
       |       END AS r_micros
       |FROM c""".stripMargin

  private val BcSources = Seq(0L, 7L)
  private val BcHops    = 3

  /** Sampled-source betweenness centrality (Brandes 2001; source
    * sampling as in Riondato–Kornaropoulos: exact betweenness needs one
    * forward+backward sweep per NODE, so at scale one runs the sweep
    * for K sampled sources and the per-source dependencies are an
    * unbiased estimator up to the fixed n/K factor). Hop-bounded to
    * [[BcHops]] like every walk in this family, so the oracle can
    * replay it as chained CTEs.
    *
    * Per source: the FORWARD sweep is frontier BFS carrying exact
    * shortest-path COUNTS σ (a level's σ(v) = Σ σ(u) over its dist-1
    * predecessors — one partial-aggregated sum per level riding the
    * same node-key shuffle as [[bfsDistancesOn]]); the BACKWARD sweep
    * walks levels deepest→source accumulating Brandes' dependency
    * δ(v) = Σ_{w: succ} σv/σw · (1 + δw), each per-edge term rounded
    * to exact integer NANOS before the order-insensitive long sum (the
    * pagerank convention — association-free, partition-layout-proof).
    * Every level and every δ table is `localCheckpoint`ed and freed as
    * soon as superseded ([[Checkpoints.Scope.free]]); per-round work is one
    * frontier-edge join, never a re-traversal of settled levels.
    * Output: node, accumulated dependency over the sampled sources in
    * nanos (sources' own rows excluded, unreached nodes absent). */
  def betweenness(spark: SparkSession, dir: String): DataFrame =
    betweennessOn(rawEdges(spark, dir, 211L, 197L), BcSources, BcHops)

  def betweennessOn(
      edgesDf: DataFrame, sources: Seq[Long], hops: Int): DataFrame = Checkpoints.scope { ck =>
    val spark = edgesDf.sparkSession
    import spark.implicits._
    val e = ck.ckpt(symmetrize(edgesDf))
    def deltasFor(s: Long): DataFrame = {
      // forward: levels.head is the deepest level, (node, sigma) each;
      // the visited set accumulates LAZILY over the level checkpoints
      // (round 21 — the bfsDistTable convention; a per-hop visited
      // checkpoint was a second barrier job per hop)
      var levels  = List(ck.ckpt(Seq((s, 1L)).toDF("node", "sigma")))
      var visited = levels.head.select("node")
      var h    = 1
      var stop = false
      while (h <= hops && !stop) {
        val next = ck.ckpt(levels.head.join(e, col("node") === col("src"))
          .groupBy(col("dst")).agg(sum("sigma").as("sigma"))
          .select(col("dst").as("node"), col("sigma"))
          .join(visited, Seq("node"), "left_anti"))
        if (next.isEmpty) { ck.free(next); stop = true }
        else {
          visited = visited.union(next.select("node"))
          levels = next :: levels
          h += 1
        }
      }
      // backward: deepest level has delta = 0 by the hop-bounded
      // definition; each shallower level joins ONLY the level below
      // (shortest-path successors sit at exactly dist+1)
      var below = ck.ckpt(levels.head
        .select(col("node"), col("sigma"), lit(0L).as("delta")))
      var acc = List(below)
      for (lvl <- levels.tail) {
        val terms = lvl.as("v").join(e, col("v.node") === col("src"))
          .join(below.as("w"), col("dst") === col("w.node"))
          .select(col("v.node").as("node"),
            round(col("v.sigma").cast("double") / col("w.sigma")
              * (lit(1000000000L) + col("w.delta"))).cast("long").as("term"))
          .groupBy("node").agg(sum("term").as("d"))
        below = ck.ckpt(lvl.join(terms, Seq("node"), "left")
          .select(col("node"), col("sigma"), coalesce(col("d"), lit(0L)).as("delta")))
        acc = below :: acc
      }
      val out = ck.ckpt(acc.map(_.select("node", "delta")).reduce(_ union _)
        .filter(col("node") =!= s)) // materialize so the per-level tables can free
      (acc ++ levels).foreach(ck.free)
      out
    }
    // The sampled sources are INDEPENDENT Brandes sweeps (opt guide
    // §2.6: overlap independent jobs) — run them in parallel so one
    // sweep's straggler tail back-fills with the next sweep's stages
    // instead of idling the scheduler; the final aggregate is an
    // association-free long sum, so the result is partition- and
    // completion-order-independent.
    val perSource = ck.parallel(sources.map(s => () => deltasFor(s)))
    ck.ckpt(perSource.reduce(_ union _)
      .groupBy("node").agg(sum("delta").as("bc_nanos"))
      .orderBy(desc("bc_nanos"), col("node")))
  }

  private val WalkSteps = 4

  /** Deterministic node-hash step choice for [[randomWalks]]: the
    * "random" neighbor is the one minimizing a Knuth multiplicative
    * hash of (cur, nbr, step) — reproducible under any partitioning
    * and recomputable in plain SQL (node ids < 211 and steps ≤ 9 keep
    * the product ≪ 2⁶³ on both engines). */
  private def walkHash(cur: Column, nbr: Column, step: Int): Column =
    pmod((cur * 211L + nbr) * 10L + step, lit(1000003L)) * 2654435761L % 1000003L

  /** DeepWalk-style walk corpus (Perozzi et al. 2014): every node
    * starts one [[WalkSteps]]-step walk; the step distribution is the
    * usual uniform-neighbor choice DERANDOMIZED into a hash argmin (the
    * weighted_sample convention — training-data generation must be
    * reproducible, and a seeded hash of (position, step) is how a
    * production walk engine shards determinstically anyway). Per step:
    * one frontier-edge join on the node key + one argmin per walker
    * (min of the (hash, nbr) struct — partial-aggregated), per-step
    * `localCheckpoint`; work per step is O(frontier-degree sum), never
    * a re-traversal. Output: (start, step, node) rows — the walk
    * corpus an embedding trainer consumes. */
  def randomWalks(spark: SparkSession, dir: String): DataFrame =
    randomWalksOn(rawEdges(spark, dir, 211L, 197L), WalkSteps)

  def randomWalksOn(edgesDf: DataFrame, steps: Int): DataFrame = Checkpoints.scope { ck =>
    // PLAIN checkpoint (round 22): the round-21 pre-partitioning never
    // captured its layout under AQE (pure upfront cost), and capturing
    // it cold-measured 0.80x — it forces SortMergeJoin where AQE
    // otherwise broadcasts the per-step frontier (see bfsDistTable)
    val e = ck.ckpt(symmetrize(edgesDf))
    var cur = ck.ckpt(e.select(col("src").as("start")).distinct()
      .select(col("start"), col("start").as("node")))
    // every step's frame feeds the final union, so the checkpoints
    // live until the result materializes (unlike bfs/sssp, whose
    // superseded rounds really are dead mid-walk)
    var out    = cur.select(col("start"), lit(0L).as("step"), col("node"))
    for (t <- 1 to steps) {
      cur = ck.ckpt(cur.join(e, col("node") === col("src"))
        .select(col("start"),
          struct(walkHash(col("node"), col("dst"), t).as("h"), col("dst").as("n")).as("hn"))
        .groupBy("start").agg(min("hn").as("hn"))
        .select(col("start"), col("hn.n").as("node")))
      out = out.union(cur.select(col("start"), lit(t.toLong).as("step"), col("node")))
    }
    ck.ckpt(out.orderBy("start", "step"))
  }

  /** return-step penalty multiplier (≈ node2vec p = 4). */
  private val N2vP = 4L

  /** outward-step penalty multiplier (≈ node2vec q = 2). */
  private val N2vQ = 2L

  /** node2vec-style SECOND-ORDER biased walks (Grover & Leskovec 2016)
    * — the walk corpus behind structural graph embeddings, where the
    * next hop depends on the PREVIOUS node: returning to it is
    * discouraged (×[[N2vP]]), staying in its neighborhood is favored
    * (×1), and leaving it costs ×[[N2vQ]]. The random draw is
    * derandomized the [[randomWalks]] way — per-candidate hash key,
    * argmin — with the key MULTIPLIED by the class weight, so the bias
    * ordering is reproducible under any partitioning and replayable in
    * plain SQL (key < 4·10⁶, no overflow on either engine; this is a
    * bias-monotone derandomization, not a sampler — the property a
    * deterministic training-data pipeline actually wants).
    *
    * Scale shape per step (the second-order delta over randomWalks):
    * one frontier-degree equi-join on the node key, PLUS one left
    * equi-join of the candidate set against the edge table on
    * (prev, candidate) — the "is the candidate in the previous node's
    * neighborhood" probe that makes the walk second-order. Both are
    * key joins over (walker × degree) rows, never a traversal; state
    * per walker is (prev, cur) — O(1). At 100 TB-graph scale the edge
    * table is the bucketed/persisted side and each step's probe reuses
    * its partitioning. */
  def node2vecWalks(spark: SparkSession, dir: String): DataFrame =
    node2vecWalksOn(rawEdges(spark, dir, 211L, 197L), WalkSteps)

  def node2vecWalksOn(edgesDf: DataFrame, steps: Int): DataFrame = Checkpoints.scope { ck =>
    // PLAIN checkpoint (round 22): the round-21 repartition(src)+sort
    // never captured its layout under AQE (pure upfront cost), and
    // capturing it cold-measured 0.70x — it forces SortMergeJoin where
    // AQE otherwise broadcasts the frontier (see bfsDistTable)
    val e = ck.ckpt(symmetrize(edgesDf))
    val starts = e.select(col("src").as("start")).distinct()
    var out = starts.select(col("start"), lit(0L).as("step"), col("start").as("node"))
    // step 1 has no previous node: uniform hash argmin (randomWalks)
    var cur = ck.ckpt(starts.select(col("start"), col("start").as("node"))
      .join(e, col("node") === col("src"))
      .select(col("start"),
        struct(walkHash(col("node"), col("dst"), 1).as("h"), col("dst").as("n")).as("hn"))
      .groupBy("start").agg(min("hn").as("hn"))
      .select(col("start"), col("start").as("prev"), col("hn.n").as("node")))
    out = out.union(cur.select(col("start"), lit(1L).as("step"), col("node")))
    for (t <- 2 to steps) {
      val cand = cur.join(e, col("node") === col("src"))
        .select(col("start"), col("prev"), col("node"), col("dst").as("x"))
      val near = e.select(col("src").as("prev"), col("dst").as("x"), lit(1).as("isn"))
      cur = ck.ckpt(cand.join(near, Seq("prev", "x"), "left")
        .withColumn("m",
          when(col("x") === col("prev"), lit(N2vP))
            .when(col("isn").isNotNull, lit(1L))
            .otherwise(lit(N2vQ)))
        .select(col("start"), col("node"),
          struct((walkHash(col("node"), col("x"), t) * col("m")).as("h"),
            col("x").as("n")).as("hn"))
        .groupBy("start")
        .agg(min("hn").as("hn"), min("node").as("prev")) // node is per-walker unique
        .select(col("start"), col("prev"), col("hn.n").as("node")))
      out = out.union(cur.select(col("start"), lit(t.toLong).as("step"), col("node")))
    }
    ck.ckpt(out.orderBy("start", "step"))
  }

  /** Probe-only node-GROWING node2vec fixture (the k_truss_grown
    * device): the replica id stride (10⁷) becomes a block index and
    * each block gets its own disjoint 211-node community, so walker
    * count — the operator's honest scale axis — grows with data
    * instead of the fixed space densifying (the served query keeps the
    * reference-parity modulus; this variant exists so the probe curve
    * measures the walk, not replica densification). */
  private[graft] def node2vecGrown(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.orders(spark, dir)
      .select(expr("o_orderkey div 10000000").as("blk"),
        (col("o_custkey") % 211L).as("a0"),
        ((col("o_orderkey") % 10000000L) % 197L).as("b0"))
      .select((col("blk") * 211L + col("a0")).as("src"),
        (col("blk") * 211L + col("b0")).as("dst"))
      .filter(col("src") =!= col("dst"))
    node2vecWalksOn(e, WalkSteps)
  }

  private val node2vecSql: String = {
    val base =
      s"""WITH e0 AS (
         |  SELECT DISTINCT (o_custkey % 211) AS src, (o_orderkey % 197) AS dst FROM orders
         |  WHERE (o_custkey % 211) <> (o_orderkey % 197)
         |), e AS (
         |  SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0
         |), w0 AS (SELECT DISTINCT src AS start, src AS node FROM e),
         |w1 AS (
         |  SELECT start, start AS prev, node FROM (
         |    SELECT w.start, e.dst AS node,
         |      row_number() OVER (PARTITION BY w.start ORDER BY
         |        ((w.node * 211 + e.dst) * 10 + 1) % 1000003 * 2654435761 % 1000003,
         |        e.dst) AS rn
         |    FROM w0 w JOIN e ON e.src = w.node
         |  ) WHERE rn = 1
         |)""".stripMargin
    val steps = (2 to WalkSteps).map { t =>
      s"""w$t AS (
         |  SELECT start, prev2 AS prev, node FROM (
         |    SELECT w.start, w.node AS prev2, e.dst AS node,
         |      row_number() OVER (PARTITION BY w.start ORDER BY
         |        (((w.node * 211 + e.dst) * 10 + $t) % 1000003 * 2654435761 % 1000003)
         |          * (CASE WHEN e.dst = w.prev THEN $N2vP
         |                  WHEN nb.src IS NOT NULL THEN 1 ELSE $N2vQ END),
         |        e.dst) AS rn
         |    FROM w${t - 1} w JOIN e ON e.src = w.node
         |    LEFT JOIN e nb ON nb.src = w.prev AND nb.dst = e.dst
         |  ) WHERE rn = 1
         |)""".stripMargin
    }.mkString(",\n")
    val unions = (s"SELECT start, CAST(0 AS BIGINT) AS step, node FROM w0" +:
      (1 to WalkSteps).map(t => s"SELECT start, CAST($t AS BIGINT) AS step, node FROM w$t"))
      .mkString(" UNION ALL ")
    s"$base,\n$steps\n$unions ORDER BY start, step"
  }

  private val walksSql: String = {
    val base =
      s"""WITH e0 AS (
         |  SELECT DISTINCT (o_custkey % 211) AS src, (o_orderkey % 197) AS dst FROM orders
         |  WHERE (o_custkey % 211) <> (o_orderkey % 197)
         |), e AS (
         |  SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0
         |), w0 AS (SELECT DISTINCT src AS start, src AS node FROM e)""".stripMargin
    val steps = (1 to WalkSteps).map { t =>
      s"""w$t AS (
         |  SELECT start, node FROM (
         |    SELECT w.start, e.dst AS node,
         |      row_number() OVER (PARTITION BY w.start ORDER BY
         |        ((w.node * 211 + e.dst) * 10 + $t) % 1000003 * 2654435761 % 1000003,
         |        e.dst) AS rn
         |    FROM w${t - 1} w JOIN e ON e.src = w.node
         |  ) WHERE rn = 1
         |)""".stripMargin
    }.mkString(",\n")
    val unions = (0 to WalkSteps)
      .map(t => s"SELECT start, CAST($t AS BIGINT) AS step, node FROM w$t")
      .mkString(" UNION ALL ")
    s"$base,\n$steps\n$unions ORDER BY start, step"
  }

  private val betweennessSql: String = {
    val base =
      s"""WITH e0 AS (
         |  SELECT DISTINCT (o_custkey % 211) AS src, (o_orderkey % 197) AS dst FROM orders
         |  WHERE (o_custkey % 211) <> (o_orderkey % 197)
         |), e AS (
         |  SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0
         |)""".stripMargin
    val perSource = BcSources.map { s =>
      val fwd = (1 to BcHops).map { h =>
        s"""f${s}_$h AS (
           |  SELECT c.node, c.sigma FROM (
           |    SELECT e.dst AS node, CAST(SUM(f.sigma) AS BIGINT) AS sigma
           |    FROM f${s}_${h - 1} f JOIN e ON e.src = f.node GROUP BY e.dst
           |  ) c WHERE c.node NOT IN (SELECT node FROM v${s}_${h - 1})
           |),
           |v${s}_$h AS (SELECT node FROM v${s}_${h - 1} UNION ALL SELECT node FROM f${s}_$h)""".stripMargin
      }.mkString(",\n")
      val bwd = (BcHops - 1 to 0 by -1).map { lvl =>
        s"""b${s}_$lvl AS (
           |  SELECT f.node, f.sigma, COALESCE(t.d, CAST(0 AS BIGINT)) AS delta
           |  FROM f${s}_$lvl f LEFT JOIN (
           |    SELECT f2.node,
           |      CAST(SUM(CAST(round(CAST(f2.sigma AS DOUBLE) / w.sigma
           |        * (1000000000 + w.delta)) AS BIGINT)) AS BIGINT) AS d
           |    FROM f${s}_$lvl f2 JOIN e ON e.src = f2.node
           |    JOIN b${s}_${lvl + 1} w ON w.node = e.dst
           |    GROUP BY f2.node
           |  ) t ON t.node = f.node
           |)""".stripMargin
      }.mkString(",\n")
      s"""f${s}_0 AS (SELECT CAST($s AS BIGINT) AS node, CAST(1 AS BIGINT) AS sigma),
         |v${s}_0 AS (SELECT node FROM f${s}_0),
         |$fwd,
         |b${s}_$BcHops AS (SELECT node, sigma, CAST(0 AS BIGINT) AS delta FROM f${s}_$BcHops),
         |$bwd""".stripMargin
    }.mkString(",\n")
    val unions = BcSources.flatMap { s =>
      (0 to BcHops).map(lvl =>
        s"SELECT node, delta FROM b${s}_$lvl WHERE node <> $s")
    }.mkString(" UNION ALL ")
    s"""$base,
       |$perSource
       |SELECT node, CAST(SUM(delta) AS BIGINT) AS bc_nanos FROM (
       |  $unions
       |) GROUP BY node ORDER BY bc_nanos DESC, node""".stripMargin
  }

  /** Weighted single-source shortest paths (Bellman-Ford, ≤ [[BfsIters]]
    * relaxation rounds) over the undirected BFS graph with deterministic
    * integer edge weights 1..9 (a symmetric function of the endpoints,
    * so both directions of an undirected edge agree). Semantics: minimum
    * path cost over paths of at most `iters` EDGES — the hop-bounded
    * Bellman-Ford invariant, which is exactly what t chained relaxation
    * CTEs compute, so the oracle mirrors the result definition rather
    * than the algorithm. */
  def ssspWeighted(spark: SparkSession, dir: String): DataFrame = {
    val eu = symmetrize(rawEdges(spark, dir, 211L, 197L))
    val e = eu.select(col("src"), col("dst"),
      (lit(1L) + (least(col("src"), col("dst")) * 31L + greatest(col("src"), col("dst"))) % 9L)
        .as("w"))
    ssspOn(e, BfsSource, BfsIters)
  }

  /** Delta-relaxation Bellman-Ford — the Pregel shape (the weighted
    * generalization of [[bfsDistancesOn]]): each round relaxes ONLY the
    * edges of nodes whose distance improved last round, which is
    * result-equivalent to the synchronous full relaxation (an unimproved
    * node re-offers exactly the offers already applied) but touches each
    * edge once per improvement instead of once per round. Edges shuffle
    * on src every round with an unchanged key, so at cluster scale the
    * hash partitioning is reused. Each round references `dist` three
    * times and `improved` three times, so the unrolled logical plan
    * grows ~9× per round; `.cache()` dedupes execution but NOT Catalyst
    * analysis — that exact shape cost 58 s of driver time on a 211-node
    * graph (round-12 verdict #2). Per-round eager `localCheckpoint`
    * truncates the plan to O(1) per round (`Dedup.clusterLabels`
    * convention) and its materialization makes the empty-frontier early
    * exit free. Expects an e(src, dst, w) table with BOTH directions of
    * each undirected edge present. */
  def ssspOn(edgesDf: DataFrame, source: Long, iters: Int): DataFrame = Checkpoints.scope { ck =>
    // Round 21 pre-partitioned+sorted this checkpoint on src (guide
    // §2.4) to make the per-round frontier joins exchange-free; the
    // driver's cold bench measured it 0.72× (VERDICT r21 #3): the
    // upfront full shuffle+sort+materialization is paid once per run,
    // while delta-relaxation converges in few rounds AND the per-round
    // frontier is tiny (AQE broadcasts it), so the avoided edge-side
    // exchanges never materialize anyway. Round 22: plain checkpoint.
    val e = ck.ckpt(edgesDf.select(col("src"), col("dst"), col("w")))
    val spark = edgesDf.sparkSession
    import spark.implicits._
    var dist     = ck.ckpt(Seq((source, 0L)).toDF("node", "dist"))
    var frontier = dist
    // the checkpoint HANDLE behind `frontier` (frontier itself is a
    // rename view from round 1 on, which free can't reach)
    var frontierCkpt = dist
    var round = 1
    while (round <= iters && !frontier.isEmpty) {
      // best offer per neighbor from the improved set (partial-aggregated
      // min, so ≤1 row per (partition, node) reaches the shuffle)
      val offers = frontier.join(e, col("node") === col("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("d"))
        .groupBy("node").agg(min(col("d")).as("d"))
      val improved = ck.ckpt(offers.join(dist.withColumnRenamed("dist", "old"), Seq("node"), "left")
        .filter(col("old").isNull || col("d") < col("old"))
        .select(col("node"), col("d")))
      val updated = dist.join(improved.withColumnRenamed("d", "nd"), Seq("node"), "left")
        .select(col("node"), coalesce(col("nd"), col("dist")).as("dist"))
      val added = improved.join(dist, Seq("node"), "left_anti")
        .select(col("node"), col("d").as("dist"))
      val prevDist         = dist
      val prevFrontierCkpt = frontierCkpt
      dist = ck.ckpt(updated.union(added))
      frontier = improved.withColumnRenamed("d", "dist")
      frontierCkpt = improved
      // the new dist and improved are materialized; the superseded
      // node tables' blocks are dead (round 1 aliases both, free once)
      if (prevFrontierCkpt ne prevDist) ck.free(prevFrontierCkpt)
      ck.free(prevDist)
      round += 1
    }
    dist.orderBy("node")
  }

  private val ssspSql: String = {
    val base =
      s"""WITH e0 AS (
         |  SELECT DISTINCT (o_custkey % 211) AS src, (o_orderkey % 197) AS dst FROM orders
         |  WHERE (o_custkey % 211) <> (o_orderkey % 197)
         |), eu AS (
         |  SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0
         |), e AS (
         |  SELECT src, dst, 1 + (LEAST(src, dst) * 31 + GREATEST(src, dst)) % 9 AS w FROM eu
         |), d0 AS (SELECT CAST($BfsSource AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist)""".stripMargin
    val steps = (1 to BfsIters).map { i =>
      val prev = s"d${i - 1}"
      s"""d$i AS (SELECT node, min(dist) AS dist FROM (
         |  SELECT node, dist FROM $prev
         |  UNION ALL SELECT e.dst AS node, $prev.dist + e.w FROM $prev JOIN e ON $prev.node = e.src)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$steps\nSELECT node, dist FROM d$BfsIters ORDER BY node"
  }

  private val LpaIters = 3

  /** Synchronous label-propagation community detection (Raghavan et al.
    * 2007), [[LpaIters]] rounds over the sparse triangle graph —
    * the standard cheap community pass (e.g. grouping near-duplicate
    * clusters or link-farm detection in a crawl). Deterministic variant:
    * every node simultaneously adopts the most frequent label among its
    * neighbors, ties broken by SMALLEST label — asynchronous/randomized
    * LPA is irreproducible by construction, so the oracle could never
    * gate it. Labels start as node ids.
    *
    * Output: node, final community label, and that community's size. */
  def lpaCommunities(spark: SparkSession, dir: String): DataFrame =
    lpaCommunitiesOn(rawEdges(spark, dir, TriMod.toLong, TriMod.toLong), LpaIters)

  /** LPA over an arbitrary directed edge list (symmetrized and
    * de-duplicated here) — split out so specs can drive it with a
    * hand-checkable graph.
    *
    * Scale shape per round: labels ⋈ edges on the node key (the SAME
    * key every round, so at cluster scale the hash partitioning is
    * reused), then a two-level aggregate — count per (node, label) with
    * map-side partial agg, then one lexicographic max(struct(count,
    * −label)) per node, which IS the deterministic argmax (highest
    * count, then lowest label) in a single shuffle with partial
    * aggregation. Only (long, long[, long]) tuples ever ship.
    *
    * Round-21 re-shape (opt guide §1.2/§2.4): the rounds form a
    * SINGLE-CONSUMER chain (labels_t feeds only round t+1), so they
    * stay LAZY and the whole fixed-round chain materializes in ONE job
    * at the final checkpoint — the plan is O(iters) nodes analyzed
    * once, nothing re-evaluates. The edge table checkpoints
    * PRE-PARTITIONED AND SORTED on src (the propagation join key), so
    * every round's join plans exchange/sort-free on the edge arm. */
  def lpaCommunitiesOn(edgesDf: DataFrame, iters: Int): DataFrame = {
    val labels = lpaLabelsOn(symmetrize(edgesDf), iters)
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("community_size"))
    labels.join(sizes, "label")
      .select(col("node"), col("label").as("community"), col("community_size"))
      .orderBy("node")
  }

  /** Label-propagation core over ALREADY-symmetrized edges. Returns the
    * final (node, label) table as a DIRECT checkpoint handle, which
    * passes to the caller's scope. */
  private[graft] def lpaLabelsOn(sym: DataFrame, iters: Int): DataFrame = Checkpoints.scope { ck =>
    // PLAIN checkpoint (round 22): the round-21 pre-partitioning never
    // captured its layout under AQE (pure upfront cost), and capturing
    // it cold-measured 0.76x — it forces SortMergeJoin where AQE
    // otherwise broadcasts the node-sized label table (see bfsDistTable)
    val e = ck.ckpt(sym)
    val adj = e.select(col("src").as("node"), col("dst"))
    var labels: DataFrame = e.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (_ <- 1 to iters) {
      labels = adj.join(labels, "node")
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst").as("node"))
        .agg(max(struct(col("cnt").as("c"), (-col("label")).as("nl"))).as("m"))
        .select(col("node"), (-col("m").getField("nl")).as("label"))
    }
    ck.ckpt(labels) // one job runs the whole round chain
  }

  /** Oracle mirrors the argmax RESULT, not the struct-max mechanism:
    * per round, keep the labels attaining the per-node max count, then
    * take the smallest — provably the same label the lexicographic
    * struct max selects. */
  /** lpa_communities' CTE chain through l{LpaIters} — shared by the
    * graph_modularity oracle, which scores the same labels. */
  private val lpaChainCtes: String = {
    val base =
      s"""WITH raw AS (
         |  SELECT (o_custkey % $TriMod) AS src, (o_orderkey % $TriMod) AS dst FROM orders
         |  WHERE (o_custkey % $TriMod) <> (o_orderkey % $TriMod)
         |), e AS (
         |  SELECT src, dst FROM raw UNION SELECT dst, src FROM raw
         |), l0 AS (SELECT DISTINCT src AS node, src AS label FROM e)""".stripMargin
    val steps = (1 to LpaIters).map { i =>
      val prev = s"l${i - 1}"
      s"""c$i AS (
         |  SELECT e.dst AS node, p.label, count(*) AS cnt
         |  FROM e JOIN $prev p ON e.src = p.node GROUP BY e.dst, p.label
         |), l$i AS (
         |  SELECT c.node, min(c.label) AS label
         |  FROM c$i c JOIN (SELECT node, max(cnt) AS mc FROM c$i GROUP BY node) m
         |    ON c.node = m.node AND c.cnt = m.mc
         |  GROUP BY c.node)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$steps"""
  }

  private val lpaSql: String =
    s"""$lpaChainCtes
       |SELECT l.node, l.label AS community, CAST(s.sz AS BIGINT) AS community_size
       |FROM l$LpaIters l JOIN (SELECT label, count(*) AS sz FROM l$LpaIters GROUP BY label) s
       |  USING (label)
       |ORDER BY l.node""".stripMargin

  def graphModularity(spark: SparkSession, dir: String): DataFrame =
    modularityOn(rawEdges(spark, dir, TriMod.toLong, TriMod.toLong), LpaIters)

  /** Newman modularity of the LPA partition — the SCORE for
    * [[lpaCommunities]]' output (communities without a quality number
    * are unfalsifiable; every community-detection pipeline reports Q):
    * Q = Σ_c [e_c/m − (d_c/2m)²] over the undirected simple graph,
    * where e_c = intra-community edges, d_c = community degree sum,
    * m = total edges. Exactness: the whole sum collapses to ONE
    * rational — Q = Σ_c (4·m·e_c − d_c²) / 4m² — of exact integer
    * aggregates, emitted as integral micros via DECIMAL(38)/HUGEINT
    * with sign-after-abs (Q CAN be negative for adversarial
    * partitions). Coverage Σe_c/m ships the same way. Scale shape:
    * labels are the LPA walk's own (checkpointed) output; the two
    * scoring joins attach labels to the canonical edge list by node id
    * — label tables are node-sized, edges shuffle once per endpoint —
    * and everything after is O(communities) cells. */
  private[graft] def modularityOn(
      edgesDf: DataFrame, iters: Int): DataFrame = Checkpoints.scope { ck =>
    val sym = ck.ckpt(symmetrize(edgesDf))
    // direct checkpoint handle, freed when this scope ends
    val labels = lpaLabelsOn(sym, iters)
    val und = sym.filter(col("src") < col("dst"))
    val deg = sym.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
    val mRow = und.agg(count(lit(1)).as("m"))
    val ic = und
      .join(labels.withColumnRenamed("node", "src"), "src")
      .join(labels.select(col("node").as("dst"), col("label").as("lb")), "dst")
      .filter(col("label") === col("lb"))
      .groupBy("label").agg(count(lit(1)).as("ec"))
    val dc = labels.join(deg, "node")
      .groupBy("label").agg(sum("d").as("dsum"))
    val cells = dc.join(ic, Seq("label"), "left")
      .select(col("label"), coalesce(col("ec"), lit(0L)).as("ec"), col("dsum"))
    // the result is ONE row; materialize it so the node-sized label
    // and edge checkpoints free with this scope instead of riding its
    // lineage (probe-caught: 736 MB retained heap at 32× without this)
    ck.ckpt(cells.crossJoin(broadcast(mRow))
      .agg(
        count(lit(1)).as("n_communities"), max("m").as("m"),
        sum(expr("CAST(4 AS DECIMAL(38,0)) * m * ec - CAST(dsum AS DECIMAL(38,0)) * dsum"))
          .as("num"),
        sum("ec").as("ec_tot"))
      .select(
        col("n_communities"), col("m"),
        expr("""CAST(CASE WHEN num < 0 THEN -1 ELSE 1 END *
               |  ((abs(num) * 1000000) div (CAST(4 AS DECIMAL(38,0)) * m * m))
               |  AS BIGINT)""".stripMargin).as("q_micros"),
        expr("CAST((CAST(ec_tot AS DECIMAL(38,0)) * 1000000) div m AS BIGINT)")
          .as("coverage_micros")))
  }

  private val modularitySql: String =
    s"""$lpaChainCtes,
       |und AS (SELECT src, dst FROM e WHERE src < dst),
       |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
       |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY src),
       |lab AS (SELECT node, label FROM l$LpaIters),
       |ic AS (
       |  SELECT la.label, CAST(count(*) AS BIGINT) AS ec
       |  FROM und JOIN lab la ON la.node = und.src
       |           JOIN lab lb ON lb.node = und.dst AND lb.label = la.label
       |  GROUP BY la.label
       |), dc AS (
       |  SELECT la.label, CAST(sum(d.d) AS BIGINT) AS dsum
       |  FROM lab la JOIN deg d ON d.node = la.node GROUP BY la.label
       |), cells AS (
       |  SELECT dc.label, coalesce(ic.ec, 0) AS ec, dc.dsum
       |  FROM dc LEFT JOIN ic ON ic.label = dc.label
       |), s AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_communities, max(mm.m) AS m,
       |         CAST(sum(CAST(4 AS HUGEINT) * mm.m * ec
       |                   - CAST(dsum AS HUGEINT) * dsum) AS HUGEINT) AS num,
       |         CAST(sum(ec) AS BIGINT) AS ec_tot
       |  FROM cells CROSS JOIN mm
       |)
       |SELECT n_communities, m,
       |       CAST(CASE WHEN num < 0 THEN -1 ELSE 1 END *
       |            ((abs(num) * 1000000) // (CAST(4 AS HUGEINT) * m * m)) AS BIGINT)
       |         AS q_micros,
       |       CAST((CAST(ec_tot AS HUGEINT) * 1000000) // m AS BIGINT) AS coverage_micros
       |FROM s""".stripMargin

  /** orders subsample for the MST graph: the full mod-graph has ~11k
    * distinct edges at sf0.01, which the oracle's one-edge-per-step
    * Kruskal replay cannot afford; every 16th order keeps ~900 edges
    * over ~370 nodes — several components, so the FOREST semantics are
    * exercised too. */
  private val MstMod = 16

  /** Minimum spanning forest via distributed Borůvka (the classic
    * parallel MST — Borůvka 1926 is the textbook distributed choice
    * precisely because every component acts simultaneously, unlike
    * Kruskal/Prim's sequential greedy): each round every component
    * selects its minimum outgoing edge under the TOTAL order (w, u, v)
    * — weight ties broken by endpoints, which makes the forest UNIQUE
    * and therefore oracle-gateable — then components linked by chosen
    * edges contract to one label. Deterministic integer weights 1..9,
    * the [[ssspWeighted]] convention.
    *
    * Scale shape per round: edge⋈label equi-joins (node key, reused
    * partitioning), one min-struct partial aggregate per component for
    * the edge election, and the contraction runs min-label propagation
    * on the COMPONENT graph — one row per component, never per node or
    * edge; rounds are O(log n) because components at least halve.
    * Per-round `localCheckpoint` + inline `Scope.free` of every
    * superseded table (the [[ssspOn]] discipline).
    *
    * The oracle replays Kruskal exactly (same total order, same unique
    * forest) as a one-edge-per-step recursive CTE — result-definition
    * mirroring, not algorithm mirroring: Borůvka and Kruskal provably
    * agree on the unique MSF under a total edge order. */
  def mstForest(spark: SparkSession, dir: String): DataFrame =
    mstForestOn(Tables.orders(spark, dir)
      .filter(col("o_orderkey") % MstMod === 0)
      .select((col("o_custkey") % 211L).as("src"), (col("o_orderkey") % 197L).as("dst"))
      .filter(col("src") =!= col("dst")))

  private[graft] def mstForestOn(edgesDf: DataFrame): DataFrame = Checkpoints.scope { ck =>
    val sym = symmetrize(edgesDf)
    val und = ck.ckpt(sym.filter(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("v"))
      .withColumn("w", lit(1L) + (col("u") * 31L + col("v")) % 9L))
    var comp = ck.ckpt(sym.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label")))
    var forest: DataFrame = null
    var round = 1
    val maxRounds = 16 // components at least halve per round; 2^16 ≫ any fixture
    var done = false
    while (round <= maxRounds && !done) {
      val lab = ck.ckpt(und
        .join(comp.select(col("node").as("u"), col("label").as("cu")), "u")
        .join(comp.select(col("node").as("v"), col("label").as("cv")), "v")
        .filter(col("cu") =!= col("cv")))
      if (lab.isEmpty) { done = true; ck.free(lab) }
      else {
        // every component elects its min outgoing edge (total order)
        val cand = lab.select(col("cu").as("c"),
            struct(col("w"), col("u"), col("v")).as("k"))
          .union(lab.select(col("cv").as("c"),
            struct(col("w"), col("u"), col("v")).as("k")))
        val chosen = ck.ckpt(cand.groupBy("c").agg(min("k").as("k"))
          .select(col("k.u").as("u"), col("k.v").as("v"), col("k.w").as("w"))
          .distinct())
        // the forest accumulates LAZILY (round-21, opt guide §1.2): it
        // is only consumed by the final sort, so the ≤rounds-deep
        // union+distinct chain over the per-round `chosen` checkpoints
        // materializes once at the end — the chosen handles stay alive
        // for that (component-sized, ≤1 edge per component)
        val newForest = if (forest == null) chosen else forest.union(chosen)
        // contraction: min-label propagation on the component graph
        // (≤ one row per component) until fixpoint — exact merge, so
        // a stale label can never re-elect a cycle-closing edge
        val pb = chosen.join(lab, Seq("u", "v", "w"))
        val pairs = ck.ckpt(pb.select(col("cu").as("a"), col("cv").as("b"))
          .union(pb.select(col("cv").as("a"), col("cu").as("b")))
          .distinct())
        var lmH = ck.ckpt(comp.select(col("label")).distinct()
          .select(col("label"), col("label").as("ml")))
        var lm = lmH // (label, ml) view over the current direct handle
        var changed = true
        while (changed) {
          // change detection rides the checkpoint itself (old ml kept
          // as a column) — one barrier per iteration instead of a
          // checkpoint job PLUS a join-shuffle emptiness job
          val nb = pairs.join(lm.select(col("label").as("b"), col("ml").as("mlb")), "b")
            .groupBy(col("a").as("label")).agg(min("mlb").as("nbml"))
          val next = ck.ckpt(lm.join(nb, Seq("label"), "left")
            .select(col("label"), col("ml").as("old"),
              least(col("ml"), coalesce(col("nbml"), col("ml"))).as("ml")))
          changed = !next.filter(col("ml") =!= col("old")).isEmpty
          ck.free(lmH)
          lmH = next
          lm = next.select(col("label"), col("ml"))
        }
        val newComp = ck.ckpt(comp.join(lm, "label")
          .select(col("node"), col("ml").as("label")))
        ck.free(lmH)
        ck.free(pairs)
        ck.free(lab)
        ck.free(comp)
        forest = newForest
        comp = newComp
      }
      round += 1
    }
    if (forest == null) und.limit(0).select("u", "v", "w")
    else ck.ckpt(forest.distinct().select("u", "v", "w").orderBy("w", "u", "v"))
  }

  private val mstSql: String =
    s"""WITH RECURSIVE raw AS (
       |  SELECT (o_custkey % 211) AS src, (o_orderkey % 197) AS dst FROM orders
       |  WHERE (o_custkey % 211) <> (o_orderkey % 197)
       |    AND o_orderkey % $MstMod = 0
       |), e AS (SELECT src, dst FROM raw UNION SELECT dst, src FROM raw),
       |ranked AS MATERIALIZED (
       |  SELECT u, v, w, row_number() OVER (ORDER BY w, u, v) AS r FROM (
       |    SELECT u, v, 1 + (u * 31 + v) % 9 AS w FROM (
       |      SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM e))
       |), ne AS MATERIALIZED (SELECT count(*) AS n FROM ranked),
       |kr AS (
       |  SELECT 0 AS step, src AS node, src AS label FROM (SELECT DISTINCT src FROM e)
       |  UNION ALL
       |  SELECT step + 1, node,
       |         CASE WHEN lu <> lv AND label = lv THEN lu ELSE label END AS label
       |  FROM (
       |    SELECT k.step, k.node, k.label,
       |           max(CASE WHEN k.node = e2.u THEN k.label END) OVER () AS lu,
       |           max(CASE WHEN k.node = e2.v THEN k.label END) OVER () AS lv
       |    FROM kr k JOIN ranked e2 ON e2.r = k.step + 1
       |  ) WHERE step < (SELECT n FROM ne)
       |)
       |SELECT CAST(e3.u AS BIGINT) AS u, CAST(e3.v AS BIGINT) AS v,
       |       CAST(e3.w AS BIGINT) AS w
       |FROM ranked e3
       |JOIN kr ku ON ku.step = e3.r - 1 AND ku.node = e3.u
       |JOIN kr kv ON kv.step = e3.r - 1 AND kv.node = e3.v
       |WHERE ku.label <> kv.label
       |ORDER BY w, u, v""".stripMargin

  /** One synchronous Louvain move sweep (Blondel et al. 2008, phase-1
    * step) refining the [[lpaCommunities]] partition: every node
    * simultaneously evaluates moving to each NEIGHBOR community and
    * reports the best strictly-positive modularity gain, all gains
    * evaluated against the fixed starting partition (the deterministic
    * synchronous variant — sequential Louvain's visit-order dependence
    * is irreproducible, the `lpa_communities` argument again).
    *
    * Exactness: ΔQ for moving i from D to C scales by 2m² to the
    * INTEGER g = 2m·(k_i→C − k_i→D) − k_i·(Σtot(C) − Σtot(D) + k_i);
    * composites ride DECIMAL(38,0)/HUGEINT, no floats anywhere
    * (barbell hand-proof pinned in GraphSpec). Argmax is
    * max(struct(g, −C)) — highest gain, then lowest target label.
    *
    * Scale shape: Σtot is community-sized, k_i→C is one partial-agg
    * count over the edge⋈label join (≤ |E| rows of three longs), and
    * every join is an equi-join on node or label — the same key
    * pattern as each LPA round, nothing quadratic. Output: the moved
    * nodes (node, old/new label, scaled gain). */
  def louvainMove(spark: SparkSession, dir: String): DataFrame =
    louvainMoveOn(rawEdges(spark, dir, TriMod.toLong, TriMod.toLong), LpaIters)

  private[graft] def louvainMoveOn(
      edgesDf: DataFrame, iters: Int): DataFrame = Checkpoints.scope { ck =>
    val sym = ck.ckpt(symmetrize(edgesDf))
    val labels = lpaLabelsOn(sym, iters) // direct handle, freed with this scope
    val deg = sym.groupBy(col("src").as("node")).agg(count(lit(1)).as("ki"))
    val mT = sym.filter(col("src") < col("dst")).agg(count(lit(1)).as("m"))
    val sig = labels.join(deg, "node")
      .groupBy("label").agg(sum("ki").as("sigma"))
    val kic = sym
      .join(labels.select(col("node").as("dst"), col("label").as("c")), "dst")
      .groupBy(col("src").as("node"), col("c")).agg(count(lit(1)).as("kic"))
    val self = labels.select(col("node"), col("label").as("d"))
    val kid = kic.join(self, Seq("node")).filter(col("c") === col("d"))
      .select(col("node"), col("kic").as("kid"))
    val base = self.join(deg, "node")
      .join(sig.select(col("label").as("d"), col("sigma").as("sigd")), "d")
      .join(kid, Seq("node"), "left").na.fill(0L, Seq("kid"))
    ck.ckpt(kic.join(base, "node").filter(col("c") =!= col("d"))
      .join(sig.select(col("label").as("c"), col("sigma").as("sigc")), "c")
      .crossJoin(broadcast(mT))
      .withColumn("g",
        expr("""CAST(2 AS DECIMAL(38,0)) * m * (kic - kid)
               |  - CAST(ki AS DECIMAL(38,0)) * (sigc - sigd + ki)""".stripMargin))
      .groupBy("node", "d")
      .agg(max(struct(col("g").as("g"), (-col("c")).as("nc"))).as("b"))
      .filter(col("b.g") > 0)
      .select(col("node"), col("d").as("old_label"),
        (-col("b.nc")).as("new_label"), col("b.g").cast("long").as("gain_x2m2"))
      .orderBy("node"))
  }

  private val louvainSql: String =
    s"""$lpaChainCtes,
       |und AS (SELECT src, dst FROM e WHERE src < dst),
       |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
       |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS ki FROM e GROUP BY src),
       |lab AS (SELECT node, label FROM l$LpaIters),
       |sig AS (
       |  SELECT la.label, CAST(sum(d.ki) AS BIGINT) AS sigma
       |  FROM lab la JOIN deg d ON d.node = la.node GROUP BY la.label
       |), kic AS (
       |  SELECT e.src AS node, lb.label AS c, CAST(count(*) AS BIGINT) AS kic
       |  FROM e JOIN lab lb ON lb.node = e.dst GROUP BY 1, 2
       |), base AS (
       |  SELECT la.node, la.label AS d, deg.ki, sd.sigma AS sigd,
       |         coalesce(k2.kic, 0) AS kid
       |  FROM lab la JOIN deg ON deg.node = la.node
       |  JOIN sig sd ON sd.label = la.label
       |  LEFT JOIN kic k2 ON k2.node = la.node AND k2.c = la.label
       |), cand AS (
       |  SELECT b.node, b.d, k.c,
       |         CAST(2 AS HUGEINT) * mm.m * (k.kic - b.kid)
       |           - CAST(b.ki AS HUGEINT) * (sc.sigma - b.sigd + b.ki) AS g
       |  FROM kic k JOIN base b ON b.node = k.node AND k.c <> b.d
       |  JOIN sig sc ON sc.label = k.c CROSS JOIN mm
       |)
       |SELECT node, d AS old_label, c AS new_label, CAST(g AS BIGINT) AS gain_x2m2
       |FROM cand
       |QUALIFY row_number() OVER (PARTITION BY node ORDER BY g DESC, c) = 1 AND g > 0
       |ORDER BY node""".stripMargin

  // k = 2 (the cycle core): on the sparse mod-prime fixture graph the
  // peel genuinely bites at sf0.001 (three shrinking rounds, 62-node
  // core) while larger SFs densify and converge on the first check —
  // both regimes exercised; k = 3 peeling is pinned in GraphSpec.
  private val KcoreK      = 2
  private val KcoreRounds = 4

  /** k-core decomposition (bounded peel, k = [[KcoreK]], ≤
    * [[KcoreRounds]] rounds): repeatedly delete every node of degree
    * < k together with its incident edges — the standard dense-subgraph
    * extraction (spam/link-farm cores in a crawl graph, the complement
    * of the LPA community pass). Semantics are EXACTLY `rounds` peel
    * iterations — the hop-bound convention of [[bfsDistances]] — which
    * equals the true k-core whenever peeling converges within the
    * bound; the oracle replays the identical rounds as chained CTEs.
    * Output: surviving nodes with their degree in the surviving
    * subgraph. */
  def kcoreDecompose(spark: SparkSession, dir: String): DataFrame =
    kcoreOn(rawEdges(spark, dir, TriMod.toLong, TriMod.toLong), KcoreK, KcoreRounds)

  /** Bounded k-core peel over an arbitrary directed edge list
    * (symmetrized here) — split out so specs can drive it with a
    * hand-checkable graph.
    *
    * Scale shape per round: one partial-aggregated degree count, a
    * tiny deleted-node table, and two anti joins that rewrite the edge
    * table — the same edge-table-rewriting round every distributed
    * k-core runs; the edge table only ever shrinks. Per-round eager
    * `localCheckpoint` keeps the logical plan O(1) per round (the
    * [[ssspOn]] convention) and makes the convergence early-exit free. */
  def kcoreOn(edgesDf: DataFrame, k: Int, rounds: Int): DataFrame = Checkpoints.scope { ck =>
    var e = ck.ckpt(symmetrize(edgesDf))
    var round = 1
    var converged = false
    while (round <= rounds && !converged) {
      val bad = ck.ckpt(e.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") < k)
        .select(col("src")))
      if (bad.isEmpty) converged = true
      else {
        val prev = e
        e = ck.ckpt(e.join(bad, Seq("src"), "left_anti")
          .join(bad.withColumnRenamed("src", "dst"), Seq("dst"), "left_anti")
          .select(col("src"), col("dst")))
        // the rewritten edge table is materialized; the superseded
        // (edge-sized!) round and its deleted-node table are dead
        ck.free(prev)
      }
      ck.free(bad)
      round += 1
    }
    e.groupBy("src").agg(count(lit(1)).as("core_deg"))
      .select(col("src").as("node"), col("core_deg"))
      .orderBy("node")
  }

  private val kcoreSql: String = {
    val base =
      s"""WITH raw AS (
         |  SELECT (o_custkey % $TriMod) AS src, (o_orderkey % $TriMod) AS dst FROM orders
         |  WHERE (o_custkey % $TriMod) <> (o_orderkey % $TriMod)
         |), e0 AS (
         |  SELECT src, dst FROM raw UNION SELECT dst, src FROM raw
         |)""".stripMargin
    val steps = (1 to KcoreRounds).map { i =>
      val prev = s"e${i - 1}"
      s"""b$i AS (
         |  SELECT src AS node FROM $prev GROUP BY src HAVING count(*) < $KcoreK
         |), e$i AS (
         |  SELECT src, dst FROM $prev
         |  WHERE src NOT IN (SELECT node FROM b$i) AND dst NOT IN (SELECT node FROM b$i)
         |)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$steps
       |SELECT src AS node, CAST(count(*) AS BIGINT) AS core_deg
       |FROM e$KcoreRounds GROUP BY src ORDER BY node""".stripMargin
  }

  // Convergence measured on the fixture graphs: 8 rounds at sf0.01, 9
  // at sf0.1 — 12 leaves margin. (The sparser sf0.001 chain tendrils
  // need 26; below the bound the result is still exact ROUND-REPLAY
  // parity with the oracle, just not yet the fixpoint — the
  // bfs/sssp/kcore hop-bound convention.)
  private val CorenessIters = 12

  /** Full coreness decomposition — every node's core NUMBER, the
    * general form of [[kcoreDecompose]]'s fixed-k membership test
    * (round-13 verdict next-round #5). Algorithm: iterated neighbor
    * h-index (Lü et al. 2016, "The H-index of a network node"):
    * c₀(v) = deg(v), cₜ₊₁(v) = H({cₜ(u) : u ∈ N(v)}), which decreases
    * monotonically to exactly coreness(v). Chosen over the textbook
    * peel because its round count is the graph's "coreness radius"
    * (≤ 10 on the fixture graphs), not Σ_k (peel rounds at level k) —
    * a per-level peel needs one round per layer of every pendant chain
    * (measured 53 rounds at sf0.01), which neither a bounded chained-CTE
    * oracle nor a flat bench profile survives.
    *
    * Scale shape per round: one (src-keyed) join of the edge table
    * against the current labels — the same reused hash partitioning as
    * every other walk — then the h-index via CELLS-BEFORE-WINDOWS: per
    * (node, value) counts first (map-side partial agg), a per-node
    * running sum over ≤ distinct-value rows (bounded by max degree,
    * never corpus-sized), and H = max(min(value, cum)). Labels
    * `localCheckpoint` per round ([[ssspOn]] convention). */
  def coreness(spark: SparkSession, dir: String): DataFrame =
    corenessOn(rawEdges(spark, dir, TriMod.toLong, TriMod.toLong), CorenessIters)

  /** Bounded h-index coreness over an arbitrary directed edge list
    * (symmetrized here) — split out so specs can drive it with a
    * hand-checkable graph. `iters = 0` returns plain degrees. */
  def corenessOn(edgesDf: DataFrame, iters: Int): DataFrame = Checkpoints.scope { ck =>
    // Round-21 re-shape (opt guide §2.4/§1.2). (a — REVISED round 22)
    // The edge table checkpoints plain: see the comment at the
    // checkpoint below. (b) The h-index rounds are a SINGLE-CONSUMER
    // chain (c_t feeds only c_{t+1}), so rounds run LAZY in BLOCKS of
    // [[CorenessLazyBlock]] between checkpoints — one barrier per block
    // instead of per round. Fully-lazy-to-the-end measured SLOWER
    // (8.1 s vs 5.7 s at sf0.1): AQE re-optimizes the remaining plan
    // after every materialized stage, so a 12-round single-job chain
    // pays a replan quadratic in depth; short blocks keep the replan
    // cost flat while still cutting 12 barrier jobs to 3. Storage
    // hygiene: superseded block checkpoints freed inline as before.
    // PLAIN checkpoint (round 22): the round-21 repartition(dst)+sort
    // never captured its layout under AQE (pure upfront cost), and
    // capturing it cold-measured 0.79x — it forces SortMergeJoin where
    // AQE otherwise broadcasts the node-sized degree table
    val e = ck.ckpt(symmetrize(edgesDf))
    val adj = e.select(col("dst").as("node"), col("src").as("v"))
    var c: DataFrame = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("c"))
    var cH: DataFrame = null // direct handle of the last block checkpoint
    for (r <- 1 to iters) {
      val nb = adj.join(c, "node")
        .select(col("v"), col("c").as("nc"))
      val cells = nb.groupBy("v", "nc").agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("v").orderBy(desc("nc"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      c = cells
        .withColumn("cum", sum("cnt").over(w))
        .groupBy(col("v").as("node"))
        .agg(max(least(col("nc"), col("cum"))).as("c"))
      if (r % CorenessLazyBlock == 0 || r == iters) {
        val prev = cH
        cH = ck.ckpt(c)
        c = cH
        if (prev != null) ck.free(prev)
      }
    }
    c.select(col("node"), col("c").as("coreness")).orderBy("node")
  }

  /** h-index rounds evaluated lazily between [[corenessOn]] checkpoints
    * (see the replan-cost note there). */
  private val CorenessLazyBlock = 4

  /** Oracle replays the identical rounds; the per-round window runs
    * over (node, value, count) cells with distinct values per
    * partition, so DuckDB's RANGE default frame equals Spark's
    * explicit ROWS frame. */
  private val corenessSql: String = {
    val base =
      s"""WITH raw AS (
         |  SELECT (o_custkey % $TriMod) AS src, (o_orderkey % $TriMod) AS dst FROM orders
         |  WHERE (o_custkey % $TriMod) <> (o_orderkey % $TriMod)
         |), e AS (
         |  SELECT src, dst FROM raw UNION SELECT dst, src FROM raw
         |), c0 AS (SELECT src AS node, count(*) AS c FROM e GROUP BY src)""".stripMargin
    val steps = (1 to CorenessIters).map { i =>
      val prev = s"c${i - 1}"
      s"""c$i AS (
         |  SELECT v AS node, max(LEAST(nc, cum)) AS c FROM (
         |    SELECT v, nc, sum(cnt) OVER (PARTITION BY v ORDER BY nc DESC) AS cum FROM (
         |      SELECT e.src AS v, p.c AS nc, count(*) AS cnt
         |      FROM e JOIN $prev p ON e.dst = p.node GROUP BY e.src, p.c))
         |  GROUP BY v)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$steps
       |SELECT node, CAST(c AS BIGINT) AS coreness
       |FROM c$CorenessIters ORDER BY node""".stripMargin
  }

  private val HitsIters = 2

  def hitsScores(spark: SparkSession, dir: String): DataFrame =
    hitsOn(edges(spark, dir), HitsIters)

  /** HITS hubs & authorities (Kleinberg 1999) over the directed graph —
    * the asymmetric complement to [[pageRank]]: a node is a good HUB if
    * it points at good authorities and a good AUTHORITY if good hubs
    * point at it (directories vs. content — the distinction a crawler
    * uses to rank seed lists vs. fetch targets). [[HitsIters]] unrolled
    * rounds of the alternating update a ← Σ_in h, h ← Σ_out a.
    *
    * Determinism contract: the textbook L2 normalization is a sqrt — a
    * cross-engine float hazard — so this uses SUM normalization (the
    * equally standard variant: scores are shares summing to ~10⁶):
    * after each half-step every score is re-quantized to integral
    * micros of its sum via integral division — non-negative dividends,
    * so floor = truncate on both engines — and all sums are exact
    * longs with the products in DECIMAL(38,0)/HUGEINT. Same per-round
    * shuffle shape as pagerank (join on the node id, partial-agg sum),
    * per-round `localCheckpoint` + [[Checkpoints.Scope.free]]. */
  private[graft] def hitsOn(edgesDf: DataFrame, iters: Int): DataFrame = Checkpoints.scope { ck =>
    val e = ck.ckpt(edgesDf
      .filter(col("src") =!= col("dst"))
      .distinct())
    val nodes = ck.ckpt(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    def normalized(raw: DataFrame): DataFrame = {
      // raw: (node, raw) — re-quantize to micros of the total
      val tot = raw.agg(sum(col("raw").cast("decimal(38,0)")).as("tot"))
      nodes.join(raw, Seq("node"), "left")
        .crossJoin(broadcast(tot))
        .select(col("node"), expr(
          """CASE WHEN tot IS NULL OR tot = 0 THEN CAST(0 AS BIGINT)
            |ELSE CAST((CAST(coalesce(raw, 0) AS DECIMAL(38,0)) * 1000000)
            |          div tot AS BIGINT) END""".stripMargin).as("s"))
    }
    var hub  = ck.ckpt(nodes.select(col("node"), lit(1000000L).as("s")))
    var auth = hub
    for (i <- 1 to iters) {
      val prevAuth = auth
      auth = ck.ckpt(normalized(e
        .join(hub.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node")).agg(sum("s").as("raw"))))
      if (i > 1) ck.free(prevAuth) // round 1's "prev" is hub's alias
      val prevHub = hub
      hub = ck.ckpt(normalized(e
        .join(auth.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node")).agg(sum("s").as("raw"))))
      ck.free(prevHub)
    }
    ck.ckpt(hub.withColumnRenamed("s", "hub_micros")
      .join(auth.withColumnRenamed("s", "auth_micros"), "node")
      .select(col("node"), col("auth_micros"), col("hub_micros"))
      .orderBy("node"))
  }

  private val hitsSql: String = {
    val base =
      """WITH edges AS (
        |  SELECT DISTINCT (o_custkey % 211) AS src, (o_orderkey % 197) AS dst
        |  FROM orders WHERE (o_custkey % 211) <> (o_orderkey % 197)
        |), nodes AS (
        |  SELECT src AS node FROM edges UNION SELECT dst FROM edges
        |), h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS s FROM nodes)""".stripMargin
    def norm(rawCte: String, outCte: String) =
      s"""${outCte}_t AS (SELECT CAST(sum(CAST(raw AS HUGEINT)) AS HUGEINT) AS tot FROM $rawCte),
         |$outCte AS (
         |  SELECT n.node,
         |         CASE WHEN t.tot IS NULL OR t.tot = 0 THEN CAST(0 AS BIGINT)
         |              ELSE CAST((CAST(coalesce(r.raw, 0) AS HUGEINT) * 1000000)
         |                        // t.tot AS BIGINT) END AS s
         |  FROM nodes n CROSS JOIN ${outCte}_t t
         |  LEFT JOIN $rawCte r ON r.node = n.node)""".stripMargin
    val rounds = (1 to HitsIters).map { i =>
      val ph = if (i == 1) "h0" else s"h${i - 1}"
      s"""a${i}_raw AS (
         |  SELECT e.dst AS node, CAST(sum(h.s) AS BIGINT) AS raw
         |  FROM edges e JOIN $ph h ON h.node = e.src GROUP BY e.dst),
         |${norm(s"a${i}_raw", s"a$i")},
         |h${i}_raw AS (
         |  SELECT e.src AS node, CAST(sum(a.s) AS BIGINT) AS raw
         |  FROM edges e JOIN a$i a ON a.node = e.dst GROUP BY e.src),
         |${norm(s"h${i}_raw", s"h$i")}""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$rounds
       |SELECT n.node, a.s AS auth_micros, h.s AS hub_micros
       |FROM nodes n JOIN a$HitsIters a ON a.node = n.node
       |JOIN h$HitsIters h ON h.node = n.node
       |ORDER BY n.node""".stripMargin
  }

  /** Hub guard for [[linkPredict]]: wedge generation at a center costs
    * C(deg, 2) pairs, so one hub of degree h materializes h² candidates
    * — the "curse of the last reducer" again, but orientation can't
    * help here (common-neighbor counting needs BOTH wedge arms of every
    * center). The standard production cut: skip centers above a degree
    * cap. Principled, not just pragmatic — a hub is the LEAST
    * informative witness (Adamic–Adar weights it 1/ln(deg) → ~0, and a
    * node connected to everyone predicts nothing), so the cap removes
    * the quadratic cost exactly where the signal is weakest. */
  private val LpDegCap = 64
  private val LpTopN   = 50
  /** adjacency rows per task for [[linkPredictOn]]'s volume-scaled
    * stages (each row fans out ≤ (LpDegCap−1)/2 wedge pairs).
    * Env-overridable for probe experiments only (the r19 conf-override
    * discipline that separated sizing from shape). */
  private val LpAdjRowsPerTask = sys.env.get("SPARK_GRAFT_LP_ROWS_PER_TASK")
    .flatMap(s => scala.util.Try(s.trim.toLong).toOption)
    .filter(_ > 0L) // 0/negatives would divide-by-zero deep in the sizing (r21 ADVICE)
    .getOrElse(250000L)

  def linkPredict(spark: SparkSession, dir: String): DataFrame =
    linkPredictOn(triEdges(spark, dir))

  /** Link prediction over a canonical (u<v) undirected edge table:
    * score every NON-adjacent pair at distance 2 by common-neighbor
    * count and Adamic–Adar Σ_{c ∈ N(x)∩N(y)} 1/ln(deg c) — the
    * classical neighborhood heuristics (Liben-Nowell & Kleinberg 2003)
    * behind recommend-a-friend / suggest-a-citation, and the graph
    * family's second wedge consumer beside [[triangleCountOn]].
    *
    * Scale shape (re-shaped round 19 — the degree attach was a
    * groupBy + SMJ that shuffled the adjacency relation TWICE, the
    * suite's heaviest linear constant at 32×/64× grown): the degree
    * now folds into the wedge generation as a count over the c-keyed
    * window — ONE hash shuffle of the adjacency computes deg, filter,
    * and aa_term in place, and because the window leaves the frame
    * hash-partitioned AND sorted on c (both preserved through the
    * localCheckpoint's LogicalRDD), the wedge self-EQUI-join on the
    * center id plans exchange-free and sort-free. Per-center work is
    * bounded by C(cap, 2) via deg ≤ [[LpDegCap]], so total wedges are
    * ≤ cap·m regardless of skew (the hot-hub h² blowup is designed
    * out, see [[LpDegCap]]; the pre-filter window only COUNTS a hub's
    * rows — linear — before dropping them).
    * Each AA witness term is quantized to integral micros of
    * 1/ln(deg) BEFORE the sum (the tfidf ln convention: one double
    * division of exact ints, correctly rounded on both engines, then
    * association-free long sums), existing edges leave by an anti-join
    * against the canonical edge set, and the top-[[LpTopN]] cut is a
    * TakeOrderedAndProject on the (aa desc, x, y) total order — never
    * a global sort. */
  def linkPredictOn(edgesDf: DataFrame): DataFrame = Checkpoints.scope { ck =>
    // Both long-lived tables here (ec feeds adjacency + the final
    // anti-join; adjW feeds both wedge arms) are pinned for the WHOLE
    // query, so they cannot be freed inline like the random_walks
    // rounds — instead they checkpoint SERIALIZED (MEMORY_AND_DISK_SER):
    // the per-block cost drops from deserialized row objects to compact
    // bytes, bounding the 256×-grown heap that deserialized blocks blew
    // to 7.4 GB, at the price of a decode on each of the 2-3 reads.
    val ser = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    val ec = ck.ckpt(edgesDf, ser) // feeds adjacency + the anti-join
    // Volume-scaled parallelism (the sizedForVerify precedent): the
    // wedge stage emits up to (cap−1)/2 pairs per adjacency row and
    // the pair aggregation carries them all — at the session-default
    // partition count both stages starve as the graph grows (measured
    // 64× grown: 159 s at 16 partitions vs 100 s properly sized).
    // ec is checkpointed, so the count is free.
    // Both-bounded sizing (pass-24 A/B matrix): the volume bound keeps
    // per-task state under the memory line, and the 3×-cores floor
    // keeps ≥3 waves of tasks so one coarse straggler can't own the
    // stage — at 32× grown on 32 cores the volume bound alone collapsed
    // to parts = cores = ONE wave and measured 2× slower (49.6 vs
    // 24.6 s) than the balanced width; finer-than-needed tasks at high
    // volume measured 2× slower the other way (151 vs 74 s at 64× on
    // 16 cores), so neither bound substitutes for the other.
    val parts = math.min(4096L, math.max(
      3L * edgesDf.sparkSession.sparkContext.defaultParallelism,
      2L * ec.count() / LpAdjRowsPerTask)).toInt
    val adj = ec.select(col("u").as("c"), col("v").as("nbr"))
      .union(ec.select(col("v").as("c"), col("u").as("nbr")))
    // per-center AA witness term, computed once per adjacency row via
    // the c-keyed window count (deg ≥ 2 is implied by the wedge join:
    // a deg-1 center forms none) — one shuffle, no degree join; the
    // explicit repartition both sizes the stage and satisfies the
    // window's distribution (no second exchange)
    val adjW = ck.captured(adj
      .repartition(parts, col("c"))
      .withColumn("deg", count(lit(1)).over(Window.partitionBy("c")))
      .filter(col("deg") <= LpDegCap && col("deg") >= 2)
      .select(col("c"), col("nbr"),
        round(lit(1000000.0) / log(col("deg"))).cast("long").as("aa_term")),
      ser) // both wedge arms read it; the AQE-off capture (round 22) is
           // what actually carries hash(c, parts) + the window's c-sort
           // into the LogicalRDD — the wedge self-join below then plans
           // with no Exchange and no Sort on either arm (a plain
           // checkpoint records UnknownPartitioning under AQE and both
           // arms re-shuffled+re-sorted, the round-22 central finding)
    val wedges = adjW.as("a")
      .join(adjW.as("b"), col("a.c") === col("b.c") && col("a.nbr") < col("b.nbr"))
      .select(col("a.nbr").as("x"), col("b.nbr").as("y"), col("a.aa_term").as("t"))
    // size the pair aggregation the same way (map-side combine is weak
    // for (x, y) keys spread across center partitions — the explicit
    // exchange width is what matters at grown scale)
    val scored = wedges.repartition(parts, col("x"), col("y"))
      .groupBy("x", "y")
      .agg(count(lit(1)).as("cn"), sum("t").as("aa_micros"))
    scored
      .join(ec, col("x") === col("u") && col("y") === col("v"), "left_anti")
      .orderBy(col("aa_micros").desc, col("x"), col("y"))
      .limit(LpTopN)
  }

  private val linkPredictSql: String =
    s"""WITH raw AS (
       |  SELECT (o_custkey % $TriMod) AS a, (o_orderkey % $TriMod) AS b FROM orders
       |), e AS (
       |  SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v FROM raw WHERE a <> b
       |), adj AS (
       |  SELECT u AS c, v AS nbr FROM e UNION ALL SELECT v, u FROM e
       |), deg AS (
       |  SELECT c, count(*) AS deg FROM adj GROUP BY c
       |), adjw AS (
       |  SELECT adj.c, adj.nbr,
       |         CAST(round(1000000.0 / ln(deg.deg)) AS BIGINT) AS aa_term
       |  FROM adj JOIN deg ON deg.c = adj.c
       |  WHERE deg.deg <= $LpDegCap AND deg.deg >= 2
       |), scored AS (
       |  SELECT a.nbr AS x, b.nbr AS y, CAST(count(*) AS BIGINT) AS cn,
       |         CAST(sum(a.aa_term) AS BIGINT) AS aa_micros
       |  FROM adjw a JOIN adjw b ON a.c = b.c AND a.nbr < b.nbr
       |  GROUP BY a.nbr, b.nbr
       |)
       |SELECT x, y, cn, aa_micros FROM scored s
       |WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = s.x AND e.v = s.y)
       |ORDER BY aa_micros DESC, x, y LIMIT $LpTopN""".stripMargin

  /** Strongly connected components of the DIRECTED orders graph —
    * the missing directed-graph sibling of the undirected connected
    * components in `Dedup.clusterLabels` (a crawl's link graph, a
    * citation graph, a dependency graph all need SCC, not CC). Uses the
    * Multistep structure (Slota et al., IPDPS 2014; FW-BW of Fleischer
    * et al. 2000): alternate a TRIM fixpoint (peel nodes with zero
    * in- or out-degree in the induced subgraph — each is a singleton
    * SCC; this collapses the acyclic periphery in whole-frontier steps,
    * the known cure for the coloring algorithm's chain-of-SCCs worst
    * case) with a COLORING round (forward min-label propagation to
    * fixpoint, then a backward sweep inside each color class from its
    * root — the nodes that reach their root within the class are
    * exactly the root's SCC; every color class retires ≥1 whole SCC
    * per round, all classes in parallel).
    *
    * Correctness note pinned by `GraphSpec`: the naive "(fwd-min,
    * bwd-min) label pair" shortcut is WRONG (two singleton SCCs can
    * share both labels); the backward sweep restricted to the color
    * class is what makes this exact.
    *
    * Scale shape: every step is an equi-join on the node key against
    * the (src, dst) long-pair edge table plus a partial-aggregated min
    * — the sssp/lpa family shape, same reused hash partitioning every
    * round. Per-round `localCheckpoint` + `Scope.free` keeps the
    * plan and storage constant; the only driver state is loop-control
    * booleans/counts (bounded metadata). Output: node, scc_id (= min
    * node id in the component), scc_size. */
  def sccComponents(spark: SparkSession, dir: String): DataFrame =
    sccComponentsOn(rawEdges(spark, dir, 211L, 197L))

  /** SCC over an arbitrary directed (src, dst) edge list — split out so
    * specs can drive it with hand-checkable graphs (incl. the
    * label-pair counterexample). */
  private[graft] def sccComponentsOn(edgesDf: DataFrame): DataFrame = Checkpoints.scope { ck =>
    val spark = edgesDf.sparkSession
    import spark.implicits._
    var e = ck.ckpt(edgesDf.select(col("src"), col("dst")).distinct()
      .filter(col("src") =!= col("dst")))
    var done = ck.ckpt(Seq.empty[(Long, Long)].toDF("node", "scc_id"))
    var active = ck.ckpt(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    while (!active.isEmpty) {
      // ---- trim fixpoint: nodes missing an in- OR out-edge in the
      // induced subgraph are singleton SCCs
      var trimming = true
      while (trimming && !active.isEmpty) {
        val keep = ck.ckpt(active
          .join(e.select(col("src").as("node")).distinct(), Seq("node"), "left_semi")
          .join(e.select(col("dst").as("node")).distinct(), Seq("node"), "left_semi"))
        val peel = active.join(keep, Seq("node"), "left_anti")
          .select(col("node"), col("node").as("scc_id"))
        val nPeel = peel.count()
        if (nPeel == 0L) {
          ck.free(keep)
          trimming = false
        } else {
          val prevDone = done; val prevActive = active; val prevE = e
          done = ck.ckpt(done.union(peel))
          active = keep
          e = ck.ckpt(e.join(active.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
            .join(active.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
            .select(col("src"), col("dst")))
          ck.free(prevDone); ck.free(prevActive); ck.free(prevE)
        }
      }
      if (!active.isEmpty) {
        // ---- forward min-label coloring to fixpoint. Change detection
        // RIDES the round checkpoint (round 22, the mstForestOn inner-
        // loop convention): the old color stays aboard as a column, so
        // convergence is one cheap filter-count over the materialized
        // checkpoint instead of a second join-shuffle job per
        // iteration (node-sized exchange × 2, every round).
        var colorsCkpt = ck.ckpt(active.select(col("node"), col("node").as("color")))
        var colors = colorsCkpt // (node, color) view over the handle
        var coloring = true
        while (coloring) {
          val offers = colors.join(e, col("node") === col("src"))
            .select(col("dst").as("node"), col("color").as("c2"))
            .groupBy("node").agg(min("c2").as("c2"))
          val next = ck.ckpt(colors.join(offers, Seq("node"), "left")
            .select(col("node"), col("color").as("old"),
              least(col("color"), coalesce(col("c2"), col("color"))).as("color")))
          val changed = next.filter(col("color") < col("old")).count()
          ck.free(colorsCkpt)
          colorsCkpt = next
          colors = next.select(col("node"), col("color"))
          coloring = changed > 0L
        }
        // ---- backward sweep inside each color class from its root
        var reached = ck.ckpt(colors.filter(col("node") === col("color")))
        var frontier = reached
        var sweeping = true
        while (sweeping) {
          val preds = frontier.join(e, col("node") === col("dst"))
            .select(col("src").as("node"), col("color").as("fc")).distinct()
          val sameColor = preds.join(colors, Seq("node"))
            .filter(col("fc") === col("color")).select(col("node"), col("color"))
          val fresh = ck.ckpt(sameColor.join(reached, Seq("node"), "left_anti"))
          if (fresh.isEmpty) {
            ck.free(fresh)
            sweeping = false
          } else {
            val prevReached = reached; val prevFrontier = frontier
            reached = ck.ckpt(reached.union(fresh))
            frontier = fresh
            ck.free(prevReached)
            if (prevFrontier ne prevReached) ck.free(prevFrontier)
          }
        }
        if (frontier ne reached) ck.free(frontier)
        val prevDone = done; val prevActive = active; val prevE = e
        done = ck.ckpt(done.union(reached.select(col("node"), col("color").as("scc_id"))))
        active = ck.ckpt(active.join(reached, Seq("node"), "left_anti"))
        e = ck.ckpt(e.join(active.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
          .join(active.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
          .select(col("src"), col("dst")))
        ck.free(reached); ck.free(colorsCkpt)
        ck.free(prevDone); ck.free(prevActive); ck.free(prevE)
      }
    }
    val sizes = done.groupBy("scc_id").agg(count(lit(1)).as("scc_size"))
    done.join(sizes, Seq("scc_id"))
      .select(col("node"), col("scc_id"), col("scc_size"))
      .orderBy("node")
  }

  /** DuckDB mirrors SCC by brute transitive closure (fine at the gate
    * SF: ≤408 nodes in the mod-211/197 space): scc_id(u) = min over
    * {u} ∪ {v : u→*v ∧ v→*u}. */
  private val sccSql: String =
    """WITH RECURSIVE e AS (
      |  SELECT DISTINCT (o_custkey % 211) AS src, (o_orderkey % 197) AS dst FROM orders
      |  WHERE (o_custkey % 211) <> (o_orderkey % 197)
      |), nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e
      |), reach(a, b) AS (
      |  SELECT src, dst FROM e
      |  UNION
      |  SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b
      |), mutual AS (
      |  SELECT r1.a AS u, r1.b AS v FROM reach r1
      |  JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
      |), scc AS (
      |  SELECT n.node, LEAST(n.node, coalesce(min(m.v), n.node)) AS scc_id
      |  FROM nodes n LEFT JOIN mutual m ON m.u = n.node GROUP BY n.node
      |), sz AS (SELECT scc_id, count(*) AS scc_size FROM scc GROUP BY scc_id)
      |SELECT CAST(s.node AS BIGINT) AS node, CAST(s.scc_id AS BIGINT) AS scc_id,
      |       CAST(z.scc_size AS BIGINT) AS scc_size
      |FROM scc s JOIN sz z USING (scc_id) ORDER BY s.node""".stripMargin

  val entries: Seq[QueryDef] = Seq(
    QueryDef.sql("pagerank", pageRankSql)(pageRank),
    QueryDef.sql("triangle_count", triangleSql)(triangleCount),
    QueryDef.sql("bfs_distances", bfsSql)(bfsDistances),
    QueryDef.sql("betweenness_sampled", betweennessSql)(betweenness),
    QueryDef.sql("random_walks", walksSql)(randomWalks),
    QueryDef.sql("node2vec_walks", node2vecSql)(node2vecWalks),
    QueryDef.sql("sssp_weighted", ssspSql)(ssspWeighted),
    QueryDef.sql("lpa_communities", lpaSql)(lpaCommunities),
    QueryDef.sql("kcore_decompose", kcoreSql)(kcoreDecompose),
    QueryDef.sql("k_truss", kTrussSql)(kTruss),
    QueryDef.sql("coreness", corenessSql)(coreness),
    QueryDef.sql("link_predict", linkPredictSql)(linkPredict),
    QueryDef.sql("personalized_pagerank", pprSql)(personalizedPagerank),
    QueryDef.sql("hits_scores", hitsSql)(hitsScores),
    QueryDef.sql("graph_modularity", modularitySql)(graphModularity),
    QueryDef.sql("louvain_move", louvainSql)(louvainMove),
    QueryDef.sql("mst_forest", mstSql)(mstForest),
    QueryDef.sql("graph_diameter", diameterSql)(graphDiameter),
    QueryDef.sql("degree_assortativity", assortativitySql)(degreeAssortativity),
    QueryDef.sql("scc_components", sccSql)(sccComponents),
  )
}
