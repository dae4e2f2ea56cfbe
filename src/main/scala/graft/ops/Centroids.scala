package graft.ops

import graft.tables.Tables
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Typed custom aggregation (the reference's Reduce-as-UDAF surface,
  * SURVEY §2.3 "UDF/UDAF/UDTF"): an `Aggregator[IN, BUF, OUT]` computing
  * per-label embedding centroids in one pass — mutable primitive-array
  * buffer, partial merge on executors (map-side combine), the shape a
  * distributed k-means/IVF coarse-quantizer step uses at 100 TB.
  *
  * Output is exploded to (label, dim, round(avg,6)) so a plain SQL
  * AVG-per-dimension oracle can hash-match it (rounding absorbs
  * float-sum association differences across partitionings).
  */
object Centroids {

  final case class LabeledVec(label: Int, embedding: Array[Float])
  final case class CentroidBuf(var sums: Array[Double], var n: Long)

  class CentroidAgg(dim: Int) extends Aggregator[LabeledVec, CentroidBuf, Array[Double]] {
    override def zero: CentroidBuf = CentroidBuf(new Array[Double](dim), 0L)
    override def reduce(b: CentroidBuf, v: LabeledVec): CentroidBuf = {
      var i = 0
      while (i < dim && i < v.embedding.length) { b.sums(i) += v.embedding(i); i += 1 }
      b.n += 1
      b
    }
    override def merge(a: CentroidBuf, b: CentroidBuf): CentroidBuf = {
      var i = 0
      while (i < dim) { a.sums(i) += b.sums(i); i += 1 }
      a.n += b.n
      a
    }
    override def finish(b: CentroidBuf): Array[Double] =
      if (b.n == 0) b.sums else b.sums.map(_ / b.n)
    override def bufferEncoder: Encoder[CentroidBuf]  = Encoders.product[CentroidBuf]
    override def outputEncoder: Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  }

  def labelCentroids(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dim = 64
    val ds = Tables.embeddings(spark, dir)
      .select(col("label"), col("embedding")).as[LabeledVec]
    ds.groupByKey(_.label)
      .agg(new CentroidAgg(dim).toColumn.name("centroid"))
      .toDF("label", "centroid")
      .select(col("label"), posexplode(col("centroid")).as(Seq("dim", "avg_val")))
      .select(col("label").cast("long").as("label"), col("dim").cast("long").as("dim"),
        round(col("avg_val"), 6).as("avg_val"))
      .orderBy("label", "dim")
  }

  /** k-means over the embedding column — Lloyd's algorithm with
    * deterministic seeds (the first K vectors by id) and two unrolled
    * assignment passes (assign → update → assign), the semantic-
    * clustering step of a corpus-curation pipeline (topic balancing,
    * data mixing).
    *
    * Spark shape (the same one MLlib's KMeans uses): centroids live on
    * the driver as a k×dim matrix — O(k·dim), independent of corpus
    * size — and each assignment is a PURE MAP: the matrix is a foldable
    * literal inside the codegen'd `NearestCentroidIdx`/`SqDistFD`
    * expressions, so assigning 100 TB of vectors is a scan with zero
    * shuffle and zero join. The update step is one partial-aggregated
    * (cluster, dim) avg — shuffle rows = k·dim, not the corpus.
    *
    * Determinism: centroids round to 6dp after the update (the
    * hash-green label_centroids invariant, absorbing float-sum
    * association); assignment ties break to the lowest cluster id
    * (strict `<` in nearestCentroid = the oracle's ORDER BY dist,
    * cluster); per-member inertia terms are identical doubles on both
    * engines (fixed-order accumulation) converted to exact integer
    * micros before the order-insensitive long sum.
    */
  val KmeansK     = 8
  private val Dim = 64

  /** assignment against a literal centroid matrix: zero shuffle, one
    * codegen'd nearest-centroid scan per row. Past codegen-literal
    * comfort (k·dim ≳ 10⁶) the same matrix would ship as a broadcast
    * join — still a shuffle-free map either way. */
  private[graft] def assignWith(
      base: DataFrame, cents: Seq[(Long, Seq[Double])]): DataFrame = {
    val ids = typedLit(cents.map(_._1))
    val m   = typedLit(cents.map(_._2))
    val idx = graft.functions.VectorFunctions.nearestCentroidIdx(col("embedding"), m)
    base
      .withColumn("cluster", element_at(ids, idx + 1))
      .withColumn("sqd",
        graft.functions.VectorFunctions.sqDist(col("embedding"), element_at(m, idx + 1)))
  }

  /** seeds: first k vectors by id, floats widened exactly to double. */
  private[graft] def seedCents(base: DataFrame, k: Int): Seq[(Long, Seq[Double])] =
    base.filter(col("vec_id") < k)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble)))
      .sortBy(_._1).toSeq

  /** one Lloyd update: per-(cluster, dim) 6dp-rounded avg, collected
    * back to the driver (k×dim rows — bounded, like annIvf's quantizer). */
  private[ops] def lloydUpdate(assigned: DataFrame): Seq[(Long, Seq[Double])] =
    assigned
      .select(col("cluster"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("cluster", "dim").agg(round(avg(col("v").cast("double")), 6).as("av"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toSeq)
      .toSeq.sortBy(_._1)

  /** The seeds → assign → update → assign core of [[kmeansEmbed]],
    * factored over an arbitrary (vec_id, embedding) corpus so the
    * semantic-dedup composition (`Dedup.semanticDedup`) can cluster its
    * own corpus with the identical algorithm and determinism contract.
    * `k` defaults to the fixed [[KmeansK]] of `kmeans_embed`; callers
    * that must stay sub-quadratic at any corpus size (semantic dedup)
    * pass a size-derived k instead. Returns
    * (vec_id, embedding, cluster, sqd). */
  private[ops] def kmeansAssign(base: DataFrame, k: Int = KmeansK): DataFrame =
    assignWith(base, lloydUpdate(assignWith(base, seedCents(base, k))))

  /** Two-level (IVF-coarse) variant of [[kmeansAssign]] for callers whose
    * k scales with the corpus (semantic dedup's k = ⌈n/B⌉): the ONLY
    * driver-side literal is the s = ⌈√k⌉ super-centroid matrix
    * (O(√k·dim), e.g. ~2.8k×64 doubles at k = 8M), never the k×dim
    * centroids, and per-row assignment work is O(√k·dim) — two nearest-
    * centroid scans of √k candidates each — instead of the flat
    * O(k·dim).
    *
    * Shape: super-centroids are the first s vectors by id (fixed across
    * both Lloyd rounds — the IVF coarse-quantizer convention). The k
    * seed/updated centroids stay a DISTRIBUTED (cluster, c, super)
    * table; each corpus row maps zero-shuffle to its nearest super
    * (codegen'd literal scan, lowest super id on ties) and equi-joins
    * the ~√k centroids of that super — broadcast at small k, shuffle
    * hash join on `super` past broadcast size — then keeps the
    * lexicographic min (sqd, cluster) candidate. Rows only probe supers
    * that own ≥1 centroid (the bounded `present` set), so the inner
    * join can never drop a row. The Lloyd update is the same
    * per-(cluster, dim) 6dp-rounded avg as the flat path but never
    * leaves the cluster-key shuffle — centroids are re-assembled with
    * sort_array(collect_list), not collected.
    *
    * Determinism contract (same as flat): strict-< / lowest-id ties on
    * both levels, index-order double accumulation, 6dp-rounded update —
    * every piece the SQL oracle ([[kmeansIvfCtes]]) reproduces
    * bit-for-bit. NOTE: this is a coarse-quantized assignment — a row
    * whose true nearest centroid lives in another super keeps the best
    * centroid of its own super (the documented IVF recall trade); the
    * oracle implements the identical rule. Returns
    * (vec_id, embedding, cluster, sqd). */
  private[graft] def kmeansAssignTwoLevel(
      base: DataFrame, k: Long): DataFrame = Checkpoints.scope { ck =>
    val s = math.max(1L, math.ceil(math.sqrt(k.toDouble)).toLong)

    // the one collected literal: s×dim super-centroids, O(√k·dim)
    val superSeeds: Seq[(Long, Seq[Double])] = base.filter(col("vec_id") < s)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble)))
      .sortBy(_._1).toSeq

    def superOfFloat(emb: Column, among: Seq[(Long, Seq[Double])]): Column =
      element_at(typedLit(among.map(_._1)),
        graft.functions.VectorFunctions.nearestCentroidIdx(emb, typedLit(among.map(_._2))) + 1)
    def superOfDouble(c: Column): Column =
      element_at(typedLit(superSeeds.map(_._1)),
        graft.functions.VectorFunctions.nearestCentroidIdxD(c, typedLit(superSeeds.map(_._2))) + 1)

    def assign(cents: DataFrame): DataFrame = {
      // bounded (≤ s ids) — restricts row probes to non-empty supers
      val present = cents.select("super").distinct().collect().map(_.getLong(0)).toSet
      val among   = superSeeds.filter(p => present.contains(p._1))
      base
        .withColumn("super", superOfFloat(col("embedding"), among))
        .join(cents, "super")
        .select(col("vec_id"), col("embedding"),
          struct(
            graft.functions.VectorFunctions.sqDist(col("embedding"), col("c")).as("sqd"),
            col("cluster")).as("cand"))
        .groupBy("vec_id")
        .agg(min(col("cand")).as("m"), first(col("embedding")).as("embedding"))
        .select(col("vec_id"), col("embedding"),
          col("m.cluster").as("cluster"), col("m.sqd").as("sqd"))
    }

    // k rows; feeds present-supers probe + the join
    val cents0 = ck.ckpt(base.filter(col("vec_id") < k)
      .select(col("vec_id").as("cluster"),
        transform(col("embedding"), x => x.cast("double")).as("c"))
      .withColumn("super", superOfDouble(col("c"))))
    val a0 = assign(cents0)
    val cents1 = ck.ckpt(a0
      .select(col("cluster"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("cluster", "dim").agg(round(avg(col("v").cast("double")), 6).as("av"))
      .groupBy("cluster")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("av")))),
        e => e.getField("av")).as("c"))
      .withColumn("super", superOfDouble(col("c")))) // k rows
    assign(cents1)
  }

  /** SQL CTEs of the [[kmeansAssignTwoLevel]] pipeline over source
    * relation `src` (no leading WITH) — a1 is the final
    * (vec_id, embedding, cluster, sqd) assignment. `kExpr` is any SQL
    * scalar; s = ⌈√k⌉ is derived inside. */
  private[ops] def kmeansIvfCtes(src: String, kExpr: String): String = {
    // float-row → double-centroid distance (same fold as kmeansCtes)
    def sqFD(e: String, c: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |  list_transform(generate_series(1, $Dim), d ->
         |    (CAST($e.embedding[d] AS DOUBLE) - $c[d]) * (CAST($e.embedding[d] AS DOUBLE) - $c[d]))),
         |  (a, v) -> a + v)""".stripMargin
    // double-centroid → double-super distance
    def sqDD(c: String, u: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |  list_transform(generate_series(1, $Dim), d ->
         |    ($c[d] - $u[d]) * ($c[d] - $u[d]))),
         |  (a, v) -> a + v)""".stripMargin
    def superOfCents(inner: String): String =
      s"""SELECT cluster, c, super FROM (
         |  SELECT t.cluster, t.c, u.super,
         |         row_number() OVER (PARTITION BY t.cluster
         |           ORDER BY ${sqDD("t.c", "u.sc")} ASC, u.super ASC) AS rn
         |  FROM ($inner) t CROSS JOIN sup u) x WHERE rn = 1""".stripMargin
    def assign(cents: String): String =
      s"""SELECT vec_id, embedding, cluster, sqd FROM (
         |  SELECT r.vec_id, r.embedding, c.cluster, ${sqFD("r", "c.c")} AS sqd,
         |         row_number() OVER (PARTITION BY r.vec_id
         |           ORDER BY ${sqFD("r", "c.c")} ASC, c.cluster ASC) AS rn
         |  FROM (
         |    SELECT vec_id, embedding, super FROM (
         |      SELECT e.vec_id, e.embedding, u.super,
         |             row_number() OVER (PARTITION BY e.vec_id
         |               ORDER BY ${sqFD("e", "u.sc")} ASC, u.super ASC) AS rn2
         |      FROM $src e CROSS JOIN (
         |        SELECT super, sc FROM sup
         |        WHERE super IN (SELECT DISTINCT super FROM $cents)) u) y
         |    WHERE rn2 = 1) r
         |  JOIN $cents c ON r.super = c.super) z
         |WHERE rn = 1""".stripMargin
    s"""kk AS (SELECT CAST(($kExpr) AS BIGINT) AS k),
       |sup AS (
       |  SELECT vec_id AS super, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS sc
       |  FROM $src, kk
       |  WHERE vec_id < greatest(CAST(1 AS BIGINT), CAST(ceil(sqrt(CAST(k AS DOUBLE))) AS BIGINT))
       |),
       |cents0 AS (
       |  ${superOfCents(s"""SELECT vec_id AS cluster,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
           FROM $src, kk WHERE vec_id < k""")}
       |),
       |a0 AS (${assign("cents0")}),
       |cents1 AS (
       |  ${superOfCents(s"""SELECT cluster, list(avg_val ORDER BY d) AS c FROM (
           SELECT cluster, d, round(avg(CAST(embedding[d] AS DOUBLE)), 6) AS avg_val
           FROM a0, (SELECT unnest(generate_series(1, $Dim)) AS d) dims
           GROUP BY cluster, d) q GROUP BY cluster""")}
       |),
       |a1 AS (${assign("cents1")})""".stripMargin
  }

  def kmeansEmbed(spark: SparkSession, dir: String): DataFrame =
    kmeansAssign(Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"),
        sum(round(col("sqd") * 1e6).cast("long")).as("inertia_micros"))
      .orderBy("cluster")

  /** The kmeans seed/assign/update/assign pipeline as SQL CTEs over
    * source relation `src` (no leading WITH) — a1 is the final
    * (vec_id, embedding, cluster, sqd) assignment. Shared with the
    * semantic-dedup oracle, which clusters its own corpus CTE and
    * passes a size-derived seed-count expression as `kExpr` (any SQL
    * scalar; defaults to the fixed [[KmeansK]]). */
  private[ops] def kmeansCtes(src: String, kExpr: String = KmeansK.toString): String = {
    val sq =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |  list_transform(generate_series(1, $Dim), d ->
         |    (CAST(e.embedding[d] AS DOUBLE) - c.c[d]) * (CAST(e.embedding[d] AS DOUBLE) - c.c[d]))),
         |  (a, v) -> a + v)""".stripMargin
    def assign(cents: String): String =
      s"""SELECT vec_id, embedding, cluster, sqd FROM (
         |  SELECT e.vec_id, e.embedding, c.cluster, $sq AS sqd,
         |         row_number() OVER (PARTITION BY e.vec_id
         |           ORDER BY $sq ASC, c.cluster ASC) AS rn
         |  FROM $src e CROSS JOIN $cents c) t
         |WHERE rn = 1""".stripMargin
    s"""cents0 AS (
       |  SELECT vec_id AS cluster, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
       |  FROM $src WHERE vec_id < ($kExpr)
       |), a0 AS (${assign("cents0")}),
       |cents1 AS (
       |  SELECT cluster, list(avg_val ORDER BY d) AS c FROM (
       |    SELECT cluster, d, round(avg(CAST(embedding[d] AS DOUBLE)), 6) AS avg_val
       |    FROM a0, (SELECT unnest(generate_series(1, $Dim)) AS d) dims
       |    GROUP BY cluster, d) t
       |  GROUP BY cluster
       |), a1 AS (${assign("cents1")})""".stripMargin
  }

  private val kmeansSql: String =
    s"""WITH ${kmeansCtes("embeddings")}
       |SELECT cluster, CAST(count(*) AS BIGINT) AS n_members,
       |       CAST(sum(CAST(round(sqd * 1000000) AS BIGINT)) AS BIGINT) AS inertia_micros
       |FROM a1 GROUP BY cluster ORDER BY cluster""".stripMargin

  private[graft] val KmeansRounds = 5

  /** The GENERAL N-round Lloyd trainer ([[KmeansRounds]] = 5) — the
    * last fixed-round demo shape graduated to its real form (the
    * bpe_train / pca_topr convention). Per round: assignment against
    * that round's LITERAL k×dim centroid matrix (zero shuffle, one
    * codegen'd scan), total inertia as one exact-micros aggregate, and
    * a centroid update as one bounded (cluster, dim) cells aggregate
    * collected back as driver metadata — so per-round driver state is
    * k×dim doubles and plan size is flat in rounds (each assignment is
    * a fresh scan + literal, never a growing lineage; the base table is
    * `localCheckpoint`ed once and re-read 2× per round). Output is the
    * training curve (round, total inertia) a user watches for
    * convergence; the oracle replays all 5 rounds as chained
    * MATERIALIZED CTEs and `ClusteringSpec` pins the curve
    * non-increasing with round 1 equal to the seed assignment. */
  def kmeansTrain(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    import spark.implicits._
    val base = ck.ckpt(Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")))
    var cents = seedCents(base, KmeansK)
    val curve = (1 to KmeansRounds).map { r =>
      val a = assignWith(base, cents)
      val inertia = a.agg(sum(round(col("sqd") * 1e6).cast("long"))).head().getLong(0)
      if (r < KmeansRounds) cents = lloydUpdate(a)
      (r.toLong, inertia)
    }
    curve.toDF("round", "inertia_micros").orderBy("round")
  }

  private val kmeansTrainSql: String = {
    val sq =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |  list_transform(generate_series(1, $Dim), d ->
         |    (CAST(e.embedding[d] AS DOUBLE) - c.c[d]) * (CAST(e.embedding[d] AS DOUBLE) - c.c[d]))),
         |  (a, v) -> a + v)""".stripMargin
    def assign(cents: String): String =
      s"""SELECT vec_id, embedding, cluster, sqd FROM (
         |  SELECT e.vec_id, e.embedding, c.cluster, $sq AS sqd,
         |         row_number() OVER (PARTITION BY e.vec_id
         |           ORDER BY $sq ASC, c.cluster ASC) AS rn
         |  FROM embeddings e CROSS JOIN $cents c) t
         |WHERE rn = 1""".stripMargin
    // a_{r} is the round-(r+1) assignment; MATERIALIZED (the bpe_train
    // lesson): plain CTEs would inline the chain exponentially
    val chain = (1 until KmeansRounds).map { r =>
      s"""cents$r AS MATERIALIZED (
         |  SELECT cluster, list(avg_val ORDER BY d) AS c FROM (
         |    SELECT cluster, d, round(avg(CAST(embedding[d] AS DOUBLE)), 6) AS avg_val
         |    FROM a${r - 1}, (SELECT unnest(generate_series(1, $Dim)) AS d) dims
         |    GROUP BY cluster, d) t
         |  GROUP BY cluster
         |), a$r AS MATERIALIZED (${assign(s"cents$r")})""".stripMargin
    }.mkString(",\n")
    val selects = (0 until KmeansRounds).map { r =>
      s"""SELECT CAST(${r + 1} AS BIGINT) AS round,
         |  CAST(sum(CAST(round(sqd * 1000000) AS BIGINT)) AS BIGINT) AS inertia_micros
         |FROM a$r""".stripMargin
    }.mkString(" UNION ALL ")
    s"""WITH cents0 AS (
       |  SELECT vec_id AS cluster, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
       |  FROM embeddings WHERE vec_id < $KmeansK
       |), a0 AS MATERIALIZED (${assign("cents0")}),
       |$chain
       |$selects ORDER BY round""".stripMargin
  }

  /** Simplified (centroid-based) SILHOUETTE of the kmeans clustering —
    * the missing internal quality metric beside kmeans_embed's inertia
    * curve: per point, a = distance to its own centroid, b = distance
    * to the nearest OTHER centroid, s = (b−a)/max(a,b) ∈ [−1, 1]; per
    * cluster the exact-integer sum and the mean. The full silhouette
    * is O(n²) pairwise and impossible at corpus scale; the simplified
    * form (Hruschka et al.) replaces mean-to-cluster distances with
    * centroid distances and is the one a 100 TB pipeline can actually
    * run: with k·dim literal centroids the whole per-point computation
    * — k distances, argmin, runner-up — is a ZERO-SHUFFLE codegen'd
    * scan, and the only exchange is the final k-row rollup.
    *
    * Determinism: distances are sqrt of the kmeans-pinned sqDist
    * doubles (fixed-order accumulation, both engines bit-equal); each
    * point's s converts to exact integer micros BEFORE the
    * order-insensitive sum (the inertia convention); ties in the
    * nearest-centroid argmin break to the lowest cluster id on both
    * engines; the mean divides the two exact integers as doubles and
    * rounds to 6dp (no floored integer division — silhouette sums can
    * be negative and `div`/`//` disagree on negative floors). */
  def silhouetteSimplified(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions
    val base  = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val cents = lloydUpdate(assignWith(base, seedCents(base, KmeansK)))
    val ids   = typedLit(cents.map(_._1))
    val m     = typedLit(cents.map(_._2))
    val k     = cents.length
    val idx   = graft.functions.VectorFunctions.nearestCentroidIdx(col("embedding"), m)
    val dists = transform(sequence(lit(1), lit(k)), c =>
      sqrt(VectorFunctions.sqDist(col("embedding"), element_at(m, c))))
    val perPoint = base
      .withColumn("idx", idx)
      .withColumn("cluster", element_at(ids, col("idx") + 1))
      .withColumn("dists", dists)
      .withColumn("a", element_at(col("dists"), col("idx") + 1))
      .withColumn("b", array_min(transform(sequence(lit(1), lit(k)), c =>
        when(c === col("idx") + 1, lit(Double.MaxValue))
          .otherwise(element_at(col("dists"), c)))))
      .withColumn("sm",
        when(greatest(col("a"), col("b")) > 0,
          round((col("b") - col("a")) / greatest(col("a"), col("b")) * 1e6).cast("long"))
          .otherwise(lit(0L)))
    perPoint.groupBy("cluster")
      .agg(count(lit(1)).as("n_members"), sum(col("sm")).as("sum_silhouette_micros"))
      .select(col("cluster"), col("n_members"), col("sum_silhouette_micros"),
        round(col("sum_silhouette_micros") / col("n_members") / 1e6, 6)
          .as("mean_silhouette"))
      .orderBy("cluster")
  }

  private val silhouetteSql: String = {
    val sq =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |  list_transform(generate_series(1, $Dim), d ->
         |    (CAST(e.embedding[d] AS DOUBLE) - c.c[d]) * (CAST(e.embedding[d] AS DOUBLE) - c.c[d]))),
         |  (a, v) -> a + v)""".stripMargin
    s"""WITH cents0 AS (
       |  SELECT vec_id AS cluster, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
       |  FROM embeddings WHERE vec_id < $KmeansK
       |), a0 AS (
       |  SELECT vec_id, embedding, cluster FROM (
       |    SELECT e.vec_id, e.embedding, c.cluster,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY $sq ASC, c.cluster ASC) AS rn
       |    FROM embeddings e CROSS JOIN cents0 c) t
       |  WHERE rn = 1
       |), cents1 AS MATERIALIZED (
       |  SELECT cluster, list(avg_val ORDER BY d) AS c FROM (
       |    SELECT cluster, d, round(avg(CAST(embedding[d] AS DOUBLE)), 6) AS avg_val
       |    FROM a0, (SELECT unnest(generate_series(1, $Dim)) AS d) dims
       |    GROUP BY cluster, d) t
       |  GROUP BY cluster
       |), pd AS MATERIALIZED (
       |  SELECT e.vec_id, c.cluster, $sq AS sqd, sqrt($sq) AS d
       |  FROM embeddings e CROSS JOIN cents1 c
       |), asg AS (
       |  -- argmin in SQUARED space (sqd), matching Spark's
       |  -- NearestCentroidIdx: two distinct squared distances can
       |  -- collapse under sqrt, so ordering on d could tie-break to a
       |  -- different owner than the strictly-smaller-sqd argmin.
       |  SELECT vec_id, cluster AS own_cluster, d AS a FROM (
       |    SELECT vec_id, cluster, d,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY sqd ASC, cluster ASC) AS rn
       |    FROM pd) t
       |  WHERE rn = 1
       |), bb AS (
       |  SELECT p.vec_id, min(p.d) AS b
       |  FROM pd p JOIN asg s ON p.vec_id = s.vec_id AND p.cluster <> s.own_cluster
       |  GROUP BY p.vec_id
       |), sm AS (
       |  SELECT asg.own_cluster AS cluster,
       |         CASE WHEN greatest(asg.a, bb.b) > 0
       |              THEN CAST(round((bb.b - asg.a) / greatest(asg.a, bb.b) * 1000000) AS BIGINT)
       |              ELSE CAST(0 AS BIGINT) END AS s
       |  FROM asg JOIN bb USING (vec_id)
       |)
       |SELECT CAST(cluster AS BIGINT) AS cluster,
       |  CAST(count(*) AS BIGINT) AS n_members,
       |  CAST(sum(s) AS BIGINT) AS sum_silhouette_micros,
       |  round(CAST(sum(s) AS DOUBLE) / count(*) / 1000000, 6) AS mean_silhouette
       |FROM sm GROUP BY cluster ORDER BY cluster""".stripMargin
  }

  private val PcaIters = 3

  /** Dominant principal direction of the embedding corpus via
    * matrix-free power iteration on XᵀX — the dimensionality-reduction
    * primitive behind whitening, ABTT embedding post-processing, and
    * drift monitoring. [[PcaIters]] unrolled iterations, v₀ = the
    * uniform unit vector.
    *
    * Spark shape per iteration (the pagerank of linear algebra): the
    * current direction v is an O(dim) plan literal inside the codegen'd
    * `DotProductF`, so the per-row projection x·v is a zero-shuffle
    * map; the update w = Σ (x·v)·x is ONE partial-aggregated (dim,
    * term) sum — shuffle rows = dim, never the corpus — and the O(dim)
    * result returns to the driver (bounded metadata, the kmeans
    * centroid convention).
    *
    * Determinism contract: per-row contribution terms round to exact
    * integer NANOS before the order-insensitive long sum (the pagerank
    * convention); the norm folds the dim-ordered doubles sequentially
    * (mirrored by the oracle's ordered list_reduce); each new v is
    * FLOAT-quantized (the planeWeightsF convention) so both engines
    * multiply bit-identical operands next round. Output: (d, loading,
    * eigen) with eigen = ‖w‖ of the last iteration rounded to 6dp. */
  def pcaPower(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions
    val base = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    var v = Array.fill(Dim)((1.0 / math.sqrt(Dim.toDouble)).toFloat)
    var lastNorm = 0.0
    for (_ <- 1 to PcaIters) {
      val vLit = array(v.map(x => lit(x)): _*)
      val dots = base.select(col("vec_id"),
        VectorFunctions.dot(col("embedding"), vLit).as("dot"))
      val ws = base.join(dots, "vec_id")
        .select(col("dot"), posexplode(col("embedding")).as(Seq("d", "x")))
        .groupBy("d")
        .agg(sum(round(col("dot") * col("x") * 1e9).cast("long")).as("wn"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
      require(ws.length == Dim, s"pcaPower: expected $Dim dims, got ${ws.length}")
      val wd = ws.map(_._2 / 1e9)
      val norm = math.sqrt(wd.map(x => x * x).foldLeft(0.0)(_ + _))
      require(norm > 0.0, "pcaPower: zero update — degenerate corpus")
      v = wd.map(x => (x / norm).toFloat)
      lastNorm = norm
    }
    val spark2 = spark
    import spark2.implicits._
    v.zipWithIndex
      // valueOf (shortest-decimal) + HALF_UP = exactly Spark's round()
      .map { case (x, d) => (d.toLong, x.toDouble, java.math.BigDecimal
        .valueOf(lastNorm).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()) }
      .toSeq.toDF("d", "loading", "eigen")
      .orderBy("d")
  }

  private val pcaSql: String = {
    val v0 = (1.0 / math.sqrt(Dim.toDouble)).toFloat
    val v0Dec = new java.math.BigDecimal(v0.toDouble).toPlainString
    def iter(i: Int): String = {
      val prev = s"v${i - 1}"
      s"""dots$i AS (
         |  SELECT e.vec_id, list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(generate_series(1, $Dim),
         |      dd -> CAST(e.embedding[dd] AS DOUBLE) * $prev.v[dd])),
         |    (a, b) -> a + b) AS dot
         |  FROM embeddings e CROSS JOIN $prev
         |), w$i AS (
         |  SELECT dd, sum(CAST(round(t.dot * CAST(e.embedding[dd] AS DOUBLE)
         |                            * 1000000000.0) AS BIGINT)) AS wn
         |  FROM embeddings e JOIN dots$i t ON e.vec_id = t.vec_id,
         |       (SELECT unnest(generate_series(1, $Dim)) AS dd) dims
         |  GROUP BY dd
         |), n$i AS (
         |  SELECT sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(list(wn / 1000000000.0 ORDER BY dd), x -> x * x)),
         |    (a, b) -> a + b)) AS nrm
         |  FROM w$i
         |), v$i AS (
         |  SELECT list(CAST(CAST((w.wn / 1000000000.0) / n.nrm AS REAL) AS DOUBLE)
         |              ORDER BY w.dd) AS v
         |  FROM w$i w CROSS JOIN n$i n
         |)""".stripMargin
    }
    s"""WITH v0 AS (
       |  SELECT list_transform(generate_series(1, $Dim),
       |    dd -> CAST($v0Dec AS DOUBLE)) AS v
       |),
       |${(1 to PcaIters).map(iter).mkString(",\n")}
       |SELECT CAST(dd - 1 AS BIGINT) AS d, v.v[dd] AS loading,
       |       round(n$PcaIters.nrm, 6) AS eigen
       |FROM v$PcaIters v CROSS JOIN n$PcaIters
       |     CROSS JOIN (SELECT unnest(generate_series(1, $Dim)) AS dd) dims
       |ORDER BY d""".stripMargin
  }

  /** Components returned by [[pcaTopR]]. */
  private val PcaR = 3

  /** One power-iteration matvec: w = Σ_x (x·v)·x with per-term exact
    * integer-NANOS rounding before the order-insensitive long sum (the
    * [[pcaPower]] contract). Shuffle rows = dim; O(dim) result to the
    * driver. */
  private def pcaMatvec(base: DataFrame, v: Array[Float]): Array[Double] = {
    import graft.functions.VectorFunctions
    val vLit = array(v.map(x => lit(x)): _*)
    val dots = base.select(col("vec_id"),
      VectorFunctions.dot(col("embedding"), vLit).as("dot"))
    val ws = base.join(dots, "vec_id")
      .select(col("dot"), posexplode(col("embedding")).as(Seq("d", "x")))
      .groupBy("d")
      .agg(sum(round(col("dot") * col("x") * 1e9).cast("long")).as("wn"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    require(ws.length == Dim, s"pcaMatvec: expected $Dim dims, got ${ws.length}")
    ws.map(_._2 / 1e9)
  }

  /** Top-[[PcaR]] principal directions via power iteration with
    * vector-level DEFLATION — the general form of [[pcaPower]]'s top-1.
    * Component c runs the same [[PcaIters]] matvec rounds, but each
    * round's O(dim) update w is first projected off every previously
    * found direction (w ← w − (vₚ·w)vₚ, sequentially in component
    * order) BEFORE normalizing — orthogonal/deflated power iteration.
    * The deflation is pure driver math on bounded O(dim·r) state (the
    * corpus passes are identical to pcaPower's dim-row aggregates), and
    * every operation — ascending-d projection folds, elementwise
    * subtract, sequential norm fold, float re-quantization of each new
    * v — is fixed-order IEEE arithmetic the DuckDB oracle replays
    * bit-for-bit. Output: (comp, d, loading, eigen), eigen = last
    * round's ‖w‖ rounded to 6dp, Rayleigh-ordered across components
    * (pinned with orthogonality in ClusteringSpec). */
  /** The deflated-power component loop shared by [[pcaTopR]] (which
    * serves the loadings) and [[pcaProject]] (which applies them):
    * returns the [[PcaR]] (float-quantized direction, final ‖w‖)
    * pairs under the exact pcaTopR determinism contract. */
  private def pcaComponentsOf(base: DataFrame): Seq[(Array[Float], Double)] = {
    val v0 = Array.fill(Dim)((1.0 / math.sqrt(Dim.toDouble)).toFloat)
    val comps = scala.collection.mutable.ArrayBuffer.empty[(Array[Float], Double)]
    for (_ <- 1 to PcaR) {
      var v = v0
      var lastNorm = 0.0
      for (_ <- 1 to PcaIters) {
        var wd = pcaMatvec(base, v)
        for ((pv, _) <- comps) {
          var proj = 0.0
          var d = 0
          while (d < Dim) { proj += pv(d).toDouble * wd(d); d += 1 }
          wd = Array.tabulate(Dim)(i => wd(i) - proj * pv(i).toDouble)
        }
        val norm = math.sqrt(wd.map(x => x * x).foldLeft(0.0)(_ + _))
        require(norm > 0.0, "pcaTopR: zero deflated update — rank-deficient corpus")
        v = wd.map(x => (x / norm).toFloat)
        lastNorm = norm
      }
      comps += ((v, lastNorm))
    }
    comps.toSeq
  }

  def pcaTopR(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val comps = pcaComponentsOf(base)
    val spark2 = spark
    import spark2.implicits._
    comps.zipWithIndex.flatMap { case ((v, norm), c) =>
      val eig = java.math.BigDecimal.valueOf(norm)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      v.zipWithIndex.map { case (x, d) => ((c + 1).toLong, d.toLong, x.toDouble, eig) }
    }.toSeq.toDF("comp", "d", "loading", "eigen")
      .orderBy("comp", "d")
  }

  /** [[pcaTopR]]'s oracle: the same R×iters CTE chain with the
    * deflation folds spelled out per prior component. MATERIALIZED
    * throughout — the per-iteration vectors are referenced more than
    * once and DuckDB inlines plain CTEs exponentially. */
  private def pcaDot64Sql(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(generate_series(1, $Dim), dd -> $a[dd] * $b[dd])),
       |    (x, y) -> x + y)""".stripMargin

  /** The pcaTopR CTE chain through comp1..R / eig1..R — shared verbatim
    * by the pca_topr and pca_project oracles. */
  private val pcaChainCtes: String = {
    val v0 = (1.0 / math.sqrt(Dim.toDouble)).toFloat
    val v0Dec = new java.math.BigDecimal(v0.toDouble).toPlainString
    def dot64(a: String, b: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(generate_series(1, $Dim), dd -> $a[dd] * $b[dd])),
         |    (x, y) -> x + y)""".stripMargin
    // one power iteration for component c: matvec, deflate against
    // comp1..comp{c-1} sequentially, norm, re-quantized v
    def iter(c: Int, i: Int): String = {
      val prevV = if (i == 1) s"c${c}v0" else s"c${c}v${i - 1}"
      val matvec =
        s"""c${c}dots$i AS MATERIALIZED (
           |  SELECT e.vec_id, ${dot64("le", s"$prevV.v")} AS dot
           |  FROM (SELECT vec_id, list_transform(generate_series(1, $Dim),
           |          dd -> CAST(embedding[dd] AS DOUBLE)) AS le FROM embeddings) e
           |  CROSS JOIN $prevV
           |), c${c}w$i AS MATERIALIZED (
           |  SELECT list(wn / 1000000000.0 ORDER BY dd) AS w FROM (
           |    SELECT dd, sum(CAST(round(t.dot * CAST(e.embedding[dd] AS DOUBLE)
           |                              * 1000000000.0) AS BIGINT)) AS wn
           |    FROM embeddings e JOIN c${c}dots$i t ON e.vec_id = t.vec_id,
           |         (SELECT unnest(generate_series(1, $Dim)) AS dd) dims
           |    GROUP BY dd)
           |)""".stripMargin
      val defl = (1 until c).map { p =>
        val src = if (p == 1) s"c${c}w$i" else s"c${c}wdef${i}_${p - 1}"
        s"""c${c}wdef${i}_$p AS MATERIALIZED (
           |  SELECT list_transform(generate_series(1, $Dim),
           |    dd -> s.w[dd] - ${dot64(s"comp$p.v", "s.w")} * comp$p.v[dd]) AS w
           |  FROM $src s CROSS JOIN comp$p
           |)""".stripMargin
      }
      val wFinal = if (c == 1) s"c${c}w$i" else s"c${c}wdef${i}_${c - 1}"
      val normV =
        s"""c${c}n$i AS MATERIALIZED (
           |  SELECT sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
           |    list_transform(w, x -> x * x)), (x, y) -> x + y)) AS nrm
           |  FROM $wFinal
           |), c${c}v$i AS MATERIALIZED (
           |  SELECT list_transform(w.w, x -> CAST(CAST(x / n.nrm AS REAL) AS DOUBLE)) AS v
           |  FROM $wFinal w CROSS JOIN c${c}n$i n
           |)""".stripMargin
      (Seq(matvec) ++ defl ++ Seq(normV)).mkString(",\n")
    }
    def comp(c: Int): String = {
      val iters = (1 to PcaIters).map(i => iter(c, i)).mkString(",\n")
      s"""c${c}v0 AS MATERIALIZED (
         |  SELECT list_transform(generate_series(1, $Dim),
         |    dd -> CAST($v0Dec AS DOUBLE)) AS v
         |),
         |$iters,
         |comp$c AS MATERIALIZED (SELECT v FROM c${c}v$PcaIters),
         |eig$c AS MATERIALIZED (SELECT round(nrm, 6) AS eigen FROM c${c}n$PcaIters)""".stripMargin
    }
    (1 to PcaR).map(comp).mkString(",\n")
  }

  /** Whitened top-[[PcaR]] PCA projection — [[pcaTopR]]'s CONSUMER,
    * the serving transform a real pipeline applies after training the
    * components (dimensionality reduction for clustering/ANN, feature
    * whitening before a linear probe): every embedding's score on
    * component c is its dot with vc divided by √eigenᶜ, so the
    * projected coordinates are variance-equalized across components.
    * One corpus pass — the [[PcaR]] codegen'd dots against literal
    * float directions run per row, no shuffle at all beyond the scan —
    * while component training is the same bounded driver-state loop as
    * pca_topr (shared `pcaComponentsOf`).
    *
    * Determinism: directions are float-quantized literals, eigen is the
    * 6dp-rounded double pca_topr already hash-gates, sqrt and the
    * division are correctly-rounded IEEE on both engines, and scores
    * round to 6dp. The oracle composes the pca_topr CTE chain verbatim
    * and projects against comp1..R. */
  def pcaProject(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions
    val base = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val comps = pcaComponentsOf(base)
    val scoreCols = comps.map { case (v, norm) =>
      val eig = java.math.BigDecimal.valueOf(norm)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      round(VectorFunctions.dot(col("embedding"),
        array(v.map(x => lit(x)): _*)) / lit(math.sqrt(eig)), 6)
    }
    base.select(col("vec_id"), posexplode(array(scoreCols: _*)).as(Seq("i", "score")))
      .select(col("vec_id"), (col("i") + 1).cast("long").as("comp"), col("score"))
      .orderBy("vec_id", "comp")
  }

  private val pcaProjectSql: String = {
    val proj = (1 to PcaR).map { c =>
      s"""SELECT e.vec_id, CAST($c AS BIGINT) AS comp,
         |       round(${pcaDot64Sql("e.le", "v.v")} / sqrt(g.eigen), 6) AS score
         |FROM emb64 e CROSS JOIN comp$c v CROSS JOIN eig$c g""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $pcaChainCtes,
       |emb64 AS MATERIALIZED (
       |  SELECT vec_id, list_transform(generate_series(1, $Dim),
       |    dd -> CAST(embedding[dd] AS DOUBLE)) AS le FROM embeddings
       |)
       |SELECT vec_id, comp, score FROM ($proj)
       |ORDER BY vec_id, comp""".stripMargin
  }

  private val pcaTopRSql: String = {
    val sel = (1 to PcaR).map { c =>
      s"""SELECT $c AS comp, CAST(dd - 1 AS BIGINT) AS d, v.v[dd] AS loading, e.eigen
         |FROM comp$c v CROSS JOIN eig$c e
         |     CROSS JOIN (SELECT unnest(generate_series(1, $Dim)) AS dd) dims"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $pcaChainCtes
       |SELECT CAST(comp AS BIGINT) AS comp, d, loading, eigen FROM ($sel)
       |ORDER BY comp, d""".stripMargin
  }

  /** [[dbscanGrid]] parameters: ε in micros on the first two embedding
    * dims (coords span ±0.41 → ±410k micros; ε = 50k gives the ~5-6
    * mean-neighbor density DBSCAN wants), minPts = 5 (incl. self),
    * and a +2²⁰ shift that keeps every quantized coordinate positive
    * BEFORE the cell division (floor-vs-trunc hygiene). */
  private val DbEps = 50000L
  private val DbMinPts = 5L
  private val DbShift = 1048576L

  /** Grid-partitioned DBSCAN (Ester, Kriegel, Sander & Xu, KDD 1996)
    * over the first two embedding dimensions: density clustering with
    * noise — the spatial complement of [[kmeansEmbed]]'s centroidal
    * partition (k-means cannot say "outlier"; DBSCAN's whole output is
    * core/border/noise roles plus clusters of arbitrary shape).
    * ε-neighborhoods are found with the classic cell-grid join: each
    * point probes the 3×3 neighborhood of its home cell (cell side =
    * ε, so any pair within ε shares a probed cell) — the equi-join
    * form of the R*-tree the paper used, and the only corpus-sized
    * shuffle. Core points (≥ minPts neighbors incl. self) connect into
    * clusters via [[Dedup.ccOn]] min-label propagation over core-core
    * edges (maxIters raised to 64: an ε-graph's diameter is geometric,
    * ~extent/ε ≈ 23 here, unlike the star-shaped near-dup graphs the
    * default 20 was tuned for); border points adopt the minimum
    * cluster rep among their core neighbors; everything else is noise.
    * All coordinates are micros-quantized BIGINTs, distances compared
    * as exact integer squares — no float tie can flip a membership.
    *
    * Scale shape: pairs = Σ per-cell (9·|cell| · |cell|) — local
    * density work, never n²; the label loop is per-round checkpointed
    * like every iterative op in the repo. At 100 TB the same plan
    * holds with a coarser first-level grid (cells become the IVF
    * lists of [[Similarity]]); the known caveat is label-prop rounds
    * ∝ cluster diameter — a production deployment swaps ccOn for
    * pointer-doubling/star contraction at O(log n) rounds, noted not
    * faked. */
  def dbscanGrid(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    // probed as both join sides + the final role union
    val pts = ck.ckpt(Tables.embeddings(spark, dir).select(col("vec_id").as("id"),
        expr("CAST(round(CAST(element_at(embedding, 1) AS DOUBLE) * 1000000) AS BIGINT)").as("x"),
        expr("CAST(round(CAST(element_at(embedding, 2) AS DOUBLE) * 1000000) AS BIGINT)").as("y"))
      .withColumn("cx", expr(s"(x + $DbShift) div $DbEps"))
      .withColumn("cy", expr(s"(y + $DbShift) div $DbEps")))
    val offs = for (dx <- -1L to 1L; dy <- -1L to 1L) yield (dx, dy)
    val probe = pts.select(col("id").as("a_id"), col("x").as("ax"), col("y").as("ay"),
        explode(array(offs.map { case (dx, dy) =>
          struct((col("cx") + dx).as("ncx"), (col("cy") + dy).as("ncy")) }: _*)).as("nc"))
      .select(col("a_id"), col("ax"), col("ay"),
        col("nc.ncx").as("cx"), col("nc.ncy").as("cy"))
    val pairs = ck.ckpt(probe
      .join(pts.select(col("id").as("b_id"), col("x").as("bx"),
        col("y").as("by"), col("cx"), col("cy")), Seq("cx", "cy"))
      .filter(col("a_id") =!= col("b_id"))
      .filter(expr(s"(ax - bx) * (ax - bx) + (ay - by) * (ay - by) <= ${DbEps * DbEps}"))
      .select("a_id", "b_id")) // feeds neighbor counts, core edges, border attach
    val core = ck.ckpt(pairs.groupBy("a_id").agg(count(lit(1)).as("nn"))
      .filter(col("nn") + 1L >= DbMinPts).select(col("a_id").as("id")))
    val coreEdges = pairs
      .join(core.withColumnRenamed("id", "a_id"), "a_id")
      .join(core.withColumnRenamed("id", "b_id"), "b_id")
      .select(col("a_id").as("src"), col("b_id").as("dst")) // pairs are already symmetric
    val reps = Dedup.ccOn(coreEdges, maxIters = 64)
    val coreReps = core.join(reps, Seq("id"), "left")
      .select(col("id"), coalesce(col("rep"), col("id")).as("rep"))
    val borderReps = pairs
      .join(core.withColumnRenamed("id", "b_id"), "b_id")
      .join(core.withColumnRenamed("id", "a_id"), Seq("a_id"), "left_anti")
      .join(coreReps.withColumnRenamed("id", "b_id"), "b_id")
      .groupBy(col("a_id").as("id")).agg(min("rep").as("rep"))
    val labeled = coreReps.select(col("id"), col("rep"), lit("core").as("role"))
      .unionAll(borderReps.select(col("id"), col("rep"), lit("border").as("role")))
    labeled
      .unionAll(pts.select("id").join(labeled.select("id"), Seq("id"), "left_anti")
        .select(col("id"), lit(null).cast("long").as("rep"), lit("noise").as("role")))
      .select(col("id").as("vec_id"), col("rep").as("cluster_rep"), col("role"))
      .orderBy("vec_id")
  }

  private val dbscanSql: String =
    s"""WITH RECURSIVE p AS (
       |  SELECT vec_id AS id,
       |         CAST(round(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT) AS x,
       |         CAST(round(CAST(embedding[2] AS DOUBLE) * 1000000) AS BIGINT) AS y
       |  FROM embeddings
       |), pairs AS (
       |  SELECT a.id AS a_id, b.id AS b_id
       |  FROM p a JOIN p b ON a.id <> b.id
       |  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= ${DbEps * DbEps}
       |), core AS (
       |  SELECT a_id AS id FROM pairs GROUP BY a_id HAVING count(*) + 1 >= $DbMinPts
       |), core_edges AS (
       |  SELECT pr.a_id AS src, pr.b_id AS dst FROM pairs pr
       |  JOIN core ca ON ca.id = pr.a_id JOIN core cb ON cb.id = pr.b_id
       |), reach(src, dst) AS (
       |  SELECT src, dst FROM core_edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN core_edges e ON r.dst = e.src
       |), core_reps AS (
       |  SELECT c.id, coalesce(rr.rep, c.id) AS rep
       |  FROM core c LEFT JOIN (
       |    SELECT src AS id, least(src, min(dst)) AS rep FROM reach GROUP BY src
       |  ) rr ON rr.id = c.id
       |), border_reps AS (
       |  SELECT pr.a_id AS id, min(cr.rep) AS rep
       |  FROM pairs pr
       |  JOIN core cb ON cb.id = pr.b_id
       |  JOIN core_reps cr ON cr.id = pr.b_id
       |  WHERE pr.a_id NOT IN (SELECT id FROM core)
       |  GROUP BY pr.a_id
       |), labeled AS (
       |  SELECT id, rep, 'core' AS role FROM core_reps
       |  UNION ALL
       |  SELECT id, rep, 'border' AS role FROM border_reps
       |)
       |SELECT p.id AS vec_id,
       |       CAST(l.rep AS BIGINT) AS cluster_rep,
       |       coalesce(l.role, 'noise') AS role
       |FROM p LEFT JOIN labeled l ON l.id = p.id
       |ORDER BY vec_id""".stripMargin

  /** [[alsRank1]] iteration count — rank-1 ALS is power iteration on
    * R·Rᵀ, so a handful of sweeps reaches the dominant factor
    * direction; 4 shows the convergence curve without bloating the
    * unrolled oracle. */
  private val AlsRounds = 4

  /** Rank-1 alternating least squares over the (customer, part-group)
    * quantity matrix — model TRAINING inside the engine (the
    * [[kmeansTrain]] companion for recommenders; Koren et al. 2009's
    * ALS core at the smallest rank that still alternates): u-step and
    * v-step are the exact closed-form least-squares solutions
    * vⱼ = Σᵢrᵢⱼuᵢ / Σᵢuᵢ², uᵢ = Σⱼrᵢⱼvⱼ / Σⱼvⱼ², each QUANTIZED to
    * integral micros via one DECIMAL(38)/HUGEINT division before the
    * next half-step consumes it — so every iteration is bit-replayable
    * cross-engine and the per-iteration SSE (shipped as exact digit
    * strings, the corr_matrix convention) hash-gates the whole
    * training trajectory, not just the final model.
    *
    * Scale shape per iteration: exactly distributed ALS — the ratings
    * cells equi-join the current factor table on its entity key and
    * partial-aggregate onto the other entity (two shuffles per sweep,
    * factor tables are entity-sized never cell-sized); the SSE pass is
    * one more cells join. Factor tables `localCheckpoint` per
    * half-step (multi-consumer).
    *
    * Round-21 re-shape (opt guide §1.2/§2.4 — fewer barriers, same
    * algebra): the per-sweep SSE row used to be a driver `.head()`
    * between half-steps, making the query a ~14-job latency chain
    * (VERDICT r20 item 4). The SSE rows are now LAZY aggregates over
    * the half-step checkpoints, unioned and computed in ONE final
    * action where the four branches schedule in parallel. The per-sweep
    * (n_users, n_items) pair is one countDistinct pass over `cells`
    * hoisted out of the loop: every sweep's SSE join is inner on keys
    * that cover the full cell key sets (each factor table is a groupBy
    * over a cells join, so no u or i can drop), hence the per-sweep
    * distinct counts all equal the cells-level counts — broadcast once
    * into each row (oracle-gated equivalence). Factor checkpoints now
    * live to end-of-query (the SSE branches read them in the final
    * action), so the user-sized ones store MEMORY_AND_DISK_SER (the
    * link_predict r20 convention for pinned long-lived tables). */
  def alsRank1(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val ser = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    // feeds every half-step and the SSE passes
    val cells = ck.ckpt(Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir).select(col("o_orderkey").as("l_orderkey"),
        col("o_custkey").as("u")), "l_orderkey")
      .groupBy(col("u"), (col("l_partkey") % 211).as("i"))
      .agg(sum(col("l_quantity").cast("long")).as("r")), ser)
    // one pass; BroadcastExchange reuse shares it across the 4 SSE rows
    val nRow = cells.agg(
      countDistinct(col("u")).as("nu"), countDistinct(col("i")).as("ni"))
    var ufac = ck.ckpt(cells.select(col("u")).distinct()
      .select(col("u"), lit(1000000L).as("uf")), ser)
    val sseRows = (1 to AlsRounds).map { t =>
      // item-sized (≤211 rows); feeds the u-step and the SSE join
      val vfac = ck.ckpt(cells.join(ufac, "u")
        .groupBy("i")
        .agg(expr("""CAST((CAST(sum(CAST(r AS DECIMAL(38,0)) * uf) AS DECIMAL(38,0)) * 1000000000000)
                    |     div sum(CAST(uf AS DECIMAL(38,0)) * uf) AS BIGINT)""".stripMargin).as("vf")))
      // feeds the SSE join and the next sweep
      ufac = ck.ckpt(cells.join(vfac, "i")
        .groupBy("u")
        .agg(expr("""CAST((CAST(sum(CAST(r AS DECIMAL(38,0)) * vf) AS DECIMAL(38,0)) * 1000000000000)
                    |     div sum(CAST(vf AS DECIMAL(38,0)) * vf) AS BIGINT)""".stripMargin).as("uf")), ser)
      cells.join(ufac, "u").join(vfac, "i")
        .agg(
          sum(expr("""(CAST(r AS DECIMAL(38,0)) * 1000000000000 - CAST(uf AS DECIMAL(38,0)) * vf)
                     |* (CAST(r AS DECIMAL(38,0)) * 1000000000000 - CAST(uf AS DECIMAL(38,0)) * vf)""".stripMargin)
            .cast("decimal(38,0)")).as("sse"))
        .crossJoin(broadcast(nRow))
        .select(lit(t.toLong).as("iter"), col("nu").as("n_users"),
          col("ni").as("n_items"), col("sse").cast("string").as("sse_digits"))
    }
    sseRows.reduce(_.unionAll(_)).orderBy("iter")
  }

  private val alsSql: String = {
    def sweep(t: Int): String = {
      val prevU = s"uf${t - 1}"
      s"""vf$t AS MATERIALIZED (
         |  SELECT i, CAST((CAST(sum(CAST(r AS HUGEINT) * uf) AS HUGEINT) * 1000000000000)
         |                 // sum(CAST(uf AS HUGEINT) * uf) AS BIGINT) AS vf
         |  FROM cells JOIN $prevU USING (u) GROUP BY i
         |), uf$t AS MATERIALIZED (
         |  SELECT u, CAST((CAST(sum(CAST(r AS HUGEINT) * vf) AS HUGEINT) * 1000000000000)
         |                 // sum(CAST(vf AS HUGEINT) * vf) AS BIGINT) AS uf
         |  FROM cells JOIN vf$t USING (i) GROUP BY u
         |), it$t AS (
         |  SELECT CAST($t AS BIGINT) AS iter,
         |         CAST(count(DISTINCT u) AS BIGINT) AS n_users,
         |         CAST(count(DISTINCT i) AS BIGINT) AS n_items,
         |         CAST(CAST(sum((CAST(r AS HUGEINT) * 1000000000000 - CAST(uf AS HUGEINT) * vf)
         |                     * (CAST(r AS HUGEINT) * 1000000000000 - CAST(uf AS HUGEINT) * vf)) AS HUGEINT)
         |              AS VARCHAR) AS sse_digits
         |  FROM cells JOIN uf$t USING (u) JOIN vf$t USING (i)
         |)""".stripMargin
    }
    s"""WITH cells AS MATERIALIZED (
       |  SELECT o.o_custkey AS u, l.l_partkey % 211 AS i,
       |         CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS r
       |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
       |  GROUP BY u, i
       |), uf0 AS (
       |  SELECT DISTINCT u, CAST(1000000 AS BIGINT) AS uf FROM cells
       |),
       |${(1 to AlsRounds).map(sweep).mkString(",\n")}
       |${(1 to AlsRounds).map(t => s"SELECT * FROM it$t").mkString("\nUNION ALL\n")}
       |ORDER BY iter""".stripMargin
  }

  val entries: Seq[QueryDef] = Seq(
    QueryDef.sql("als_rank1", alsSql)(alsRank1),
    QueryDef.sql("dbscan_grid", dbscanSql)(dbscanGrid),
    QueryDef.sql("pca_power", pcaSql)(pcaPower),
    QueryDef.sql("pca_topr", pcaTopRSql)(pcaTopR),
    QueryDef.sql("pca_project", pcaProjectSql)(pcaProject),
    QueryDef.sql("label_centroids",
      """SELECT CAST(label AS BIGINT) AS label, CAST(d - 1 AS BIGINT) AS dim,
        |       round(avg(CAST(embedding[d] AS DOUBLE)), 6) AS avg_val
        |FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS d) dims
        |GROUP BY label, d ORDER BY label, dim""".stripMargin)(labelCentroids),
    QueryDef.sql("kmeans_embed", kmeansSql)(kmeansEmbed),
    QueryDef.sql("kmeans_train", kmeansTrainSql)(kmeansTrain),
    QueryDef.sql("silhouette_simplified", silhouetteSql)(silhouetteSimplified),
  )
}
