package graft.ops

import graft.functions.VectorFunctions
import graft.tables.Tables
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Similarity search over the embedding column.
  *
  * `ann_bruteforce`: exact cosine top-k — the correctness baseline. The
  * small query set is broadcast against the (arbitrarily large) corpus,
  * cosine runs in whole-stage codegen (`CosineSimilarityF`), and the
  * per-query top-k is a bounded-heap Aggregator with map-side partial
  * aggregation — each input partition contributes at most K rows per
  * query to the shuffle, so there is no single low-cardinality sort of
  * the full pair set (the windowed row_number form would funnel all
  * n×q pairs through ≤NumQueries partitions).
  *
  * `ann_lsh`: the scale path — sign-random-projection buckets
  * (NumPlanes deterministic hyperplanes → NumPlanes-bit code); the
  * per-plane dot product is the codegen'd `DotProductF` against a
  * literal weight vector. Candidates = same-bucket vectors, then exact
  * cosine top-k within the bucket. The plane weights are float-quantized
  * and inlined into the DuckDB oracle as exact decimal literals, so the
  * oracle recomputes the bucket codes (and hence the whole output)
  * bit-for-bit — the "approximate" query gets an EXACT oracle.
  *
  * `ann_ivf`: coarse-quantizer inverted lists (per-label centroids —
  * the k-means step a real IVF would run); assignment is the codegen'd
  * `NearestCentroidIdx` against the collected (k×dim, 6dp-rounded)
  * centroid matrix; queries probe their own list (nprobe=1). Centroids
  * round-trip exactly through the oracle's `round(avg(...), 6)` (the
  * hash-green label_centroids invariant), so IVF assignment and output
  * are SQL-recomputable too.
  *
  * Sims are rounded to 6dp and ranked by (rounded sim, id) so engine ULP
  * differences cannot flip ranks.
  */
object Similarity {

  val K          = 5
  val NumQueries = 20
  /** 8 planes → 256 buckets: collision odds stay useful for clustered
    * data (the fixtures' label clusters) while cutting candidates ~100×;
    * more planes would empty the buckets at these corpus sizes. */
  val NumPlanes  = 8

  /** embedding dimensionality of the fixtures (FIXTURES.md). */
  val Dim = 64

  final case class SimPair(query_id: Long, neighbor_id: Long, sim: Double)
  final case class Neighbor(neighbor_id: Long, sim: Double)
  final case class SimBuf(var items: List[(Double, Long)])

  /** bounded top-k of (sim desc, neighbor_id asc) per query — partial
    * buffers never exceed K elements, so the map-side combine reduces
    * each partition's contribution to ≤K rows per query before the
    * shuffle (same Aggregator shape as ops.TopK.TopKAgg). */
  class TopNeighborsAgg(k: Int) extends Aggregator[SimPair, SimBuf, Seq[Neighbor]] {
    private def better(a: (Double, Long), b: (Double, Long)): Boolean =
      a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)

    private def insert(items: List[(Double, Long)], v: (Double, Long)): List[(Double, Long)] =
      if (items.sizeIs >= k && !better(v, items.last)) items
      else {
        val (front, back) = items.span(better(_, v))
        (front ::: v :: back).take(k)
      }

    override def zero: SimBuf = SimBuf(Nil)
    override def reduce(b: SimBuf, v: SimPair): SimBuf = {
      b.items = insert(b.items, (v.sim, v.neighbor_id))
      b
    }
    override def merge(a: SimBuf, b: SimBuf): SimBuf = {
      a.items = b.items.foldLeft(a.items)(insert)
      a
    }
    override def finish(b: SimBuf): Seq[Neighbor] =
      b.items.map { case (s, id) => Neighbor(id, s) }
    override def bufferEncoder: Encoder[SimBuf] = Encoders.product[SimBuf]
    override def outputEncoder: Encoder[Seq[Neighbor]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Neighbor]]()
  }

  /** (query_id, neighbor_id, sim) pairs → per-query top-K with dense
    * rank, ordered (sim desc, neighbor_id). Output identical to the
    * row_number-window form, so it shares that form's SQL oracle. */
  private def rankedTopK(spark: SparkSession, pairs: DataFrame, k: Int = K): DataFrame = {
    import spark.implicits._
    pairs.select(col("query_id"), col("neighbor_id"), col("sim")).as[SimPair]
      .groupByKey(_.query_id)
      .agg(new TopNeighborsAgg(k).toColumn.name("top"))
      .toDF("query_id", "top")
      .select(col("query_id"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("query_id"), col("t.neighbor_id"),
        (col("i") + 1).cast("long").as("rank"), col("t.sim"))
      .orderBy("query_id", "rank")
  }

  /** the shared SQL tail: rank pairs per query, keep top K. */
  private def rankSql(pairsCte: String): String =
    s"""ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM $pairsCte
       |)
       |SELECT query_id, neighbor_id, rank, sim FROM ranked
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  def annBruteforce(spark: SparkSession, dir: String): DataFrame = {
    val base    = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val queries = base.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val pairs = base.join(broadcast(queries), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(VectorFunctions.cosine(col("qv"), col("embedding")), 6).as("sim"))
    rankedTopK(spark, pairs)
  }

  /** deterministic pseudo-random unit-ish hyperplanes: weight(p, d) from
    * a splitmix-style integer mix — identical across runs and nodes. */
  private def planeWeight(p: Int, d: Int): Double = {
    var z = p.toLong * 2654435761L + d.toLong * 40503L + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^= (z >>> 31)
    (z.toDouble / Long.MaxValue.toDouble) // in [-1, 1]
  }

  /** plane weights quantized to float so the oracle can inline each
    * weight's exact decimal expansion as a SQL literal (every float is
    * exactly representable as a finite decimal AND as a double, so both
    * engines multiply bit-identical operands). */
  def planeWeightsF(p: Int): Array[Float] = Array.tabulate(Dim)(d => planeWeight(p, d).toFloat)

  /** NumPlanes-bit sign code of a vector under the fixed hyperplanes —
    * one codegen'd DotProductF per plane against a literal weight array
    * (the aggregate(zip_with(...)) form evaluates interpreted lambdas
    * per element and falls out of whole-stage codegen). `planeOffset`
    * selects an independent plane family (multi-table LSH callers). */
  def bucketCode(emb: Column, planeOffset: Int = 0): Column = {
    val bits = (0 until NumPlanes).map { p =>
      val w = array(planeWeightsF(planeOffset + p).map(x => lit(x)): _*)
      when(VectorFunctions.dot(emb, w) >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** the same bucket code as a DuckDB SQL expression: per plane, a
    * left-fold dot product in index order (matching VectorMath.dotF's
    * accumulation exactly) against the float weights' exact decimals.
    * `planeOffset` selects the table's plane family, mirroring
    * [[bucketCode]]. */
  private def bucketSql(embCol: String, planeOffset: Int = 0): String =
    (0 until NumPlanes).map { p =>
      val weights = planeWeightsF(planeOffset + p)
        .map(w => new java.math.BigDecimal(w.toDouble).toPlainString)
        .mkString("[", ", ", "]")
      s"""(CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |  list_transform(generate_series(1, $Dim), d -> CAST($embCol[d] AS DOUBLE) * ($weights)[d])),
         |  (a, v) -> a + v) >= 0 THEN ${1L << p} ELSE 0 END)""".stripMargin
    }.mkString("(", " + ", ")")

  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      .withColumn("bucket", bucketCode(col("embedding")))
    val queries = base.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("bucket"))
    val pairs = base.join(broadcast(queries), Seq("bucket"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(VectorFunctions.cosine(col("qv"), col("embedding")), 6).as("sim"))
    rankedTopK(spark, pairs)
  }

  /** tables of [[annLshMulti]] — the recall dial of multi-table LSH: a
    * single 8-plane table misses a cos ≈ 0.99 neighbor with p ≈ 0.31;
    * six independent OR-ed tables cut the miss to ≈ 0.1%
    * (SimilaritySpec pins the envelope on planted pairs AND the served
    * path below). */
  val LshTables = 6

  /** Multi-table sign-LSH ANN — the SERVED form of the recall envelope
    * ([[annLsh]] keeps the single-table shape): each vector gets
    * [[LshTables]] independent bucket codes (plane families
    * t·NumPlanes, all map-side codegen'd); candidates are the OR-union
    * of the per-table bucket collisions via ONE equi-join on (table,
    * code) — only (id, table, code) rows enter the shuffle, the pair
    * set dedups on (query, neighbor) before any embedding re-attach,
    * and exact cosine + the bounded-heap top-K run on the (tiny)
    * deduped candidates. Same scale shape as [[graft.ops.Dedup
    * .embeddingNearDup]]; no all-pairs anywhere. */
  def annLshMultiOn(corpus: DataFrame, isQuery: Column): DataFrame = Checkpoints.scope { ck =>
    val spark = corpus.sparkSession
    val base = ck.ckpt(corpus.select(col("vec_id"), col("embedding")))
      // feeds the bucket explode and both candidate re-attach joins
    val buckets = base.select(
      col("vec_id"),
      posexplode(array((0 until LshTables).map(t =>
        bucketCode(col("embedding"), t * NumPlanes)): _*)).as(Seq("t", "code")))
    val qb = buckets.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("t"), col("code"))
    val cands = buckets.join(broadcast(qb), Seq("t", "code"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .distinct()
    val pairs = cands
      .join(base.select(col("vec_id").as("neighbor_id"), col("embedding")), "neighbor_id")
      .join(broadcast(base.filter(isQuery)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        round(VectorFunctions.cosine(col("qv"), col("embedding")), 6).as("sim"))
    rankedTopK(spark, pairs)
  }

  def annLshMulti(spark: SparkSession, dir: String): DataFrame =
    annLshMultiOn(Tables.embeddings(spark, dir), col("vec_id") < NumQueries)

  /** lists each query probes — ≥2 so boundary vectors (nearest centroid
    * ≠ their neighbor's centroid) stay reachable; nprobe=1 has a recall
    * cliff exactly there. */
  val NProbe = 2

  /** IVF-style ANN: a coarse quantizer (here: per-label centroids — the
    * k-means step a real IVF would run; same Aggregator machinery) maps
    * every CORPUS vector to its single nearest centroid's inverted
    * list; each QUERY probes its `nprobe` nearest lists (multi-probe —
    * the codegen'd `TopCentroidIdxs` ranks centroids by (dist, label),
    * so the probe set is oracle-recomputable). A corpus vector lives in
    * exactly one list and a query's probed lists are distinct, so no
    * candidate pair is generated twice. The corpus shuffles once on the
    * list id; at scale each list is a partition and a query touches
    * nprobe/k of the data.
    */
  def annIvf(spark: SparkSession, dir: String): DataFrame =
    annIvfProbe(spark, dir, NProbe)

  /** Per-label centroid matrix ((label, dim-ordered doubles) rows,
    * label asc, 6dp-rounded — labelCentroids' oracle-stable output) —
    * shared by the IVF literal builder and the PQ codebook slicer. */
  private def centroidRows(spark: SparkSession, dir: String): Array[(Long, Array[Double])] =
    Artifacts.memo(spark, ("ivf_centroids", dir)) { _ =>
      Centroids.labelCentroids(spark, dir)
        .groupBy("label").agg(collect_list(struct(col("dim"), col("avg_val"))).as("dims"))
        .collect().map { r =>
          val arr = new Array[Double](Dim)
          r.getSeq[org.apache.spark.sql.Row](1).foreach(d => arr(d.getLong(0).toInt) = d.getDouble(1))
          (r.getLong(0), arr)
        }
        .sortBy(_._1)
    }

  /** Coarse IVF centroids (k = 10 label groups) as plan literals:
    * k×dim doubles, sorted by label so first-wins tie-breaking = the
    * oracle's ORDER BY dist,label. Returns (list labels, centroid
    * matrix). */
  private def ivfCentroidLits(spark: SparkSession, dir: String): (Column, Column) = {
    val cents = centroidRows(spark, dir)
    // nearestCentroidIdx returns -1 on an empty matrix, which 1-based
    // element_at would reject at runtime — fail at plan time instead
    require(cents.nonEmpty, "ivfCentroidLits: centroid table is empty")
    (typedLit(cents.map(_._1).toSeq), typedLit(cents.map(_._2.toSeq).toSeq))
  }

  def annIvfProbe(spark: SparkSession, dir: String, nprobe: Int): DataFrame = {
    val base = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val (labelsLit, matrixLit) = ivfCentroidLits(spark, dir)
    val listed = base.withColumn("ivf_list",
      element_at(labelsLit, VectorFunctions.nearestCentroidIdx(col("embedding"), matrixLit) + 1))
    // query side: explode to the nprobe nearest lists (the transform
    // lambda is interpreted but runs only on the NumQueries query rows;
    // the corpus-side assignment above stays fully codegen'd)
    val queries = base.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        explode(transform(
          VectorFunctions.topCentroidIdxs(col("embedding"), matrixLit, nprobe),
          i => element_at(labelsLit, i + 1))).as("ivf_list"))
    val pairs = listed.join(broadcast(queries), Seq("ivf_list"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(VectorFunctions.cosine(col("qv"), col("embedding")), 6).as("sim"))
    rankedTopK(spark, pairs)
  }

  /** SQ8 scalar-quantized ANN — the vector-COMPRESSION scale path (the
    * banding/bucketing paths cut candidates; this cuts bytes): per-
    * dimension [lo, hi] corpus bounds (a 64-row aggregate with map-side
    * combine, collected as bounded metadata exactly like the IVF
    * centroids) quantize every float to an 8-bit code — 4× smaller than
    * float32, 8× smaller than the double form, so a 100 TB embedding
    * corpus scans/caches/shuffles at quarter cost. Both sides quantized
    * (symmetric scan), so the candidate distance is EXACT INTEGER
    * squared-L2 in code space — no rounding contract needed anywhere,
    * and the top-k is cross-engine stable by construction (ties broken
    * by neighbor_id). The quantization itself is fixed-order IEEE
    * double arithmetic (`VectorMath.quantize8`), bit-reproduced by the
    * oracle's identical formula. Ranking reuses the bounded-heap
    * Aggregator (≤K rows per query per partition reach the shuffle). */
  def annSq8(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val bounds = base
      .select(posexplode(col("embedding")).as(Seq("d", "x")))
      .groupBy("d")
      .agg(min(col("x")).cast("double").as("lo"), max(col("x")).cast("double").as("hi"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    require(bounds.length == Dim, s"annSq8: expected $Dim dims, got ${bounds.length}")
    val loLit = typedLit(bounds.map(_._2).toSeq)
    val hiLit = typedLit(bounds.map(_._3).toSeq)
    val coded = base.withColumn("code",
      VectorFunctions.quantize8(col("embedding"), loLit, hiLit))
    val queries = coded.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("code").as("qcode"))
    // sim = −qdist: exact in double (qdist ≤ 64·255² ≪ 2^53), so the
    // shared (sim desc, id asc) heap ranks by (qdist asc, id asc)
    val pairs = coded.join(broadcast(queries), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (-VectorFunctions.sqDistInt(col("qcode"), col("code"))).cast("double").as("sim"))
    rankedTopK(spark, pairs)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        (-col("sim")).cast("long").as("qdist"))
  }

  /** Subspaces of the product quantizer: [[Dim]]=64 dims split into 16
    * blocks of 4; codebooks init from the subspace slices of the first
    * [[PqC]] corpus vectors (deterministic seeds, the kmeans_embed
    * convention) and take one Lloyd refinement round — per-subspace
    * k-means, trained on the full corpus via one bounded cells
    * aggregate. Code space is [[PqC]]^m = 64^16 cells from a 16×64×4
    * double codebook. */
  val PqM      = 16
  val PqSubDim = Dim / PqM
  val PqC      = 64

  /** Product-quantization ANN with asymmetric-distance (ADC) scan — the
    * aggressive end of the vector-compression axis ([[annSq8]] is 4×
    * smaller than float32; this is 32×: each corpus vector becomes
    * [[PqM]] small ints = 8 B at cluster width, so a 100 TB float32
    * corpus scans as ~3 TB of codes while RAW queries keep full
    * precision).
    *
    * Encode: per subspace s, code_s = nearest codebook entry of the
    * vector's 8-dim slice (codegen'd `NearestCentroidIdx` against the
    * sliced literal codebook — strict-less-than, lowest entry on ties).
    * Scan: qdist(q, x) = Σ_s ‖q_s − book_s[x.code_s]‖² with the QUERY
    * side unquantized — each term is the codegen'd `SqDistFD` against
    * the codebook entry selected by `element_at`, summed s = 0..m−1 in
    * a fixed fold order, so the oracle's s-ordered `list_reduce`
    * reproduces the double bit-for-bit. Ranking reuses the bounded-heap
    * Aggregator via the exact sim = −qdist embedding (no double-
    * rounding hazard: negation is exact).
    *
    * The broadcast side is the [[NumQueries]]-row query set (the
    * bruteforce convention); the corpus side never re-attaches raw
    * embeddings — the scan reads codes only, which is the entire point
    * of PQ at scale. */
  /** One-Lloyd-round PQ codebook training over `base` (vec_id,
    * embedding) — shared by [[annPq]] and [[annIvfPq]]. Init = subspace
    * slices of the first [[PqC]] vectors (bounded driver metadata, the
    * IVF-centroid convention); ONE Lloyd refinement (assign → update →
    * assign, the kmeans_embed convention) where the update is a single
    * cells pass: explode each vector to (subspace, code, dim-in-
    * subspace, value) and avg — the grouping key space is m×PqC×subdim
    * cells, so map-side partial aggregation reduces the 64×-row
    * explosion to a few thousand rows per partition before the shuffle.
    * Centroids round to 6dp (the hash-green label_centroids invariant
    * absorbing float-sum association); empty cells keep their init
    * entry (the k-means empty-cluster rule), so every codebook slot
    * stays populated. Returns the m literal codebook columns. */
  private def pqTrainedBooks(
      spark: SparkSession, dir: String): IndexedSeq[Column] =
    // base is derived HERE, not passed in: the memo key is (session,
    // dir, tag), so a caller-supplied frame would let a filtered base
    // poison the cache for every later caller
    Artifacts.memo(spark, ("pq_books", dir))(_ => pqTrainedBooksCompute(
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))))

  private def pqTrainedBooksCompute(base: DataFrame): IndexedSeq[Column] = {
    val train = base.filter(col("vec_id") < PqC)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    require(train.nonEmpty, "pqTrainedBooks: train sample is empty")
    val init: Array[Array[Array[Double]]] = Array.tabulate(PqM) { s =>
      train.map(_._2.slice(s * PqSubDim, (s + 1) * PqSubDim).map(_.toDouble))
    }
    val books0 = init.map(b => typedLit(b.map(_.toSeq).toSeq))
    val code0 = (0 until PqM).map { s =>
      VectorFunctions.nearestCentroidIdx(
        slice(col("embedding"), s * PqSubDim + 1, PqSubDim), books0(s))
    }
    val sCol = (col("d") / PqSubDim).cast("int")
    val cells = base
      .select(array(code0: _*).as("codes"), posexplode(col("embedding")).as(Seq("d", "x")))
      .select(sCol.as("s"), element_at(col("codes"), sCol + 1).as("code"),
        (col("d") % PqSubDim).as("i"), col("x").cast("double").as("x"))
      .groupBy("s", "code", "i").agg(round(avg(col("x")), 6).as("m"))
      .collect()
    val refined = init.map(_.map(_.clone))
    cells.foreach { r =>
      refined(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3)
    }
    refined.toIndexedSeq.map(b => typedLit(b.map(_.toSeq).toSeq))
  }

  def annPq(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val base = ck.ckpt(Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")))
      // feeds the coded scan and the query set (training reads its
      // own corpus inside the memoized artifact)
    val books = pqTrainedBooks(spark, dir)
    val codeCols = (0 until PqM).map { s =>
      VectorFunctions.nearestCentroidIdx(
        slice(col("embedding"), s * PqSubDim + 1, PqSubDim), books(s)).as(s"c$s")
    }
    val coded = base.select(col("vec_id") +: codeCols: _*)
    val queries = base.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val adc = (0 until PqM).map { s =>
      VectorFunctions.sqDist(
        slice(col("qv"), s * PqSubDim + 1, PqSubDim),
        element_at(books(s), col(s"c$s") + 1))
    }.foldLeft(lit(0.0))(_ + _)
    val pairs = coded.join(broadcast(queries), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (-round(adc, 6)).as("sim"))
    rankedTopK(spark, pairs)
      .select(col("query_id"), col("neighbor_id"), col("rank"), (-col("sim")).as("qdist"))
  }

  /** IVF + PQ composed — the production ANN index shape (FAISS IVFPQ
    * with by_residual=false): the coarse quantizer prunes WHICH vectors
    * are scanned ([[annIvf]]'s [[NProbe]]-list probe) while the product
    * quantizer shrinks WHAT is scanned ([[annPq]]'s 16-code rows + ADC
    * against raw queries). The two axes multiply: at 100 TB a query
    * touches nprobe/nlist of the corpus, reading 8 B codes instead of
    * 256 B floats — ~1000× less I/O than brute force, which is why this
    * exact composition is the standard billion-scale serving layout.
    * The corpus pass stays one codegen'd map (list assignment + m code
    * assignments, no shuffle); the probe joins on the list id EQUI-key
    * with the query set broadcast, and ADC never re-attaches raw
    * corpus embeddings. Codebooks and coarse centroids are the same
    * trained artifacts as the component queries, so the oracle composes
    * their CTEs verbatim. */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val base = ck.ckpt(Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")))
    rankedTopK(spark, ivfPqAdcPairs(spark, dir, base))
      .select(col("query_id"), col("neighbor_id"), col("rank"), (-col("sim")).as("qdist"))
  }

  /** The IVFPQ candidate scan shared by [[annIvfPq]] (serves ADC ranks
    * directly) and [[annRefine]] (passes them to an exact re-rank):
    * (query_id, neighbor_id, sim) where sim = −round(ADC distance, 6).
    * `base` must be the checkpointed (vec_id, embedding) corpus
    * feeding the coded scan (codebook training derives its own corpus
    * inside the memoized artifact). */
  private def ivfPqAdcPairs(spark: SparkSession, dir: String, base: DataFrame): DataFrame = {
    val books = pqTrainedBooks(spark, dir)
    val (labelsLit, matrixLit) = ivfCentroidLits(spark, dir)
    val codeCols = (0 until PqM).map { s =>
      VectorFunctions.nearestCentroidIdx(
        slice(col("embedding"), s * PqSubDim + 1, PqSubDim), books(s)).as(s"c$s")
    }
    val listCol = element_at(labelsLit,
      VectorFunctions.nearestCentroidIdx(col("embedding"), matrixLit) + 1).as("ivf_list")
    val coded = base.select(col("vec_id") +: listCol +: codeCols: _*)
    val queries = base.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        explode(transform(
          VectorFunctions.topCentroidIdxs(col("embedding"), matrixLit, NProbe),
          i => element_at(labelsLit, i + 1))).as("ivf_list"))
    val adc = (0 until PqM).map { s =>
      VectorFunctions.sqDist(
        slice(col("qv"), s * PqSubDim + 1, PqSubDim),
        element_at(books(s), col(s"c$s") + 1))
    }.foldLeft(lit(0.0))(_ + _)
    // a corpus vector lives in exactly one list, so a (query, neighbor)
    // pair arises from at most one probed list — no dedup needed
    coded.join(broadcast(queries), Seq("ivf_list"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (-round(adc, 6)).as("sim"))
  }

  /** Candidates each query passes from the compressed stage to the
    * exact re-rank — 4·[[K]] is the standard refine factor (FAISS
    * `IndexRefine` k_factor): enough that the true top-[[K]] usually
    * survives ADC's quantization error, constant per query. */
  val RefineR = 20

  /** Two-stage retrieval: IVFPQ candidate generation + exact re-rank
    * (FAISS `IndexRefineFlat`) — THE standard production serving
    * composition, closing the recall gap PQ compression opens. Stage 1
    * is [[annIvfPq]]'s scan verbatim: the corpus is touched only as
    * 16 B/vector codes inside the probed lists, and a bounded heap
    * keeps the top-[[RefineR]] ADC candidates per query. Stage 2
    * fetches raw embeddings for ONLY those Q·R candidate ids — an
    * equi-join against the corpus, Q·R constant rows at any corpus
    * size, so at 100 TB the full-precision vectors are read for ~100
    * rows while the 6 TB code scan does all the winnowing — and
    * re-ranks by exact cosine. Recall recovers to what the candidate
    * set contains (measured: 0.30 ADC-ranked → exact-ranked strictly
    * higher, envelope pinned in `SimilaritySpec`) at a per-query cost
    * that stays O(R·dim). */
  def annRefine(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val base = ck.ckpt(Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")))
    val cands = rankedTopK(spark, ivfPqAdcPairs(spark, dir, base), RefineR)
      .select(col("query_id"), col("neighbor_id"))
    val queries = base.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val exact = cands
      .join(base.select(col("vec_id").as("neighbor_id"), col("embedding")), "neighbor_id")
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        round(VectorFunctions.cosine(col("qv"), col("embedding")), 6).as("sim"))
    rankedTopK(spark, exact)
  }

  /** PROBE-ONLY fixed-nlist kNN graph — NOT a served query. This is
    * the shape whose measured quadratic (fixed nlist=10 ⇒ candidate
    * work n²·nprobe/10: 2.6 s at 1× sf0.1, 902.6 s at 32×, round-14
    * probe table in PERF.md) motivated the corpus-scaled [[knnGraph]]
    * that the `knn_graph` query now serves. It stays in the codebase
    * so the agreement test against [[annIvf]] (same quantizer, same
    * probes) keeps pinning the candidate-generation semantics; the
    * knee curve itself is on record in PERF.md (round-14 table).
    *
    * Candidate generation is still an EQUI-JOIN on the list id between
    * the single-assigned corpus and the nprobe-exploded corpus — the
    * defect is purely the CONSTANT list count, which makes per-list
    * population ∝ n and Σ|list|² ∝ n². */
  def knnGraphFixedNlist(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val (labelsLit, matrixLit) = ivfCentroidLits(spark, dir)
    val listed = base.withColumn("ivf_list",
      element_at(labelsLit, VectorFunctions.nearestCentroidIdx(col("embedding"), matrixLit) + 1))
    val probes = base
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        explode(transform(
          VectorFunctions.topCentroidIdxs(col("embedding"), matrixLit, NProbe),
          i => element_at(labelsLit, i + 1))).as("ivf_list"))
    val pairs = listed.join(probes, Seq("ivf_list"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(VectorFunctions.cosine(col("qv"), col("embedding")), 6).as("sim"))
    rankedTopK(spark, pairs)
  }

  /** Target list population of [[knnGraph]]: lists stay ~B rows
    * at ANY corpus size because the list count scales as k = ⌈n/B⌉. */
  val KnnScaledB = 50L

  /** Corpus-wide kNN graph — the building block of graph-based
    * curation (SemDeDup cluster pruning, duplicate-cluster seeding,
    * diversity sampling, [[labelNoiseDetect]]): EVERY vector gets its
    * top-[[K]] in-list neighbors. Served by the `knn_graph` query.
    *
    * Scale shape (the round-17 re-point — this name used to serve the
    * fixed-nlist shape now quarantined as [[knnGraphFixedNlist]]): the
    * list COUNT grows with the corpus (k = ⌈n/B⌉, the SemDeDup sizing
    * `Dedup.semanticK` uses) via the two-level coarse-quantized
    * k-means assignment (`Centroids.kmeansAssignTwoLevel` — driver
    * state O(√k·dim), per-row work O(√k·dim)), so the per-list
    * population is ~[[KnnScaledB]] rows at any n and the self-equi-join
    * on the list id does Σ|list|² ≈ n·B work — LINEAR in n
    * (probe-measured near-linear at 1×/8×/32×). nprobe is 1 by
    * construction (own list only) — the documented IVF boundary-recall
    * trade the two-level assignment already carries; the exact oracle
    * replays the identical quantizer. */
  def knnGraph(spark: SparkSession, dir: String): DataFrame =
    knnEdgesOn(Tables.embeddings(spark, dir))

  /** Pre-re-point name of [[knnGraph]], kept so existing consumers and
    * specs read unambiguously; same plan, same oracle. */
  def knnGraphScaled(spark: SparkSession, dir: String): DataFrame =
    knnGraph(spark, dir)

  /** Prune threshold of [[knnDiversityPrune]] — the SemDeDup ε. */
  val DiversityCos = 0.99

  /** Diversity pruning over the kNN graph — the consumer the graph is
    * built FOR (SemDeDup-style cluster pruning / coreset selection): a
    * vector is pruned when its own top-[[K]] neighbor list contains a
    * LOWER-id vector at cosine ≥ [[DiversityCos]] (the parallel
    * lower-id rule `semantic_dedup` established — deterministic, no
    * sequential greedy chain). Input is the [[knnEdgesOn]] edge set, so
    * the decision work is Σ|list| rows, never n²; the rule differs from
    * semantic_dedup in scope — only near-twins that SURVIVE into a
    * rank-≤K edge can prune, i.e. it consumes the graph artifact
    * rather than re-scanning clusters.
    *
    * The fixtures plant no near-dups, so the corpus is each vector
    * plus the standard perturbed copy (id + 1,000,000, cos ≈ 0.9998 —
    * the `semantic_dedup`/`embedding_neardup` convention); copies
    * prune via their original unless the quantizer splits the pair
    * across a list boundary (the documented recall trade, same both
    * engines). */
  def knnDiversityPrune(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val base = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val perturbed = base.select(
      (col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        (x.cast("double") *
          (lit(1.0) + ((i % 5) - 2).cast("double") / lit(100.0))).cast("float"))
        .as("embedding"))
    val corpus = ck.ckpt(base.union(perturbed))
    val edges = knnEdgesOn(corpus)
    val dup = edges
      .filter(col("sim") >= DiversityCos && col("neighbor_id") < col("query_id"))
      .select(col("query_id").as("vec_id")).distinct()
    corpus.select("vec_id")
      .join(dup.withColumn("pruned", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("pruned"), lit(false)).as("pruned"))
      .orderBy("vec_id")
  }

  /** [[jlProject]] target dimensionality — 64 → 16 is a 4× footprint
    * cut with (by JL) ~O(1/√16) expected metric distortion. */
  private val JlK = 16

  /** Johnson–Lindenstrauss random projection 64 → [[JlK]] dims with a
    * measured DISTORTION AUDIT — the cheap dimensionality cut an
    * embedding pipeline applies before ANN indexing when 4× fewer
    * bytes/vector matters more than the last recall point (JL 1984:
    * random linear maps preserve pairwise distances in expectation;
    * [[annSq8]] compresses precision, this compresses DIMENSION). The
    * projection matrix is the deterministic [[planeWeightsF]] family —
    * float-quantized so the oracle inlines each weight's exact decimal
    * expansion and both engines multiply bit-identical operands (the
    * ann_lsh convention). Served output: the query set's pairwise
    * distortion table — squared distance before/after plus the
    * UNBIASED ratio 3·d²_proj/(k·d²_orig) in micros (≈10⁶ when the
    * metric survives; the constant is 1/(k·Var(w)) and these
    * uniform[−1,1]-family weights have Var = 1/3 — the first cut used
    * n/k and measured mean ratio 21.29 ≈ 64/3, the audit catching its
    * own miscalibration) — because a projection without its measured
    * distortion is a claim, not an operator.
    *
    * Scale shape: the projection itself is a per-row 16-dot-product
    * codegen'd map at scan speed (zero shuffle); the audit touches
    * only the ≤NumQueries² query pairs. */
  def jlProject(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val proj = array((0 until JlK).map { k =>
      val w = planeWeightsF(k).map(_.toDouble)
      aggregate(
        zip_with(col("embedding"),
          array(w.map(lit(_)): _*), (a, b) => a.cast("double") * b),
        lit(0.0), (acc, v) => acc + v)
    }: _*)
    // NumQueries rows; both sides of the pair join
    val q = ck.ckpt(Tables.embeddings(spark, dir)
      .filter(col("vec_id") < NumQueries)
      .select(col("vec_id"), col("embedding"), proj.as("y")))
    def d2(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, yv) => (x.cast("double") - yv.cast("double"))
        * (x.cast("double") - yv.cast("double"))), lit(0.0), (acc, v) => acc + v)
    q.as("l").join(q.as("r"), col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id").as("id_a"), col("r.vec_id").as("id_b"),
        round(d2(col("l.embedding"), col("r.embedding")), 6).as("d2_orig"),
        round(d2(col("l.y"), col("r.y")), 6).as("d2_proj"))
      .select(col("id_a"), col("id_b"), col("d2_orig"), col("d2_proj"),
        // d2_orig = 0 (identical query pair) pins NULL on both engines —
        // Spark's non-ANSI /0 yields NULL but DuckDB computes inf and
        // fails the BIGINT cast, so the guard must be explicit
        expr(s"""CASE WHEN d2_orig = 0 THEN CAST(NULL AS BIGINT)
                |ELSE CAST(round(d2_proj * 3 * 1000000 / ($JlK * d2_orig)) AS BIGINT)
                |END""".stripMargin)
          .as("ratio_micros"))
      .orderBy("id_a", "id_b")
  }

  private val jlSql: String = {
    def dot(k: Int): String = {
      val weights = planeWeightsF(k)
        .map(w => new java.math.BigDecimal(w.toDouble).toPlainString)
        .mkString("[", ", ", "]")
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |  list_transform(generate_series(1, $Dim), d -> CAST(embedding[d] AS DOUBLE) * ($weights)[d])),
         |  (a, v) -> a + v)""".stripMargin
    }
    val d2o =
      """round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |  list_transform(generate_series(1, 64), d ->
        |    (CAST(l.embedding[d] AS DOUBLE) - CAST(r.embedding[d] AS DOUBLE))
        |    * (CAST(l.embedding[d] AS DOUBLE) - CAST(r.embedding[d] AS DOUBLE)))),
        |  (a, v) -> a + v), 6)""".stripMargin
    val d2p =
      s"""round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |  list_transform(generate_series(1, $JlK), d -> (l.y[d] - r.y[d]) * (l.y[d] - r.y[d]))),
         |  (a, v) -> a + v), 6)""".stripMargin
    s"""WITH proj AS (
       |  SELECT vec_id, embedding,
       |         [${(0 until JlK).map(dot).mkString(",\n          ")}] AS y
       |  FROM embeddings WHERE vec_id < $NumQueries
       |), pairs AS (
       |  SELECT l.vec_id AS id_a, r.vec_id AS id_b,
       |         $d2o AS d2_orig,
       |         $d2p AS d2_proj
       |  FROM proj l JOIN proj r ON l.vec_id < r.vec_id
       |)
       |SELECT id_a, id_b, d2_orig, d2_proj,
       |       CASE WHEN d2_orig = 0 THEN NULL
       |            ELSE CAST(round(d2_proj * 3 * 1000000 / ($JlK * d2_orig)) AS BIGINT)
       |       END AS ratio_micros
       |FROM pairs ORDER BY id_a, id_b""".stripMargin
  }

  /** [[mmrRerank]] candidate depth (the retrieval stage's R) and the
    * number of greedy picks (the served K). */
  private val MmrCand = 15
  private val MmrK = 5

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    * 1998) — the diversification pass between retrieval and serving
    * that keeps a result page (or a RAG context window) from spending
    * its K slots on near-duplicates of one hit: greedily pick
    * argmax_c λ·rel(q,c) − (1−λ)·max_{s∈S} sim(c,s) with λ = 0.7.
    * Scores are EXACT integers: cosines quantize to micros first (the
    * rounded-double replay [[annBruteforce]] proved, then ×10⁶), and
    * the greedy objective is 7·rel − 3·maxsim in λ-tenths·micros, so
    * every comparison the greedy makes is integer-exact cross-engine;
    * ties break on the smaller neighbor id. The [[MmrK]]-step loop is
    * UNROLLED into the plan (constant plan size — step k is a join
    * against the k−1 picks so far, never a driver loop over rows).
    *
    * Scale shape: per-query work is constant (R candidates, R² sim
    * matrix, K unrolled argmax steps over ≤NumQueries·R-row frames) —
    * the corpus appears only in the candidate generation, which is the
    * brute-force scan here so the oracle can replay it exactly; in
    * production the same greedy runs unchanged on [[annRefine]]'s
    * IVFPQ candidate stream. Each greedy step's pick table
    * localCheckpoints (Q·k rows) because it feeds both the next step's
    * anti-join and the max-sim attach. */
  def mmrRerank(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val base = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val queries = base.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val pairs = base.join(broadcast(queries), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(VectorFunctions.cosine(col("qv"), col("embedding")), 6).as("sim"))
    // Q·R rows; feeds simmat, every greedy step, and the output
    val cands = ck.ckpt(rankedTopK(spark, pairs, MmrCand)
      .select(col("query_id"), col("neighbor_id"),
        expr("CAST(round(sim * 1000000) AS BIGINT)").as("rel")))
    val withVec = broadcast(cands)
      .join(base.select(col("vec_id"), col("embedding")), col("neighbor_id") === col("vec_id"))
      .select(col("query_id"), col("neighbor_id"), col("embedding"))
    val simmat = ck.ckpt(withVec.as("a")
      .join(withVec.as("b"),
        col("a.query_id") === col("b.query_id") &&
          col("a.neighbor_id") =!= col("b.neighbor_id"))
      .select(col("a.query_id").as("query_id"),
        col("a.neighbor_id").as("ca"), col("b.neighbor_id").as("cb"),
        (round(round(VectorFunctions.cosine(col("a.embedding"), col("b.embedding")), 6)
          * 1000000)).cast("long").as("s"))) // Q·R·(R−1) rows; feeds all MmrK−1 greedy steps
    var sel = ck.ckpt(cands.groupBy("query_id")
      .agg(max(struct(col("rel").as("r"), (-col("neighbor_id")).as("nn"))).as("t"))
      .select(col("query_id"), (-col("t.nn")).as("sid"),
        lit(1L).as("step"), (lit(7L) * col("t.r")).as("mmr")))
    for (k <- 2 to MmrK) {
      val selNow = sel.select(col("query_id").as("sq"), col("sid"))
      val maxsim = simmat
        .join(broadcast(selNow), col("query_id") === col("sq") && col("cb") === col("sid"))
        .groupBy(col("query_id").as("mq"), col("ca"))
        .agg(max(col("s")).as("maxsim"))
      val pick = cands.as("c")
        .join(sel.select(col("query_id").as("xq"), col("sid").as("xid")),
          col("c.query_id") === col("xq") && col("c.neighbor_id") === col("xid"),
          "left_anti")
        .join(maxsim, col("c.query_id") === col("mq") && col("c.neighbor_id") === col("ca"))
        .select(col("c.query_id").as("query_id"), col("c.neighbor_id").as("neighbor_id"),
          (lit(7L) * col("c.rel") - lit(3L) * col("maxsim")).as("mmr"))
        .groupBy("query_id")
        .agg(max(struct(col("mmr").as("m"), (-col("neighbor_id")).as("nn"))).as("t"))
        .select(col("query_id"), (-col("t.nn")).as("sid"),
          lit(k.toLong).as("step"), col("t.m").as("mmr"))
      sel = ck.ckpt(sel.unionByName(pick)) // Q·k rows; feeds next step twice + output
    }
    sel.join(cands.select(col("query_id").as("cq"),
        col("neighbor_id").as("cid"), col("rel")),
        col("query_id") === col("cq") && col("sid") === col("cid"))
      .select(col("query_id"), col("step"), col("sid").as("neighbor_id"),
        col("rel").as("rel_micros"), col("mmr").as("mmr_score"))
      .orderBy("query_id", "step")
  }

  /** [[mmrRerank]] oracle: the same unrolled greedy in SQL — step k's
    * CTE scores the not-yet-picked candidates against the k−1 picks
    * and row_number-selects the argmax with the same id tie-break. */
  // lazy: cosineSql is declared further down the object body
  private lazy val mmrSql: String = {
    val steps = (2 to MmrK).map { k =>
      s"""score$k AS (
         |  SELECT c.query_id, c.neighbor_id,
         |         CAST(7 * c.rel - 3 * max(s.s) AS BIGINT) AS mmr
         |  FROM cands c
         |  JOIN simmat s ON s.query_id = c.query_id AND s.ca = c.neighbor_id
         |  JOIN selu${k - 1} u ON u.query_id = s.query_id AND u.neighbor_id = s.cb
         |  WHERE NOT EXISTS (SELECT 1 FROM selu${k - 1} x
         |                    WHERE x.query_id = c.query_id AND x.neighbor_id = c.neighbor_id)
         |  GROUP BY c.query_id, c.neighbor_id, c.rel
         |), sel$k AS (
         |  SELECT query_id, neighbor_id, $k AS step, mmr FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY mmr DESC, neighbor_id) AS rnk
         |    FROM score$k)
         |  WHERE rnk = 1
         |), selu$k AS (SELECT * FROM selu${k - 1} UNION ALL SELECT * FROM sel$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
       |         CAST(round($cosineSql * 1000000) AS BIGINT) AS rel
       |  FROM embeddings q JOIN embeddings b ON q.vec_id <> b.vec_id
       |  WHERE q.vec_id < $NumQueries
       |), rankedc AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, neighbor_id) AS rnk
       |  FROM pairs
       |), cands AS (SELECT query_id, neighbor_id, rel FROM rankedc WHERE rnk <= $MmrCand),
       |simmat AS (
       |  SELECT a.query_id, a.neighbor_id AS ca, b.neighbor_id AS cb,
       |         CAST(round(round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
       |                    CAST(eb.embedding AS DOUBLE[])), 6) * 1000000) AS BIGINT) AS s
       |  FROM cands a
       |  JOIN cands b ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id
       |  JOIN embeddings ea ON ea.vec_id = a.neighbor_id
       |  JOIN embeddings eb ON eb.vec_id = b.neighbor_id
       |), sel1 AS (
       |  SELECT query_id, neighbor_id, 1 AS step, CAST(7 * rel AS BIGINT) AS mmr FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, neighbor_id) AS r1
       |    FROM cands)
       |  WHERE r1 = 1
       |), selu1 AS (SELECT * FROM sel1),
       |$steps
       |SELECT u.query_id, CAST(u.step AS BIGINT) AS step, u.neighbor_id,
       |       c.rel AS rel_micros, u.mmr AS mmr_score
       |FROM selu$MmrK u
       |JOIN cands c ON c.query_id = u.query_id AND c.neighbor_id = u.neighbor_id
       |ORDER BY u.query_id, u.step""".stripMargin
  }

  /** CTEs producing the scaled-kNN candidate `pairs` over relation
    * `src` (no leading WITH): the two-level quantizer sized k = ⌈n/B⌉
    * plus the in-list self-join. */
  private[ops] def knnScaledPairsCtes(src: String): String =
    s"""${Centroids.kmeansIvfCtes(src,
          s"SELECT CAST(ceil(count(*) / $KnnScaledB.0) AS BIGINT) FROM $src")},
       |pairs AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
       |          CAST(b.embedding AS DOUBLE[])), 6) AS sim
       |  FROM a1 a JOIN a1 b ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
       |)""".stripMargin

  /** (vec_id, embedding) corpus → its scaled-kNN top-[[K]] edge set
    * (the [[knnGraphScaled]] core, reusable over any corpus). */
  private[ops] def knnEdgesOn(corpus: DataFrame): DataFrame = Checkpoints.scope { ck =>
    val spark = corpus.sparkSession
    val base = ck.ckpt(corpus.select(col("vec_id"), col("embedding")))
      // feeds the sizing count plus the quantizer's passes
    val k = math.max(1L, (base.count() + KnnScaledB - 1) / KnnScaledB)
    val assigned = ck.ckpt(Centroids.kmeansAssignTwoLevel(base, k)
      .select(col("vec_id"), col("embedding"), col("cluster")))
      // feeds both sides of the list self-join
    val pairs = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("neighbor_id"),
        round(VectorFunctions.cosine(col("a.embedding"), col("b.embedding")), 6).as("sim"))
    rankedTopK(spark, pairs)
  }

  private val cosineSql =
    """round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |             CAST(b.embedding AS DOUBLE[])), 6)""".stripMargin

  // composes ann_ivf's coarse-assignment CTEs with ann_pq's codebook
  // CTEs verbatim; only `terms` changes — the scan is restricted to
  // the query's probed lists. Ends at `pairs` (query_id, neighbor_id,
  // qdist) so ann_ivf_pq (ADC ranks served directly) and ann_refine
  // (exact re-rank of the same candidate stream) share it verbatim.
  private val ivfPqPairsCtes: String =
    s"""cents AS (
         |  SELECT label, list(avg_val ORDER BY d) AS c FROM (
         |    SELECT label, d, round(avg(CAST(embedding[d] AS DOUBLE)), 6) AS avg_val
         |    FROM embeddings, (SELECT unnest(generate_series(1, $Dim)) AS d) dims
         |    GROUP BY label, d) t
         |  GROUP BY label
         |), ranked_assign AS (
         |  SELECT e.vec_id, e.embedding, c.label AS ivf_list,
         |         row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |           list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |             list_transform(generate_series(1, $Dim), d ->
         |               (CAST(e.embedding[d] AS DOUBLE) - c.c[d]) * (CAST(e.embedding[d] AS DOUBLE) - c.c[d]))),
         |             (a, v) -> a + v) ASC, c.label ASC) AS rn
         |  FROM embeddings e CROSS JOIN cents c
         |), assigned AS (
         |  SELECT vec_id, ivf_list FROM ranked_assign WHERE rn = 1
         |), probes AS (
         |  SELECT vec_id, embedding, ivf_list FROM ranked_assign
         |  WHERE rn <= $NProbe AND vec_id < $NumQueries
         |), cb0 AS (
         |  SELECT vec_id AS entry, s, list(v ORDER BY d) AS c FROM (
         |    SELECT vec_id, CAST((d - 1) // $PqSubDim AS INT) AS s, d,
         |           CAST(embedding[d] AS DOUBLE) AS v
         |    FROM embeddings, (SELECT unnest(generate_series(1, $Dim)) AS d) dims
         |    WHERE vec_id < $PqC) t
         |  GROUP BY vec_id, s
         |), assign0 AS (
         |  SELECT e.vec_id, c.s, c.entry,
         |    row_number() OVER (PARTITION BY e.vec_id, c.s ORDER BY
         |      list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |        list_transform(generate_series(1, $PqSubDim), i ->
         |          (CAST(e.embedding[c.s * $PqSubDim + i] AS DOUBLE) - c.c[i]) *
         |          (CAST(e.embedding[c.s * $PqSubDim + i] AS DOUBLE) - c.c[i]))),
         |        (a, v) -> a + v) ASC, c.entry ASC) AS rn
         |  FROM embeddings e CROSS JOIN cb0 c
         |), codes0 AS (
         |  SELECT vec_id, s, entry AS code FROM assign0 WHERE rn = 1
         |), upd AS (
         |  SELECT x.s, x.code, di.i,
         |         round(avg(CAST(e.embedding[x.s * $PqSubDim + di.i] AS DOUBLE)), 6) AS m
         |  FROM codes0 x JOIN embeddings e ON e.vec_id = x.vec_id,
         |       (SELECT unnest(generate_series(1, $PqSubDim)) AS i) di
         |  GROUP BY x.s, x.code, di.i
         |), cb AS (
         |  SELECT c0.entry, c0.s, list(coalesce(u.m, c0.c[di.i]) ORDER BY di.i) AS c
         |  FROM cb0 c0
         |  CROSS JOIN (SELECT unnest(generate_series(1, $PqSubDim)) AS i) di
         |  LEFT JOIN upd u ON u.s = c0.s AND u.code = c0.entry AND u.i = di.i
         |  GROUP BY c0.entry, c0.s
         |), assign AS (
         |  SELECT e.vec_id, c.s, c.entry,
         |    row_number() OVER (PARTITION BY e.vec_id, c.s ORDER BY
         |      list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |        list_transform(generate_series(1, $PqSubDim), i ->
         |          (CAST(e.embedding[c.s * $PqSubDim + i] AS DOUBLE) - c.c[i]) *
         |          (CAST(e.embedding[c.s * $PqSubDim + i] AS DOUBLE) - c.c[i]))),
         |        (a, v) -> a + v) ASC, c.entry ASC) AS rn
         |  FROM embeddings e CROSS JOIN cb c
         |), codes AS (
         |  SELECT vec_id, s, entry AS code FROM assign WHERE rn = 1
         |), terms AS (
         |  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id, x.s,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(generate_series(1, $PqSubDim), i ->
         |        (CAST(q.embedding[x.s * $PqSubDim + i] AS DOUBLE) - c.c[i]) *
         |        (CAST(q.embedding[x.s * $PqSubDim + i] AS DOUBLE) - c.c[i]))),
         |      (a, v) -> a + v) AS term
         |  FROM probes q
         |  JOIN assigned b ON b.ivf_list = q.ivf_list AND b.vec_id <> q.vec_id
         |  JOIN codes x ON x.vec_id = b.vec_id
         |  JOIN cb c ON c.s = x.s AND c.entry = x.code
         |), pairs AS (
         |  SELECT query_id, neighbor_id,
         |    round(list_reduce(list_prepend(CAST(0 AS DOUBLE), list(term ORDER BY s)),
         |      (a, v) -> a + v), 6) AS qdist
         |  FROM terms GROUP BY query_id, neighbor_id
         |)""".stripMargin

  /** Hard-negative mining for contrastive training (the in-batch /
    * BM25-negative upgrade every dense-retriever recipe ships): for
    * each query vector, the top-K most similar corpus vectors whose
    * LABEL DIFFERS — maximally confusing non-matches, the examples a
    * bi-encoder learns the most from. Same shape as [[annBruteforce]]
    * (broadcast query block, bounded [[TopNeighborsAgg]] heaps) with
    * the label-disagreement predicate pushed into the pair join, so
    * negatives never materialize as a post-filter. */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding"))
    val queries = base.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("embedding").as("qv"))
    val pairs = base.join(broadcast(queries),
        col("query_id") =!= col("vec_id") && col("label") =!= col("qlabel"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(VectorFunctions.cosine(col("qv"), col("embedding")), 6).as("sim"))
    rankedTopK(spark, pairs)
  }

  private val hardNegativesSql: String =
    s"""WITH pairs AS (
       |  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id, $cosineSql AS sim
       |  FROM embeddings q JOIN embeddings b
       |    ON q.vec_id <> b.vec_id AND q.label <> b.label
       |  WHERE q.vec_id < $NumQueries
       |), ${rankSql("pairs")}""".stripMargin

  /** kNN label-consensus noise detection (the confident-learning-lite
    * pass a labeled corpus gets before training): a vector whose
    * [[knnGraph]] neighborhood mostly DISAGREES with its own label is
    * flagged as suspect — mislabeled points sit inside the wrong
    * cluster, so their neighbors outvote them. Output: per vector its
    * label, neighbor count, same-label count, and the majority-vote
    * verdict (2·n_same < n_neighbors).
    *
    * Scale shape: rides the corpus-SCALED kNN graph ([[knnEdgesOn]]:
    * list count ∝ n, Σ|list|² ≈ n·B — linear) plus two broadcastable
    * label attaches and one partial-aggregated consensus count per
    * node. Riding [[knnGraphFixedNlist]] instead was a round-16
    * probe-caught knee: its n²/nlist candidate join ran >12
    * minutes into a 24 g heap at 64× before the probe was cut —
    * exactly the round-14 knn_graph curve, inherited transitively.
    * The consumer of a graph artifact must consume the SCALED one. */
  def labelNoiseDetect(spark: SparkSession, dir: String): DataFrame = {
    val edges = knnGraph(spark, dir).select("query_id", "neighbor_id")
    val lab = Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))
    edges
      .join(lab.select(col("vec_id").as("query_id"), col("label").as("ql")), "query_id")
      .join(lab.select(col("vec_id").as("neighbor_id"), col("label").as("nl")), "neighbor_id")
      .groupBy(col("query_id").as("vec_id"))
      .agg(count(lit(1)).as("n_neighbors"),
        sum(when(col("ql") === col("nl"), 1L).otherwise(0L)).as("n_same"))
      .join(lab, "vec_id")
      .select(col("vec_id"), col("label"), col("n_neighbors"), col("n_same"),
        (lit(2L) * col("n_same") < col("n_neighbors")).as("suspect"))
      .orderBy("vec_id")
  }

  private lazy val labelNoiseSql: String =
    s"""WITH ${knnScaledPairsCtes("embeddings")},
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM pairs
       |), edges AS (
       |  SELECT query_id, neighbor_id FROM ranked WHERE rank <= $K
       |), lab AS (SELECT vec_id, label FROM embeddings),
       |agg AS (
       |  SELECT e.query_id AS vec_id, CAST(count(*) AS BIGINT) AS n_neighbors,
       |         CAST(sum(CASE WHEN ln.label = lq.label THEN 1 ELSE 0 END) AS BIGINT) AS n_same
       |  FROM edges e
       |  JOIN lab lq ON lq.vec_id = e.query_id
       |  JOIN lab ln ON ln.vec_id = e.neighbor_id
       |  GROUP BY e.query_id
       |)
       |SELECT a.vec_id, l.label, a.n_neighbors, a.n_same,
       |       (2 * a.n_same < a.n_neighbors) AS suspect
       |FROM agg a JOIN lab l USING (vec_id)
       |ORDER BY a.vec_id""".stripMargin

  /** RRF constant from Cormack et al.'s original formulation — large
    * enough that a rank-1 hit in one retriever cannot be outvoted by a
    * mid-list hit in the other. */
  private val RrfK = 60L

  /** Hybrid retrieval: reciprocal-rank fusion of the SPARSE ranking
    * ([[TextAnalysis.bm25Search]]'s top-10 over the fixed query terms)
    * with a DENSE ranking (cosine of vec 0's embedding against the rest
    * of the corpus, top-10) — the standard two-retriever merge that
    * needs no score calibration because it consumes only RANKS:
    * rrf(d) = Σ_r 1/(k + rank_r(d)), k = 60, summed over the
    * retrievers that returned d.
    *
    * Scale shape: each retriever already ends in a bounded top-N
    * (TakeOrderedAndProject / per-query heaps), so the fusion joins two
    * ≤N-row frames — a full-outer join of constants, independent of
    * corpus size; the single-partition rank windows run over those ≤N
    * rows, never the corpus. In the multi-query form the windows and
    * join gain a query_id partition key and nothing else changes.
    *
    * Determinism: ranks are exact row_numbers with doc_id tiebreaks
    * (both retrievers' score columns are already 6dp-rounded), each
    * reciprocal ships as integral MICROS 10⁶ div (60 + rank), and the
    * fused sum orders with a doc_id tiebreak before the final cut. */
  def rrfFusion(spark: SparkSession, dir: String): DataFrame = {
    val topN = TextAnalysis.Bm25TopN
    val sw = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("doc_id"))
    val sparse = TextAnalysis.bm25Search(spark, dir)
      .withColumn("bm25_rank", row_number().over(sw).cast("long"))
      .select("doc_id", "bm25_rank")
    val base = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val q = base.filter(col("vec_id") === 0L).select(col("embedding").as("qv"))
    val dw = org.apache.spark.sql.expressions.Window
      .orderBy(col("sim").desc, col("doc_id"))
    val dense = base.filter(col("vec_id") =!= 0L)
      .crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        round(VectorFunctions.cosine(col("qv"), col("embedding")), 6).as("sim"))
      .withColumn("dense_rank", row_number().over(dw).cast("long"))
      .filter(col("dense_rank") <= topN)
      .select("doc_id", "dense_rank")
    sparse.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("bm25_rank"), col("dense_rank"),
        (coalesce(expr(s"1000000 div ($RrfK + bm25_rank)"), lit(0L)) +
          coalesce(expr(s"1000000 div ($RrfK + dense_rank)"), lit(0L))).as("rrf_micros"))
      .orderBy(col("rrf_micros").desc, col("doc_id"))
      .limit(topN)
  }

  private val rrfSql: String = {
    val topN = TextAnalysis.Bm25TopN
    s"""WITH sparse AS (
       |  SELECT doc_id,
       |         CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
       |           AS bm25_rank
       |  FROM (${TextAnalysis.bm25Sql}) s
       |), q AS (
       |  SELECT embedding FROM embeddings WHERE vec_id = 0
       |), dense0 AS (
       |  SELECT b.vec_id AS doc_id, $cosineSql AS sim
       |  FROM embeddings b CROSS JOIN q
       |  WHERE b.vec_id <> 0
       |), dense AS (
       |  SELECT doc_id, dense_rank FROM (
       |    SELECT doc_id,
       |           CAST(row_number() OVER (ORDER BY sim DESC, doc_id) AS BIGINT)
       |             AS dense_rank
       |    FROM dense0)
       |  WHERE dense_rank <= $topN
       |)
       |SELECT coalesce(s.doc_id, d.doc_id) AS doc_id, s.bm25_rank, d.dense_rank,
       |       coalesce(1000000 // ($RrfK + s.bm25_rank), 0) +
       |       coalesce(1000000 // ($RrfK + d.dense_rank), 0) AS rrf_micros
       |FROM sparse s FULL OUTER JOIN dense d ON d.doc_id = s.doc_id
       |ORDER BY rrf_micros DESC, doc_id
       |LIMIT $topN""".stripMargin
  }

  /** [[maxsimRetrieval]] shape: vectors group into 4-token documents;
    * the first 5 groups are the queries; top-10 docs served. */
  private val MsTok  = 4L
  private val MsQ    = 5L
  private val MsTopK = 10

  /** Late-interaction multi-vector retrieval (ColBERT's MaxSim,
    * Khattab & Zaharia 2020) — the modern retrieval scoring the
    * single-vector ANN family cannot express: query and document are
    * BAGS of token vectors and score(q,d) = Σ_{qt} max_{dt} cos(qt,dt),
    * so a document matches if EACH query token finds some supporting
    * token (phrase-level evidence a pooled single vector averages
    * away). The fixture's flat vector table groups into [[MsTok]]-token
    * documents (vec_id div 4 — deterministic, the pii_redact
    * convention); per-token sims quantize to micros before the max/sum
    * so the score algebra is integer-exact cross-engine.
    *
    * Scale shape: the query side is [[MsQ]]·[[MsTok]] vectors —
    * BROADCAST, the ann convention — so the scan is one pass over the
    * corpus vectors computing Q_tok sims per row at scan speed; the
    * (doc, qdoc, qtok) max and the (doc, qdoc) sum are partial-
    * aggregated rollups of that stream, and the serve cut is
    * TakeOrderedAndProject. Production swaps the exhaustive token scan
    * for per-token ANN probes + the same gather — the algebra here is
    * the part that stays. */
  def maxsimRetrieval(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir)
      .select((col("vec_id") / MsTok).cast("long").as("doc"),
        col("vec_id"), col("embedding"))
    val queries = base.filter(col("doc") < MsQ)
      .select(col("doc").as("qdoc"), col("vec_id").as("qtok"),
        col("embedding").as("qv"))
    val scored = base.filter(col("doc") >= MsQ)
      .join(broadcast(queries), lit(true))
      .select(col("qdoc"), col("qtok"), col("doc"),
        (round(round(VectorFunctions.cosine(col("qv"), col("embedding")), 6)
          * 1000000)).cast("long").as("s"))
      .groupBy("qdoc", "doc", "qtok").agg(max("s").as("ms"))
      .groupBy("qdoc", "doc").agg(sum("ms").as("maxsim_micros"))
    import org.apache.spark.sql.expressions.Window
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("qdoc").orderBy(desc("maxsim_micros"), col("doc"))).cast("long"))
      .filter(col("rank") <= MsTopK)
      .select(col("qdoc"), col("rank"), col("doc"), col("maxsim_micros"))
      .orderBy("qdoc", "rank")
  }

  private val maxsimSql: String =
    s"""WITH base AS (
       |  SELECT vec_id // $MsTok AS doc, vec_id, embedding FROM embeddings
       |), q AS (
       |  SELECT doc AS qdoc, vec_id AS qtok, embedding AS qv FROM base WHERE doc < $MsQ
       |), sims AS (
       |  SELECT q.qdoc, q.qtok, b.doc,
       |         CAST(round(round(list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
       |                    CAST(b.embedding AS DOUBLE[])), 6) * 1000000) AS BIGINT) AS s
       |  FROM base b CROSS JOIN q
       |  WHERE b.doc >= $MsQ
       |), tokmax AS (
       |  SELECT qdoc, doc, qtok, max(s) AS ms FROM sims GROUP BY qdoc, doc, qtok
       |), scored AS (
       |  SELECT qdoc, doc, CAST(sum(ms) AS BIGINT) AS maxsim_micros
       |  FROM tokmax GROUP BY qdoc, doc
       |), ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY qdoc ORDER BY maxsim_micros DESC, doc) AS rank
       |  FROM scored
       |)
       |SELECT qdoc, CAST(rank AS BIGINT) AS rank, doc, maxsim_micros
       |FROM ranked WHERE rank <= $MsTopK ORDER BY qdoc, rank""".stripMargin

  /** Recall\@[[K]] of each bucketed ANN variant against the exact
    * brute-force top-[[K]] — the index-selection eval harness AS AN
    * OPERATOR: before an embedding pipeline commits to an index it
    * measures the recall/cost frontier on its own corpus, and this
    * query ships that table (the per-method recall the specs pin
    * individually, computed side-by-side on identical ground truth).
    * recall = |method∩brute| / |brute| in exact micros; n_retrieved
    * rides along because single-table LSH honestly returns FEWER than
    * K for sparse buckets — visible here as the recall/candidate-count
    * trade between one LSH table, four tables, and IVF probes.
    *
    * Scale shape: each method's candidate generation is its own
    * bucketed query-set-bounded plan (reused verbatim); the recall
    * join is over ≤Q·K-row result sets — metadata-sized at any corpus
    * size. */
  def annRecallMatrix(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    import spark.implicits._
    val brute = ck.ckpt(annBruteforce(spark, dir)
      .select(col("query_id"), col("neighbor_id"))) // Q·K rows; ground truth for every method
    val bruteN = brute.count()
    // Round-21 (opt guide §2.6/§1.2): the three methods are independent
    // pipelines over the same read-only ground truth — run them in
    // parallel so their stages interleave; and fold the old
    // (count, join-count) job pair into ONE left-join aggregate. Both
    // counts are exact as before: (query_id, neighbor_id) is unique on
    // each side, so the left join preserves retrieved cardinality and
    // the hit marker sums to the inner-join count.
    val methods = Seq(
      "ann_ivf" -> (() => annIvf(spark, dir)),
      "ann_lsh" -> (() => annLsh(spark, dir)),
      "ann_lsh_multi" -> (() => annLshMulti(spark, dir)))
    val rows = ck.parallel(methods.map { case (m, mk) => () =>
      val r = mk().select(col("query_id"), col("neighbor_id"))
        .join(brute.withColumn("hit", lit(1L)), Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n"),
          coalesce(sum(coalesce(col("hit"), lit(0L))), lit(0L)).as("hits"))
        .head()
      (m, r.getLong(0), r.getLong(1), r.getLong(1) * 1000000L / bruteN)
    })
    rows.toDF("method", "n_retrieved", "n_hits", "recall_micros")
      .orderBy("method")
  }

  private lazy val annRecallSql: String = {
    def m(name: String, oracle: String): String =
      s"""SELECT '$name' AS method,
         |  (SELECT CAST(count(*) AS BIGINT) FROM ${name}_r) AS n_retrieved,
         |  (SELECT CAST(count(*) AS BIGINT)
         |   FROM ${name}_r JOIN bf USING (query_id, neighbor_id)) AS n_hits,
         |  (SELECT CAST((count(*) * 1000000) // (SELECT count(*) FROM bf) AS BIGINT)
         |   FROM ${name}_r JOIN bf USING (query_id, neighbor_id)) AS recall_micros"""
        .stripMargin
    s"""WITH bf AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM ($annBruteOracle) b
       |), ann_ivf_r AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM ($annIvfOracle) x
       |), ann_lsh_r AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM ($annLshOracle) x
       |), ann_lsh_multi_r AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM ($annLshMultiOracle) x
       |)
       |${Seq("ann_ivf" -> "", "ann_lsh" -> "", "ann_lsh_multi" -> "")
            .map { case (n, _) => m(n, "") }.mkString("\nUNION ALL\n")}
       |ORDER BY method""".stripMargin
  }

  // the four candidate-generation oracles, extracted so the recall
  // matrix can embed each as a subquery beside the brute-force truth
  private lazy val annBruteOracle: String =
    s"""WITH pairs AS (
           |  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id, $cosineSql AS sim
           |  FROM embeddings q JOIN embeddings b ON q.vec_id <> b.vec_id
           |  WHERE q.vec_id < $NumQueries
           |), ${rankSql("pairs")}""".stripMargin

  private lazy val annLshOracle: String =
    s"""WITH buckets AS (
           |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings
           |), pairs AS (
           |  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id, $cosineSql AS sim
           |  FROM buckets q JOIN buckets b ON q.bucket = b.bucket AND q.vec_id <> b.vec_id
           |  WHERE q.vec_id < $NumQueries
           |), ${rankSql("pairs")}""".stripMargin

  private lazy val annLshMultiOracle: String =
    s"""WITH buckets AS (
           |${(0 until LshTables).map(t =>
               s"  SELECT vec_id, $t AS t, ${bucketSql("embedding", t * NumPlanes)} AS code FROM embeddings")
             .mkString("\n  UNION ALL\n")}
           |), cands AS (
           |  SELECT DISTINCT q.vec_id AS query_id, b.vec_id AS neighbor_id
           |  FROM buckets q JOIN buckets b ON q.t = b.t AND q.code = b.code AND q.vec_id <> b.vec_id
           |  WHERE q.vec_id < $NumQueries
           |), pairs AS (
           |  SELECT c.query_id, c.neighbor_id, $cosineSql AS sim
           |  FROM cands c JOIN embeddings q ON q.vec_id = c.query_id
           |               JOIN embeddings b ON b.vec_id = c.neighbor_id
           |), ${rankSql("pairs")}""".stripMargin

  private lazy val annIvfOracle: String =
    s"""WITH cents AS (
           |  SELECT label, list(avg_val ORDER BY d) AS c FROM (
           |    SELECT label, d, round(avg(CAST(embedding[d] AS DOUBLE)), 6) AS avg_val
           |    FROM embeddings, (SELECT unnest(generate_series(1, $Dim)) AS d) dims
           |    GROUP BY label, d) t
           |  GROUP BY label
           |), ranked_assign AS (
           |  SELECT e.vec_id, e.embedding, c.label AS ivf_list,
           |         row_number() OVER (PARTITION BY e.vec_id ORDER BY
           |           list_reduce(list_prepend(CAST(0 AS DOUBLE),
           |             list_transform(generate_series(1, $Dim), d ->
           |               (CAST(e.embedding[d] AS DOUBLE) - c.c[d]) * (CAST(e.embedding[d] AS DOUBLE) - c.c[d]))),
           |             (a, v) -> a + v) ASC, c.label ASC) AS rn
           |  FROM embeddings e CROSS JOIN cents c
           |), assigned AS (
           |  SELECT vec_id, embedding, ivf_list FROM ranked_assign WHERE rn = 1
           |), probes AS (
           |  SELECT vec_id, embedding, ivf_list FROM ranked_assign
           |  WHERE rn <= $NProbe AND vec_id < $NumQueries
           |), pairs AS (
           |  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id, $cosineSql AS sim
           |  FROM probes q JOIN assigned b ON q.ivf_list = b.ivf_list AND q.vec_id <> b.vec_id
           |), ${rankSql("pairs")}""".stripMargin

  val entries: Seq[QueryDef] = Seq(
    QueryDef.sql("ann_bruteforce", annBruteOracle)(annBruteforce),
    QueryDef.sql("ann_lsh", annLshOracle)(annLsh),
    QueryDef.sql("ann_lsh_multi", annLshMultiOracle)(annLshMulti),
    QueryDef.sql("ann_sq8",
      s"""WITH bounds AS (
         |  SELECT d, min(CAST(embedding[d] AS DOUBLE)) AS lo, max(CAST(embedding[d] AS DOUBLE)) AS hi
         |  FROM embeddings, (SELECT unnest(generate_series(1, $Dim)) AS d) dims
         |  GROUP BY d
         |), b AS (
         |  SELECT list(lo ORDER BY d) AS lo, list(hi ORDER BY d) AS hi FROM bounds
         |), codes AS (
         |  SELECT vec_id, list_transform(generate_series(1, $Dim), d ->
         |    CASE WHEN b.hi[d] = b.lo[d] THEN 0
         |         ELSE LEAST(255, GREATEST(0, CAST(floor(
         |           (CAST(embedding[d] AS DOUBLE) - b.lo[d]) * 255.0 / (b.hi[d] - b.lo[d])) AS BIGINT))) END) AS code
         |  FROM embeddings CROSS JOIN b
         |), pairs AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(generate_series(1, $Dim), d ->
         |      (q.code[d] - c.code[d]) * (q.code[d] - c.code[d]))), (a, v) -> a + v) AS qdist
         |  FROM codes q JOIN codes c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < $NumQueries
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY qdist ASC, neighbor_id) AS rank
         |  FROM pairs
         |)
         |SELECT query_id, neighbor_id, rank, qdist FROM ranked
         |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin)(annSq8),
    QueryDef.sql("ann_pq",
      s"""WITH cb0 AS (
         |  SELECT vec_id AS entry, s, list(v ORDER BY d) AS c FROM (
         |    SELECT vec_id, CAST((d - 1) // $PqSubDim AS INT) AS s, d,
         |           CAST(embedding[d] AS DOUBLE) AS v
         |    FROM embeddings, (SELECT unnest(generate_series(1, $Dim)) AS d) dims
         |    WHERE vec_id < $PqC) t
         |  GROUP BY vec_id, s
         |), assign0 AS (
         |  SELECT e.vec_id, c.s, c.entry,
         |    row_number() OVER (PARTITION BY e.vec_id, c.s ORDER BY
         |      list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |        list_transform(generate_series(1, $PqSubDim), i ->
         |          (CAST(e.embedding[c.s * $PqSubDim + i] AS DOUBLE) - c.c[i]) *
         |          (CAST(e.embedding[c.s * $PqSubDim + i] AS DOUBLE) - c.c[i]))),
         |        (a, v) -> a + v) ASC, c.entry ASC) AS rn
         |  FROM embeddings e CROSS JOIN cb0 c
         |), codes0 AS (
         |  SELECT vec_id, s, entry AS code FROM assign0 WHERE rn = 1
         |), upd AS (
         |  SELECT x.s, x.code, di.i,
         |         round(avg(CAST(e.embedding[x.s * $PqSubDim + di.i] AS DOUBLE)), 6) AS m
         |  FROM codes0 x JOIN embeddings e ON e.vec_id = x.vec_id,
         |       (SELECT unnest(generate_series(1, $PqSubDim)) AS i) di
         |  GROUP BY x.s, x.code, di.i
         |), cb AS (
         |  SELECT c0.entry, c0.s, list(coalesce(u.m, c0.c[di.i]) ORDER BY di.i) AS c
         |  FROM cb0 c0
         |  CROSS JOIN (SELECT unnest(generate_series(1, $PqSubDim)) AS i) di
         |  LEFT JOIN upd u ON u.s = c0.s AND u.code = c0.entry AND u.i = di.i
         |  GROUP BY c0.entry, c0.s
         |), assign AS (
         |  SELECT e.vec_id, c.s, c.entry,
         |    row_number() OVER (PARTITION BY e.vec_id, c.s ORDER BY
         |      list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |        list_transform(generate_series(1, $PqSubDim), i ->
         |          (CAST(e.embedding[c.s * $PqSubDim + i] AS DOUBLE) - c.c[i]) *
         |          (CAST(e.embedding[c.s * $PqSubDim + i] AS DOUBLE) - c.c[i]))),
         |        (a, v) -> a + v) ASC, c.entry ASC) AS rn
         |  FROM embeddings e CROSS JOIN cb c
         |), codes AS (
         |  SELECT vec_id, s, entry AS code FROM assign WHERE rn = 1
         |), terms AS (
         |  SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id, x.s,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(generate_series(1, $PqSubDim), i ->
         |        (CAST(q.embedding[x.s * $PqSubDim + i] AS DOUBLE) - c.c[i]) *
         |        (CAST(q.embedding[x.s * $PqSubDim + i] AS DOUBLE) - c.c[i]))),
         |      (a, v) -> a + v) AS term
         |  FROM embeddings q
         |  JOIN codes x ON x.vec_id <> q.vec_id
         |  JOIN cb c ON c.s = x.s AND c.entry = x.code
         |  WHERE q.vec_id < $NumQueries
         |), pairs AS (
         |  SELECT query_id, neighbor_id,
         |    round(list_reduce(list_prepend(CAST(0 AS DOUBLE), list(term ORDER BY s)),
         |      (a, v) -> a + v), 6) AS qdist
         |  FROM terms GROUP BY query_id, neighbor_id
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY qdist ASC, neighbor_id) AS rank
         |  FROM pairs
         |)
         |SELECT query_id, neighbor_id, rank, qdist FROM ranked
         |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin)(annPq),
    QueryDef.sql("ann_ivf", annIvfOracle)(annIvf),
    QueryDef.sql("ann_ivf_pq",
      s"""WITH $ivfPqPairsCtes, ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY qdist ASC, neighbor_id) AS rank
         |  FROM pairs
         |)
         |SELECT query_id, neighbor_id, rank, qdist FROM ranked
         |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin)(annIvfPq),
    QueryDef.sql("ann_refine",
      s"""WITH $ivfPqPairsCtes, cranked AS (
         |  SELECT query_id, neighbor_id,
         |         row_number() OVER (PARTITION BY query_id ORDER BY qdist ASC, neighbor_id) AS crank
         |  FROM pairs
         |), cands AS (
         |  SELECT query_id, neighbor_id FROM cranked WHERE crank <= $RefineR
         |), exact AS (
         |  SELECT c.query_id, c.neighbor_id, $cosineSql AS sim
         |  FROM cands c JOIN embeddings q ON q.vec_id = c.query_id
         |               JOIN embeddings b ON b.vec_id = c.neighbor_id
         |), ${rankSql("exact")}""".stripMargin)(annRefine),
    QueryDef.sql("knn_graph",
      s"""WITH ${knnScaledPairsCtes("embeddings")}, ${rankSql("pairs")}""")(knnGraph),
    QueryDef.sql("knn_diversity_prune",
      s"""WITH corpus AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000,
         |    list_transform(generate_series(1, $Dim), d ->
         |      CAST(CAST(embedding[d] AS DOUBLE) *
         |        (CAST(1 AS DOUBLE) + CAST((d - 1) % 5 - 2 AS DOUBLE) / CAST(100 AS DOUBLE))
         |        AS FLOAT))
         |  FROM embeddings
         |), ${knnScaledPairsCtes("corpus")},
         |edges AS (
         |  SELECT query_id, neighbor_id, sim FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id) AS rank FROM pairs)
         |  WHERE rank <= $K
         |), dups AS (
         |  SELECT DISTINCT query_id AS vec_id FROM edges
         |  WHERE sim >= $DiversityCos AND neighbor_id < query_id
         |)
         |SELECT c.vec_id, (d.vec_id IS NOT NULL) AS pruned
         |FROM corpus c LEFT JOIN dups d USING (vec_id)
         |ORDER BY c.vec_id""".stripMargin)(knnDiversityPrune),
    QueryDef.sql("ann_recall_matrix", annRecallSql)(annRecallMatrix),
    QueryDef.sql("maxsim_retrieval", maxsimSql)(maxsimRetrieval),
    QueryDef.sql("jl_project", jlSql)(jlProject),
    QueryDef.sql("mmr_rerank", mmrSql)(mmrRerank),
    QueryDef.sql("rrf_fusion", rrfSql)(rrfFusion),
    QueryDef.sql("hard_negatives", hardNegativesSql)(hardNegatives),
    QueryDef.sql("label_noise_detect", labelNoiseSql)(labelNoiseDetect),
  )
}
