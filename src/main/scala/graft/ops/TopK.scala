package graft.ops

import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import scala.reflect.runtime.universe.TypeTag

/** Per-group top-k via a bounded-heap typed Aggregator. The window
  * row_number form (Parity.groupTopK) sorts every group in full; this
  * one carries at most k elements per partial buffer and merges heaps —
  * the shape that survives groups of billions of rows. Output is
  * identical to the window form, so it shares that oracle.
  */
object TopK {

  /** `v` inserted into the best-first list `items`, capped at `k`
    * elements. The common case, `v` no better than a full list's last,
    * is one comparison and no copy. */
  def insertBounded[A](items: List[A], v: A, k: Int)(better: (A, A) => Boolean): List[A] =
    if (items.sizeIs >= k && !better(v, items.last)) items
    else {
      val (front, back) = items.span(better(_, v))
      (front ::: v :: back).take(k)
    }

  /** best-first list of at most k elements — the [[BoundedAgg]] buffer */
  final case class Heap[E](var items: List[E])

  /** The bounded-heap Aggregator: per group, the `k` best elements under
    * `better`, each input mapped to its element by `elem`; `done` turns
    * the best-first list into the output. Buffers never exceed k
    * elements, so the map-side partial aggregate ships at most k per
    * group per partition, and the common reduce case (an element no
    * better than a full buffer's last) is one comparison, no sort. */
  class BoundedAgg[IN, E: TypeTag, OUT: TypeTag](k: Int, elem: IN => E, done: List[E] => OUT)(
      better: (E, E) => Boolean) extends Aggregator[IN, Heap[E], OUT] {
    private def insert(items: List[E], v: E): List[E] = insertBounded(items, v, k)(better)

    override def zero: Heap[E] = Heap(Nil)
    override def reduce(b: Heap[E], v: IN): Heap[E] = {
      b.items = insert(b.items, elem(v))
      b
    }
    override def merge(a: Heap[E], b: Heap[E]): Heap[E] = {
      a.items = b.items.foldLeft(a.items)(insert)
      a
    }
    override def finish(b: Heap[E]): OUT = done(b.items)
    override val bufferEncoder: Encoder[Heap[E]] = ExpressionEncoder[Heap[E]]()
    override val outputEncoder: Encoder[OUT] = ExpressionEncoder[OUT]()
  }

  /** (score desc, id asc): the order of every (score, id) top-k */
  def scoreDescIdAsc(a: (Double, Long), b: (Double, Long)): Boolean =
    a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)

  final case class Keyed(o_orderpriority: String, o_orderkey: Long, o_totalprice: Double)

  /** keeps the k best (price, key) pairs, "best" = (price desc, key asc)
    * — the window form's ordering exactly. */
  class TopKAgg(k: Int) extends BoundedAgg[Keyed, (Double, Long), Seq[Keyed]](k,
    v => (v.o_totalprice, v.o_orderkey), _.map { case (p, key) => Keyed("", key, p) })(scoreDescIdAsc)

  def groupTopKAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .select("o_orderpriority", "o_orderkey", "o_totalprice")
      .as[Keyed]
      .groupByKey(_.o_orderpriority)
      .agg(new TopKAgg(3).toColumn.name("top"))
      .toDF("o_orderpriority", "top")
      .select(col("o_orderpriority"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("o_orderpriority"), col("t.o_orderkey"), col("t.o_totalprice"),
        (col("i") + 1).cast("long").as("rn"))
      .orderBy("o_orderpriority", "rn")
  }

  /** 2-D skyline (Pareto frontier) of parts: maximize size AND retail
    * price — a part is on the frontier iff no other part is ≥ in both
    * dimensions and > in one. The textbook formulation is an all-pairs
    * anti-join; this is the sort-free cells form: reduce to one
    * (size, max-price, count) cell per size (map-side combined), then
    * one descending-size prefix-max over cells bounded by the SIZE
    * DOMAIN (|distinct sizes|, ~50), never by row count. A frontier
    * point also reports the lexicographically first brand attaining the
    * maximum — the argmax attach is a broadcast of the ≤domain-sized
    * cell table back onto the scan.
    */
  def skyline(spark: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(spark, dir)
      .select(col("p_size").cast("long").as("size"), col("p_brand"),
        graft.functions.TextFunctions.cents(col("p_retailprice")).as("c"))
    val cells = parts.groupBy("size")
      .agg(max("c").as("best_cents"), count(lit(1)).as("n_parts"))
    val branded = parts
      .join(broadcast(cells.select(col("size").as("bsize"), col("best_cents").as("bc"))),
        col("size") === col("bsize") && col("c") === col("bc"))
      .groupBy("size").agg(min("p_brand").as("best_brand"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("size").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    cells
      .withColumn("hi", max("best_cents").over(w))
      .filter(col("hi").isNull || col("best_cents") > col("hi"))
      .join(broadcast(branded), "size")
      .select("size", "best_cents", "n_parts", "best_brand")
      .orderBy("size")
  }

  private val skylineSql: String =
    """WITH parts AS (
      |  SELECT CAST(p_size AS BIGINT) AS size, p_brand,
      |         CAST(round(p_retailprice * 100) AS BIGINT) AS c
      |  FROM part
      |), cells AS (
      |  SELECT size, max(c) AS best_cents, CAST(count(*) AS BIGINT) AS n_parts
      |  FROM parts GROUP BY size
      |), branded AS (
      |  SELECT p.size, min(p.p_brand) AS best_brand
      |  FROM parts p JOIN cells ce ON ce.size = p.size AND p.c = ce.best_cents
      |  GROUP BY p.size
      |), f AS (
      |  SELECT size, best_cents, n_parts,
      |         max(best_cents) OVER (ORDER BY size DESC
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hi
      |  FROM cells
      |)
      |SELECT f.size, f.best_cents, f.n_parts, b.best_brand
      |FROM f JOIN branded b ON b.size = f.size
      |WHERE f.hi IS NULL OR f.best_cents > f.hi
      |ORDER BY f.size""".stripMargin

  val entries: Seq[QueryDef] = Seq(
    QueryDef.sql("skyline", skylineSql)(skyline),
    QueryDef.sql("group_topk_agg",
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_orderpriority, rn""".stripMargin)(groupTopKAgg),
  )
}
