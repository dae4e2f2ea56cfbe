package graft.ops

import graft.kernel.MapReduce
import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference-parity queries: the Search client (`Search.cpp:277-308`),
  * the spec's wordcount (`MapReduceEX.pdf` pp.3-4), and the kernel
  * guarantees of SURVEY.md §1.3 (distinct keys, global sort, grouped
  * top-k) expressed both relationally (Catalyst-optimizable) and through
  * the typed MapReduce kernel (faithful opaque-callback path).
  */
object Parity {

  /** substring used by the flagship search (reference: `argv[1]`,
    * `Search.cpp:285`); "id" matches a useful fraction of p_name. */
  val SearchWord = "id"

  /** Flagship: `Search <substr> <dirs>` ≙ substring filter over a name
    * column (`Search.cpp:207-228`, predicate at :223 — case-sensitive
    * `contains`). Relational form: Catalyst pushes the Contains filter
    * into the parquet scan.
    */
  def searchContains(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .filter(col("p_name").contains(SearchWord))
      .select(col("p_partkey"), col("p_name"))
      .orderBy("p_partkey")

  /** Same query through the typed kernel — Map emits (word, name) for
    * every "directory entry" (`Search.cpp:191-199`), Reduce filters by
    * containment (`Search.cpp:207-228`), output globally sorted (§1.3).
    */
  def searchKernel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val names = Tables.part(spark, dir)
      .select(lit(SearchWord).as("word"), col("p_name").as("file"))
      .as[(String, String)]
    MapReduce.run(names)(
      map = (word, file) => Iterator.single((word, file)))(
      reduce = (word, files) => files.filter(_.contains(word)).map(f => (word, f)))
      .toDF("word", "file")
      .orderBy("word", "file")
  }

  /** Spec wordcount (`MapReduceEX.pdf` pp.3-4, O17), relational form:
    * explode+groupBy → partial+final hash aggregate, shuffles only
    * (word, partial_count) pairs — the 100 TB-safe shape.
    */
  def wordcount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("word")

  /** Wordcount through the typed kernel: Map = split+emit 1s, Reduce =
    * sum — the PDF's exact dataflow, opaque-callback style — with sum as
    * the combiner, so each map task ships one partial count per word.
    */
  def wordcountKernel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
    MapReduce.run(docs)(
      map = (_, text) => text.split(" ").iterator.filter(_.nonEmpty).map(w => (w, 1L)))(
      reduce = (word, counts) => Iterator.single((word, counts.sum)),
      combine = Some(_ + _))
      .toDF("word", "cnt")
  }

  /** Typed cogroup — the two-input generalization of the kernel's
    * shuffle/Reduce (§1.3): both sides group by the same key and one
    * callback sees (key, leftValues, rightValues). The reference's
    * reduce-side-join derivation (SURVEY §2.3 "tag-union groupByKey")
    * expressed with Spark's first-class
    * `KeyValueGroupedDataset.cogroup`. Per-customer order stats with
    * left-join semantics from the customer side (order rows without a
    * customer are dropped; customers without orders emit zeros).
    * Shuffles both sides once on the key — the reduce-side-join shape
    * that holds at any scale; sums are exact cents. */
  def cogroupKernel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.orders(spark, dir)
      .select(col("o_custkey"),
        graft.functions.TextFunctions.cents(col("o_totalprice")).as("cents"))
      .as[(Long, Long)]
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"))
      .as[(Long, String)]
    cust.groupByKey(_._1)
      .cogroup(orders.groupByKey(_._1)) { (k, cs, os) =>
        cs.toSeq.headOption.iterator.map { c =>
          var n = 0L
          var sum = 0L
          os.foreach { o => n += 1; sum += o._2 }
          (k, c._2, n, sum)
        }
      }
      .toDF("custkey", "name", "n_orders", "sum_cents")
      .orderBy("custkey")
  }

  /** §1.3 pt 1: group-key coalescing by equivalence = DISTINCT. */
  def distinctKeys(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select("l_returnflag", "l_linestatus")
      .distinct()
      .orderBy("l_returnflag", "l_linestatus")

  /** O6: global sort (range-partitioned SortExec at scale). */
  def globalSort(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))

  /** Sorted groups + per-group limit (reference: sorted group keys O4);
    * window row_number keeps the shuffle to one hash partitioning.
    */
  def groupTopK(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .select("o_orderpriority", "o_orderkey", "o_totalprice")
      // cast: DuckDB row_number() is BIGINT; keep dtypes identical
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .orderBy(col("o_orderpriority"), col("rn"))
  }

  val entries: Seq[QueryDef] = Seq(
    QueryDef.sql("search_contains",
      s"SELECT p_partkey, p_name FROM part WHERE contains(p_name, '$SearchWord') ORDER BY p_partkey")(
      searchContains),
    QueryDef.sql("search_kernel",
      s"SELECT '$SearchWord' AS word, p_name AS file FROM part WHERE contains(p_name, '$SearchWord') ORDER BY word, file")(
      searchKernel),
    QueryDef.sql("wordcount",
      "SELECT word, count(*) AS cnt FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) WHERE word <> '' GROUP BY word ORDER BY word")(
      wordcount),
    QueryDef.sql("wordcount_kernel",
      "SELECT word, count(*) AS cnt FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) WHERE word <> '' GROUP BY word ORDER BY word")(
      wordcountKernel),
    QueryDef.sql("cogroup_kernel",
      """SELECT c.c_custkey AS custkey, c.c_name AS name,
        |       count(o.o_custkey) AS n_orders,
        |       CAST(coalesce(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)), 0) AS BIGINT) AS sum_cents
        |FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_custkey, c.c_name ORDER BY custkey""".stripMargin)(cogroupKernel),
    QueryDef.sql("distinct_keys",
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem ORDER BY l_returnflag, l_linestatus")(
      distinctKeys),
    QueryDef.sql("global_sort",
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey")(
      globalSort),
    QueryDef.sql("group_topk",
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_orderpriority, rn""".stripMargin)(
      groupTopK),
  )
}
