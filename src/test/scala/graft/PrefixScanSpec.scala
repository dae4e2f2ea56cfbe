package graft

import graft.ops.PrefixScan
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The distributed prefix scan against a driver-side fold over the same
  * order: skewed groups spanning several range partitions, more
  * partitions than rows, a descending key, and an empty input.
  */
class PrefixScanSpec extends SparkSpec {
  import spark.implicits._

  /** (g, k, m) rows; the expected (g, k) -> (running Σm, running count)
    * and per-group (Σm, count), folded on the driver in (g, k·dir) order. */
  private def expected(rows: Seq[(String, Long, Long)], desc: Boolean)
      : (Map[(String, Long), (Long, Long)], Map[Seq[Any], Seq[Long]]) = {
    val byGroup = rows.groupBy(_._1).map { case (g, rs) =>
      val ordered = rs.sortBy(r => if (desc) -r._2 else r._2)
      val cums = ordered.scanLeft((0L, 0L))((acc, r) => (acc._1 + r._3, acc._2 + 1)).tail
      g -> ordered.zip(cums).map { case (r, c) => (g, r._2) -> c }
    }
    (byGroup.values.flatten.toMap,
      byGroup.map { case (g, cs) => Seq[Any](g) -> Seq(cs.last._2._1, cs.last._2._2) })
  }

  private def check(rows: Seq[(String, Long, Long)], desc: Boolean = false): PrefixScan.Result = {
    val df = rows.toDF("g", "k", "m")
    val scan = PrefixScan(df, Seq("g"), Seq(if (desc) col("k").desc else col("k")),
      "cm" -> col("m"), "n" -> lit(1L))
    val got = scan.rows.collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Long]("k")) -> ((r.getAs[Long]("cm"), r.getAs[Long]("n")))).toMap
    val (want, totals) = expected(rows, desc)
    assert(scan.rows.columns.toSeq == Seq("g", "k", "m", "cm", "n"))
    assert(got == want)
    assert(scan.totals == totals)
    scan
  }

  test("skewed groups: the large one spans several range partitions") {
    val rnd = new scala.util.Random(7)
    val big = rnd.shuffle((1L to 4000L).toList).map(k => ("big", k, rnd.nextInt(2001).toLong - 1000))
    val small = Seq(("small", 9L, 5L), ("small", 3L, -2L), ("small", 40L, 11L))
    val scan = check(big ++ small)
    val bigParts = scan.rows.rdd
      .mapPartitions(it => Iterator(it.count(_.getString(0) == "big")))
      .collect().count(_ > 0)
    assert(bigParts > 1, s"the large group sat in $bigParts partition(s)")
    assert(scan.total(1, "small") == 3L && scan.total(1, "absent") == 0L)
  }

  test("more partitions than rows") {
    // the range partitioner cuts no more ranges than there are keys
    val rows = Seq(("a", 2L, 10L), ("a", 1L, 1L), ("b", 5L, 7L), ("a", 3L, 100L), ("b", 4L, 3L))
    val scan = check(rows)
    assert(scan.rows.rdd.getNumPartitions <= rows.size)
  }

  test("a descending order key cumulates from the largest key") {
    val rnd = new scala.util.Random(11)
    check((1L to 300L).map(k => (if (k % 3 == 0) "x" else "y", k, rnd.nextInt(50).toLong)), desc = true)
  }

  test("an empty input gives no rows and no totals") {
    val scan = check(Seq.empty)
    assert(scan.rows.isEmpty && scan.totals.isEmpty && scan.total(0) == 0L)
  }

  test("ntileOfRank equals Spark's ntile window") {
    for (n <- Seq(1, 4, 5, 7, 16, 33, 100); b <- Seq(5, 16)) {
      val df: DataFrame = (1L to n.toLong).toDF("rk")
      val got = df.select(col("rk"),
          PrefixScan.ntileOfRank(col("rk"), n.toLong, b).cast("int").as("tile"),
          ntile(b).over(Window.orderBy("rk")).as("want"))
        .collect()
      assert(got.forall(r => r.getInt(1) == r.getInt(2)),
        s"n=$n b=$b: " + got.map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).mkString(" "))
    }
  }
}
