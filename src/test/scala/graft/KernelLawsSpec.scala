package graft

import java.util.concurrent.atomic.AtomicLong

import graft.kernel.MapReduce
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{Dataset, Encoder}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests for the kernel laws of SURVEY.md §1.3:
  *  1. grouping is by key equality (equivalence, not identity)
  *  2. output globally sorted ascending by k3
  *  3. bag multiplicity preserved (nothing deduplicates)
  *  4. Reduce runs exactly once per distinct k2
  * and the combiner contract: a lawful (associative, commutative)
  * `combine` leaves the output unchanged and shrinks the map-side shuffle.
  *
  * (scalatestplus isn't in the offline cache, so samples are drawn from
  * ScalaCheck generators with fixed seeds and asserted in plain suites.)
  */
class KernelLawsSpec extends SparkSpec {

  import spark.implicits._

  private val pairGen: Gen[List[(String, Int)]] =
    Gen.listOfN(30, Gen.zip(Gen.oneOf("a", "b", "c", "d"), Gen.choose(0, 9)))

  private def samples(n: Int): Seq[List[(String, Int)]] =
    (1 to n).flatMap(i => pairGen.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("identity map/reduce preserves multiplicity and sorts by key") {
    for (pairs <- samples(8)) {
      val ds = spark.createDataset(pairs)
      val out = MapReduce.run(ds)(
        map = (k, v) => Iterator.single((k, v)))(
        reduce = (k, vs) => vs.map(v => (k, v))).collect().toList
      assert(out.sorted == pairs.sorted)           // bag multiplicity
      assert(out.map(_._1) == out.map(_._1).sorted) // globally sorted by k3
    }
  }

  test("reduce runs exactly once per distinct k2, with all its values") {
    for (pairs <- samples(8)) {
      val ds = spark.createDataset(pairs)
      val out = MapReduce.run(ds)(
        map = (k, v) => Iterator.single((k, v)))(
        reduce = (k, vs) => Iterator.single((k, vs.size))).collect().toList
      val expected = pairs.groupBy(_._1).view.mapValues(_.size).toList.sorted
      assert(out.sorted == expected)
      assert(out.map(_._1).distinct.size == out.size) // once per key
    }
  }

  test("reduce is called once per distinct k2 per action, the sort's sampling job included") {
    val pairs = samples(1).head
    val calls = spark.sparkContext.longAccumulator("reduce calls")
    val out = MapReduce.run(partitioned(pairs, 3))(
      map = (k, v) => Iterator.single((k, v)))(
      reduce = (k, vs) => { calls.add(1L); Iterator.single((k, vs.size)) }).collect()
    val keys = pairs.map(_._1).distinct.size
    assert(out.length == keys)
    assert(calls.value == keys.toLong, s"reduce ran ${calls.value} times for $keys keys")
  }

  test("map fan-out: 0..n emissions per input flow through (flatMap law)") {
    for (pairs <- samples(8)) {
      val ds = spark.createDataset(pairs)
      val out = MapReduce.run(ds)(
        map = (k, v) => List.fill(v % 3)((k, v)))(
        reduce = (k, vs) => vs.map(v => (k, v))).collect().toList
      val expected = pairs.flatMap { case (k, v) => List.fill(v % 3)((k, v)) }
      assert(out.sorted == expected.sorted)
    }
  }

  test("grouping is by value equality even for compound keys") {
    val pairs = List((("x", 1), "p"), (("x", 1), "q"), (("y", 2), "r"))
    val ds    = spark.createDataset(pairs)
    val out = MapReduce.run(ds)(
      map = (k, v) => Iterator.single((k, v)))(
      reduce = (k, vs) => Iterator.single((k, vs.mkString("+")))).collect().toList
    assert(out.size == 2) // ("x",1) instances coalesce into one group
    val xGroup = out.find(_._1 == (("x", 1))).get._2
    assert(Set("p+q", "q+p").contains(xGroup)) // in-group order unspecified (§1.3 pt 3)
  }

  test("kernel is re-runnable in-process with identical results (§1.3 pt 7)") {
    val pairs = samples(1).head
    val ds    = spark.createDataset(pairs)
    def go() = MapReduce.run(ds)(
      map = (k, v) => Iterator.single((k, v)))(
      reduce = (k, vs) => Iterator.single((k, vs.sum))).collect().toList
    assert(go() == go())
  }

  test("empty input produces empty output (zero-folders edge case)") {
    val ds = spark.createDataset(List.empty[(String, String)])
    val out = MapReduce.run(ds)(
      map = (k, v) => Iterator.single((k, v)))(
      reduce = (k, vs) => vs.map(v => (k, v))).collect()
    assert(out.isEmpty)
  }

  // ---- combiner (in-mapper combining) ----

  private def partitioned[T: Encoder: scala.reflect.ClassTag](xs: Seq[T], parts: Int): Dataset[T] =
    spark.createDataset(spark.sparkContext.parallelize(xs, parts))

  /** Runs `body` and returns the shuffle records written by the stages
    * that read no shuffle and no checkpoint (the kernel's map stage; the
    * sort's map stage reads the checkpoint of the reduce output) and
    * their task count. */
  private def mapStageWrites(body: => Unit): (Long, Long) = {
    val records = new AtomicLong()
    val tasks   = new AtomicLong()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        val readsCheckpoint = e.stageInfo.rddInfos.exists(_.storageLevel.isValid)
        if (m.shuffleReadMetrics.recordsRead == 0 && m.shuffleWriteMetrics.recordsWritten > 0 &&
            !readsCheckpoint) {
          records.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          tasks.addAndGet(e.stageInfo.numTasks.toLong)
        }
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.graftbridge.SchedulerBridge.drainListeners(spark.sparkContext)
      (records.get, tasks.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def sums(ds: Dataset[(String, Int)], combine: Option[(Long, Long) => Long]) =
    MapReduce.run(ds)(
      map = (k, v) => Iterator.single((k, v.toLong)))(
      reduce = (k, vs) => Iterator.single((k, vs.sum)), combine = combine).collect().toList

  test("a lawful combiner leaves the output unchanged (sum, max, set union; 1, 3, 7 partitions)") {
    for (pairs <- samples(8); parts <- Seq(1, 3, 7)) {
      val ds = partitioned(pairs, parts)
      assert(sums(ds, Some(_ + _)) == sums(ds, None))

      def maxes(combine: Option[(Int, Int) => Int]) = MapReduce.run(ds)(
        map = (k, v) => Iterator.single((k, v)))(
        reduce = (k, vs) => Iterator.single((k, vs.max)), combine = combine).collect().toList
      assert(maxes(Some(math.max)) == maxes(None))

      // a set as a sorted distinct Seq; union is associative and commutative
      val union = (a: Seq[Int], b: Seq[Int]) => (a ++ b).distinct.sorted
      def unions(combine: Option[(Seq[Int], Seq[Int]) => Seq[Int]]) = MapReduce.run(ds)(
        map = (k, v) => List((k, Seq(v)), (k + k, Seq(v % 4))))(
        reduce = (k, vs) => Iterator.single((k, vs.reduce(union))), combine = combine)
        .collect().toList
      assert(unions(Some(union)) == unions(None))
    }
  }

  test("a combiner leaves compound-key and empty-input outputs unchanged") {
    for (pairs <- samples(4); parts <- Seq(1, 3, 7)) {
      val ds = partitioned(pairs, parts)
      def run(combine: Option[(Long, Long) => Long]) = MapReduce.run(ds)(
        map = (k, v) => Iterator.single(((k, v % 2), v.toLong)))(
        reduce = (k, vs) => Iterator.single((k, vs.sum)), combine = combine).collect().toList
      assert(run(Some(_ + _)) == run(None))
    }
    val empty = partitioned(Seq.empty[(String, Int)], 3)
    assert(sums(empty, Some(_ + _)).isEmpty)
  }

  test("with a combiner, reduce still runs exactly once per distinct k2") {
    for (pairs <- samples(4); parts <- Seq(1, 3, 7)) {
      // one output row per reduce call, carrying the values it saw
      val out = MapReduce.run(partitioned(pairs, parts))(
        map = (k, _) => Iterator.single((k, 1L)))(
        reduce = (k, vs) => Iterator.single((k, vs.sum)),
        combine = Some(_ + _)).collect().toList
      assert(out.map(_._1) == pairs.map(_._1).distinct.sorted)
      assert(out == pairs.groupBy(_._1).view.mapValues(_.size.toLong).toList.sorted)
    }
  }

  test("a partition with more distinct keys than the flush bound flushes and still agrees") {
    val n     = MapReduce.CombineFlushEntries + 1000
    val pairs = (0 until n).flatMap(i => Seq(i, i)) // every key twice in a row
    val ds    = partitioned(pairs.map(i => (f"k$i%06d", 1)), 1)
    var combined = List.empty[(String, Long)]
    val (records, _) = mapStageWrites { combined = sums(ds, Some(_ + _)) }
    assert(records > n, s"$records map-side records for $n keys: no flush happened")
    assert(records < 2L * n)
    assert(combined == sums(ds, None))
    assert(combined.forall(_._2 == 2L) && combined.size == n)
  }

  test("shuffle records of the map stage: at most keys x tasks with a combiner, every pair without") {
    val corpus = Seq.fill(40)("the quick brown fox jumps over the lazy dog the end")
      .zipWithIndex.map { case (l, i) => (i.toLong, l) }
    val emitted  = corpus.map(_._2.split(" ").length).sum.toLong
    val distinct = corpus.flatMap(_._2.split(" ")).distinct.size.toLong
    def wordcount(combine: Option[(Long, Long) => Long]): Unit = {
      MapReduce.run(partitioned(corpus, 3))(
        map = (_, line) => line.split(" ").iterator.map(w => (w, 1L)))(
        reduce = (w, vs) => Iterator.single((w, vs.sum)), combine = combine).collect()
      ()
    }
    val (withCombiner, tasks) = mapStageWrites(wordcount(Some(_ + _)))
    assert(tasks == 3)
    assert(withCombiner <= distinct * tasks)
    assert(mapStageWrites(wordcount(None))._1 == emitted)
  }
}
