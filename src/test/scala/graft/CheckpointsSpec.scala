package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import graft.ops.{Artifacts, Checkpoints}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The checkpoint ownership rules of `Checkpoints.scope` and the
  * `Artifacts` registry, pinned by persistent-RDD id. */
class CheckpointsSpec extends SparkSpec {

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def rddId(df: DataFrame): Int =
    df.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.id

  private def table(n: Long): DataFrame = spark.range(0, n).toDF("x")

  /** Runs `body` on `n` threads released together; returns each thread's
    * failure, if any. */
  private def concurrently(n: Int)(body: Int => Unit): Seq[Throwable] = {
    val start  = new CountDownLatch(1)
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until n).map { i =>
      val t = new Thread(() => {
        start.await()
        try body(i) catch { case e: Throwable => errors.add(e) }
      })
      t.start()
      t
    }
    start.countDown()
    threads.foreach(_.join())
    errors.asScala.toSeq
  }

  test("a scope frees what its result does not read and keeps what it does") {
    val base = persistentIds
    var deadId, keptId = -1
    val result = Checkpoints.scope { s =>
      val a = s.ckpt(table(100))
      val b = s.ckpt(a.filter(col("x") % 2 === 0))
      deadId = rddId(a)
      keptId = rddId(b)
      b.select((col("x") * 10).as("y"))
    }
    assert(!persistentIds.contains(deadId), "the consumed input checkpoint was not freed")
    assert(persistentIds.contains(keptId), "the checkpoint the result reads was freed")
    assert(result.count() == 50L)
    assert((persistentIds -- base) == Set(keptId))
  }

  test("a scope keeps a checkpoint read only inside a subquery of its result") {
    var id = -1
    val result = Checkpoints.scope { s =>
      val c = s.ckpt(table(10))
      id = rddId(c)
      c.createOrReplaceTempView("ckpt_subq")
      spark.sql("SELECT * FROM range(5) WHERE id IN (SELECT x FROM ckpt_subq)")
    }
    assert(persistentIds.contains(id), "a subquery-read checkpoint was freed")
    assert(result.count() == 5L)
    spark.catalog.dropTempView("ckpt_subq")
  }

  test("a scope whose body throws leaves no registered RDD id behind") {
    val base = persistentIds
    val ids  = scala.collection.mutable.ArrayBuffer.empty[Int]
    val ex = intercept[IllegalStateException] {
      Checkpoints.scope { s =>
        val a = s.ckpt(table(100))
        ids += rddId(a)
        // an inner scope's kept checkpoint passes to this scope, so the
        // failure frees it too
        val inner = Checkpoints.scope(t => t.ckpt(a.select((col("x") + 1).as("x"))))
        ids += rddId(inner)
        ids += rddId(s.ckpt(inner.filter(col("x") > 3), StorageLevel.MEMORY_AND_DISK_SER))
        throw new IllegalStateException("boom")
      }
    }
    assert(ex.getMessage == "boom")
    assert(ids.size == 3)
    assert((persistentIds -- base).isEmpty, s"failed scope left ${persistentIds -- base}")
  }

  test("an inner scope's kept checkpoint passes to the enclosing scope") {
    var innerId = -1
    Checkpoints.scope { s =>
      val inner = Checkpoints.scope(t => t.ckpt(table(20)))
      innerId = rddId(inner)
      assert(persistentIds.contains(innerId), "inner scope freed its own result")
      inner.count() // the outer result (Long) reads nothing
    }
    assert(!persistentIds.contains(innerId), "the enclosing scope did not free the adopted checkpoint")
  }

  test("parallel waits for every sibling before the scope frees anything") {
    val base = persistentIds
    val siblingDone = new AtomicBoolean(false)
    val ex = intercept[IllegalStateException] {
      Checkpoints.scope { s =>
        val shared = s.ckpt(table(1000))
        s.parallel(Seq(
          () => throw new IllegalStateException("fast failure"),
          () => {
            // still reading the shared checkpoint well after the sibling
            // failed; an early free would fail these jobs on missing blocks
            (1 to 5).foreach { _ =>
              Thread.sleep(100)
              assert(shared.agg(sum("x")).head().getLong(0) == 499500L)
            }
            siblingDone.set(true)
          }))
      }
    }
    assert(ex.getMessage == "fast failure")
    assert(siblingDone.get, "the sibling thunk did not finish before the scope rethrew")
    assert((persistentIds -- base).isEmpty)
  }

  test("parallel thunks checkpoint into the calling scope and return in order") {
    val base = persistentIds
    val sums = Checkpoints.scope { s =>
      s.parallel((1 to 3).map(i => () => s.ckpt(table(i * 10L)).agg(sum("x")).head().getLong(0)))
    }
    assert(sums == Seq(45L, 190L, 435L))
    assert((persistentIds -- base).isEmpty)
  }

  test("Scope.captured keeps AQE on for a concurrent reader, records each layout") {
    val aqe = "spark.sql.adaptive.enabled"
    assert(spark.conf.get(aqe) == "true")
    val captured = new AtomicInteger(0)
    val done     = new AtomicBoolean(false)
    val reads    = new AtomicInteger(0)
    val offReads = new AtomicInteger(0)
    val errors = concurrently(2) {
      case 0 =>
        try (1 to 15).foreach { _ =>
          Checkpoints.scope { s =>
            val c = s.captured(table(200).repartition(4, col("x")), StorageLevel.MEMORY_AND_DISK)
            c.queryExecution.logical.asInstanceOf[LogicalRDD].outputPartitioning match {
              case _: HashPartitioning => captured.incrementAndGet()
              case p => throw new AssertionError(s"layout not captured: $p")
            }
          }
        } finally done.set(true)
      case _ =>
        while (!done.get) {
          reads.incrementAndGet()
          if (spark.conf.get(aqe) != "true") offReads.incrementAndGet()
        }
    }
    assert(errors.isEmpty, errors.mkString("; "))
    assert(captured.get == 15)
    assert(reads.get > 0)
    assert(offReads.get == 0, s"${offReads.get} of ${reads.get} reads saw AQE off during a capture")
  }

  test("Scope.partitioned records HashPartitioning(keys, n); every row sits there") {
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    Checkpoints.scope { s =>
      val p = s.partitioned(spark.range(0, 1000).select((col("id") % 37).as("k"), col("id").as("v")),
        Seq("k"))
      p.queryExecution.logical.asInstanceOf[LogicalRDD].outputPartitioning match {
        case HashPartitioning(Seq(k: Attribute), m) =>
          assert(k.name == "k" && m == n, s"recorded hash($k, $m), not hash(k, $n)")
        case other => fail(s"layout not recorded: $other")
      }
      // AQE would coalesce these 1000 rows to one partition without the explicit count
      assert(p.rdd.getNumPartitions == n)
      assert(p.filter(spark_partition_id() =!= pmod(hash(col("k")), lit(n))).count() == 0L,
        "rows outside their pmod(hash(k), n) partition")
    }
  }

  test("iterate frees a superseded round once its successor is in the state") {
    val base  = persistentIds
    val ids   = scala.collection.mutable.ArrayBuffer.empty[Int]
    val alive = scala.collection.mutable.ArrayBuffer.empty[Set[Int]]
    val last = Checkpoints.iterate(4)(s => { val a = s.ckpt(table(10)); ids += rddId(a); a })(_ => false) {
      (s, prev, r) =>
        alive += ids.toSet & persistentIds
        // a nested scope's result belongs to the loop like any other
        val next =
          if (r % 2 == 0) s.ckpt(prev.select((col("x") + 1).as("x")))
          else Checkpoints.scope(t => t.ckpt(prev.select((col("x") + 1).as("x"))))
        ids += rddId(next)
        next
    }
    assert(alive.toSeq == ids.init.map(Set(_)).toSeq,
      "each round should start with only its predecessor alive")
    assert((persistentIds -- base) == Set(rddId(last)))
    assert(last.agg(sum("x")).head().getLong(0) == 85L)
  }

  test("iterate keeps a lazy successor's predecessor until it materializes") {
    val base = persistentIds
    var seedId, lazyId = -1
    var seedAliveInRound2 = false
    val last = Checkpoints.iterate(2)(s => { val a = s.ckpt(table(10)); seedId = rddId(a); a })(_ => false) {
      (s, prev, r) =>
        if (r == 2) {
          seedAliveInRound2 = persistentIds.contains(seedId)
          assert(prev.count() == 10L) // materializes the lazy round
        }
        val next = s.lazyCkpt(prev.select((col("x") + 1).as("x")))
        if (r == 1) lazyId = rddId(next)
        next
    }
    assert(seedAliveInRound2, "the unmaterialized lazy round lost its input")
    assert(!persistentIds.contains(seedId), "the seed outlived its materialized successor")
    assert(persistentIds.contains(lazyId), "the final lazy round lost its input")
    assert(last.agg(sum("x")).head().getLong(0) == 65L)
    assert((persistentIds -- base) == Set(lazyId, rddId(last)))
  }

  test("iterate keeps every round a union-accumulating state reads") {
    val base = persistentIds
    val ids  = scala.collection.mutable.ArrayBuffer.empty[Int]
    val all = Checkpoints.iterate(3)(s => { val a = s.ckpt(table(3)); ids += rddId(a); a })(_ => false) {
      (s, acc, r) =>
        val round = s.ckpt(table(3).select((col("x") + r * 10).as("x")))
        ids += rddId(round)
        acc.union(round)
    }
    assert((persistentIds -- base) == ids.toSet)
    assert(all.count() == 12L)
  }

  test("iterate owns what init takes: unread at once, superseded at round end") {
    var deadId, seedId = -1
    var deadInRound1, seedInRound1 = true
    Checkpoints.scope { _ =>
      Checkpoints.iterate(2) { s =>
        deadId = rddId(s.ckpt(table(5)))
        val seed = s.ckpt(table(6))
        seedId = rddId(seed)
        seed
      }(_ => false) { (s, prev, r) =>
        if (r == 1) { deadInRound1 = persistentIds.contains(deadId); seedInRound1 = persistentIds.contains(seedId) }
        s.ckpt(prev.filter(col("x") > 0))
      }
      assert(!persistentIds.contains(seedId), "the superseded seed passed to the enclosing scope")
      ()
    }
    assert(!deadInRound1, "init's unread checkpoint outlived init")
    assert(seedInRound1, "the state's checkpoint was freed")
  }

  test("iterate with a throwing step leaves no loop-owned id") {
    val base = persistentIds
    val ex = intercept[IllegalStateException] {
      Checkpoints.iterate(5)(s => s.ckpt(table(10)))(_ => false) { (s, prev, r) =>
        val next = s.ckpt(prev.select((col("x") + 1).as("x")))
        Checkpoints.scope(t => t.ckpt(next.filter(col("x") > 3)))
        if (r == 2) throw new IllegalStateException("boom")
        next
      }
    }
    assert(ex.getMessage == "boom")
    assert((persistentIds -- base).isEmpty, s"failed loop left ${persistentIds -- base}")
  }

  test("iterate checks the round bound before calling done") {
    var calls = 0
    val rounds = Checkpoints.iterate(3)(_ => 0)(_ => { calls += 1; false })((_, n, _) => n + 1)
    assert(rounds == 3 && calls == 3, s"$rounds rounds, $calls done calls")
    calls = 0
    assert(Checkpoints.iterate(0)(_ => 0)(_ => { calls += 1; false })((_, n, _) => n + 1) == 0)
    assert(calls == 0)
    // done stops the loop before the round it rejects
    assert(Checkpoints.iterate(10)(_ => 0)(_ >= 4)((_, n, _) => n + 1) == 4)
  }

  test("Artifacts.memo: two threads on one key build once; clearCache frees the build") {
    Artifacts.clearCache()
    val base   = persistentIds
    val builds = new AtomicInteger(0)
    val got    = new ConcurrentLinkedQueue[DataFrame]()
    val key    = ("checkpoints-spec", java.util.UUID.randomUUID().toString)
    val errors = concurrently(2) { _ =>
      got.add(Artifacts.memo(spark, key) { s =>
        builds.incrementAndGet()
        Thread.sleep(200) // hold the build open while the other caller arrives
        val words = s.ckpt(table(50))
        s.ckpt(words.filter(col("x") < 10))
      })
    }
    assert(errors.isEmpty, errors.mkString("; "))
    assert(builds.get == 1, s"compute ran ${builds.get} times")
    val results = got.asScala.toSeq
    assert(results.size == 2 && (results.head eq results(1)))
    assert((persistentIds -- base) == Set(rddId(results.head)),
      "the build's intermediate outlived it, or its result was freed")
    Artifacts.clearCache()
    assert((persistentIds -- base).isEmpty)
  }

  /** (file name, "path:line: code") of every non-comment line under
    * src/main that contains one of `patterns`. */
  private def mainHits(patterns: Seq[String]): List[(String, String)] = {
    def comment(line: String) = Seq("//", "*", "/*").exists(line.trim.startsWith)
    val sources = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    try sources.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if !comment(line) && patterns.exists(line.contains) =>
            (p.getFileName.toString, s"$p:${i + 1}: ${line.trim}")
        }
      }.toList
    finally sources.close()
  }

  test("no bare checkpoint, free, artifact cache or thread pool outside the owners") {
    val owners  = Set("Checkpoints.scala", "Artifacts.scala")
    val banned  = Seq(".localCheckpoint(", "Checkpoints.free(", "TrieMap", "newFixedThreadPool",
      ".unpersist(", ".cache()", ".persist(")
    val hits = mainHits(banned).filterNot(h => owners(h._1)).map(_._2)
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("one writeStream site, one conf window and no stream env knob under src/main") {
    val streams = mainHits(Seq(".writeStream"))
    assert(streams.map(_._1) == List("Streams.scala"), streams.map(_._2).mkString("\n"))
    // withConfs in the ops package object, and Tables' TIMESTAMP(NANOS) branch
    val confs = mainHits(Seq("conf.set(", "conf.unset("))
    val outside = confs.filterNot(h => Set("package.scala", "Tables.scala")(h._1))
    assert(outside.isEmpty, outside.map(_._2).mkString("\n"))
    assert(confs.count(_._1 == "Tables.scala") == 1, confs.map(_._2).mkString("\n"))
    val knobs = mainHits(Seq("SPARK_GRAFT_STREAM_"))
    assert(knobs.isEmpty, knobs.map(_._2).mkString("\n"))
    val windows = mainHits(Seq("withConfs(")).filterNot(_._1 == "package.scala")
    assert(windows.map(_._1).sorted == List("Lake.scala", "Streams.scala"), windows.map(_._2).mkString("\n"))
    // AQE is set only where a main builds its session
    val aqe = mainHits(Seq("adaptive.enabled"))
      .filterNot(h => Set("Bench.scala", "ScaleProbe.scala", "PlanDump.scala")(h._1) && h._2.contains(".config("))
    assert(aqe.isEmpty, aqe.map(_._2).mkString("\n"))
    // one served body per operator: no plan-spec-only fork
    val forks = mainHits(Seq("materialize: Boolean"))
    assert(forks.isEmpty, forks.map(_._2).mkString("\n"))
    // graph round state lives in Checkpoints.iterate, not in loop vars
    val vars = mainHits(Seq("var ")).filter(_._1 == "Graph.scala")
    assert(vars.isEmpty, vars.map(_._2).mkString("\n"))
    // environment reads only where a main starts
    val mains = Set("Bench.scala", "Verify.scala", "ScaleProbe.scala", "SearchMain.scala",
      "WordCountMain.scala")
    val env = mainHits(Seq("sys.env")).filterNot(h => mains(h._1))
    assert(env.isEmpty, env.map(_._2).mkString("\n"))
    // one prefix scan and one bounded top-k insert
    val ranges = mainHits(Seq("repartitionByRange"))
    assert(ranges.map(_._1).distinct == List("PrefixScan.scala"), ranges.map(_._2).mkString("\n"))
    val pids = mainHits(Seq("monotonically_increasing_id", "spark_partition_id"))
    assert(pids.isEmpty, pids.map(_._2).mkString("\n"))
    val inserts = mainHits(Seq("::: v ::"))
    assert(inserts.map(_._1) == List("TopK.scala"), inserts.map(_._2).mkString("\n"))
    // one checkpoint file manager, set in the bounded runner's window
    val managers = mainHits(Seq("checkpointFileManagerClass"))
    assert(managers.map(_._1) == List("Streams.scala"), managers.map(_._2).mkString("\n"))
    val rawFs = mainHits(Seq("extends RawLocalFileSystem"))
    assert(rawFs.map(_._1) == List("LocalCheckpointFiles.scala"), rawFs.map(_._2).mkString("\n"))
    // one per-key stream fold (plus sessionize's timeouts), one typed event read
    val folds = mainHits(Seq(".flatMapGroupsWithState("))
    assert(folds.map(_._1) == List("Streams.scala", "Streams.scala"), folds.map(_._2).mkString("\n"))
    val typed = mainHits(Seq(".as[Event]"))
    assert(typed.size == 1, typed.map(_._2).mkString("\n"))
    // one cents rule, in its Column and JVM forms
    val cents = mainHits(Seq("HALF_UP).longValue", "def cents"))
    assert(cents.map(_._1).distinct == List("TextFunctions.scala"), cents.map(_._2).mkString("\n"))
    // one recursive delete and one directory listing, both closing their streams
    val trees = mainHits(Seq("def deleteRecursively", "Files.list(", "Files.walk("))
    assert(trees.map(_._1).distinct == List("package.scala"), trees.map(_._2).mkString("\n"))
  }

  test("the vector family writes each probe and quantizer piece once under src/main") {
    def hits(p: String, skip: String = ""): List[(String, String)] =
      mainHits(Seq(p)).filterNot(_._1 == skip)
    def show(hs: List[(String, String)]): String = hs.map(_._2).mkString("\n")
    // one query set and one cosine probe score (Similarity.IsQuery, .cosine)
    val queries = hits("vec_id\") < NumQueries").filter(_._1 == "Similarity.scala")
    assert(queries.size <= 2, show(queries))
    val cosine = hits("VectorFunctions.cosine(col(\"qv\"), col(\"embedding\"))")
    assert(cosine.size == 1, show(cosine))
    // one nearest-centroid lookup per quantizer (k-means/IVF, super-
    // centroid of a double row, PQ code) and one nprobe explode
    val nearest = mainHits(Seq("nearestCentroidIdx(", "nearestCentroidIdxD("))
      .filterNot(_._1 == "VectorFunctions.scala")
    assert(nearest.size <= 3, show(nearest))
    val probes = hits("topCentroidIdxs(", "VectorFunctions.scala")
    assert(probes.size == 1, show(probes))
    // the perturbed near-dup corpus and embedding_neardup's plain copy
    val copies = hits("(col(\"vec_id\") + 1000000L)")
    assert(copies.size == 2, show(copies))
    // one bounded-heap Aggregator around insertBounded (TopK.BoundedAgg)
    val heapFiles = hits("insertBounded(").map(_._1).toSet
    val heapAggs = hits("Aggregator[").filter(h => heapFiles(h._1))
    assert(heapAggs.size == 1, show(heapAggs))
    // the oracle side: one probe-pairs CTE beside ann_ivf's probed-list
    // join (Similarity.probePairsSql), one SQL cosine (Similarity.cosSql)
    // and one index-ordered dot/distance fold (Centroids.sumSql), which
    // leaves Similarity only the ADC sum over its subspace terms
    val sqlPairs = hits("SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id")
    assert(sqlPairs.size <= 2, show(sqlPairs))
    val sqlCosine = hits("list_cosine_similarity(")
    assert(sqlCosine.size == 1, show(sqlCosine))
    val folds = hits("list_reduce(list_prepend(CAST(0 AS DOUBLE)").filter(_._1 == "Similarity.scala")
    assert(folds.size <= 1, show(folds))
  }
}
