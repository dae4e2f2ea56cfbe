package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import graft.ops.{Artifacts, Checkpoints}
import org.apache.spark.sql.DataFrame
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

  test("Scope.captured: concurrent callers keep AQE on and both capture their layout") {
    val aqe = "spark.sql.adaptive.enabled"
    assert(spark.conf.get(aqe) == "true")
    val captured = new AtomicInteger(0)
    val errors = concurrently(2) { _ =>
      (1 to 15).foreach { _ =>
        Checkpoints.scope { s =>
          val c = s.captured(table(200).repartition(4, col("x")), StorageLevel.MEMORY_AND_DISK)
          c.queryExecution.logical.asInstanceOf[LogicalRDD].outputPartitioning match {
            case _: HashPartitioning => captured.incrementAndGet()
            case p => throw new AssertionError(s"layout not captured: $p")
          }
        }
      }
    }
    assert(errors.isEmpty, errors.mkString("; "))
    assert(captured.get == 30)
    assert(spark.conf.get(aqe) == "true", "a concurrent flip left AQE disabled")
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

  test("no bare checkpoint, free, artifact cache or thread pool outside the owners") {
    val owners  = Set("Checkpoints.scala", "Artifacts.scala")
    val banned  = Seq(".localCheckpoint(", "Checkpoints.free(", "TrieMap", "newFixedThreadPool")
    val sources = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    val hits =
      try sources.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && !owners(p.getFileName.toString))
        .flatMap { p =>
          java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if banned.exists(line.contains) => s"$p:${i + 1}: ${line.trim}"
          }
        }.toList
      finally sources.close()
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
