package graft.ops

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit, TimeoutException}

import scala.collection.mutable
import scala.util.{Failure, Try}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of checkpointed state.
  *
  * A `localCheckpoint` is RDD-level persistence behind a `LogicalRDD`
  * with its lineage cut: freed blocks can NOT be recomputed, and any
  * plan still reading them fails with a missing-block error. It is also
  * invisible to the CacheManager, so `Dataset.unpersist()` never frees
  * it; left alone its blocks live until driver GC lets the
  * ContextCleaner find the RDD.
  *
  * Ownership invariant:
  *  - every checkpoint is taken inside a [[scope]] (`s.ckpt`,
  *    `s.captured`, `s.partitioned`) and that scope owns it; nothing
  *    else frees it. `s.free` frees a superseded round early, once its
  *    successor has materialized;
  *  - when the scope's body returns, the scope frees every checkpoint it
  *    owns that the result does not read. "Reads" means the checkpoint's
  *    RDD is reachable from a `LogicalRDD` in the result's analyzed plan
  *    (subqueries included) through RDD dependencies, so a result never
  *    loses a block it will scan, even through a lazy checkpoint.
  *    Datasets nested in a tuple, case class or collection result count;
  *    any other result reads none;
  *  - the checkpoints a result reads pass to the enclosing scope on the
  *    same thread (or to [[Scope.parallel]]'s scope on its workers),
  *    which applies the same rule when it returns; with no enclosing
  *    scope they are the caller's, and the ContextCleaner frees them once
  *    the result is unreachable;
  *  - when the body throws, the scope frees everything it owns;
  *  - [[Artifacts]] runs its builds in a detached scope and holds what
  *    the artifact reads until `Artifacts.clearCache`.
  *
  * A scope only frees; it never checkpoints or runs a Spark job.
  */
object Checkpoints {

  private val current = new ThreadLocal[Scope]

  /** Upper bound on [[Scope.parallel]]'s threads: independent job chains
    * overlap their straggler tails; more threads only queue stages. */
  private val MaxParallel = 4

  final class Scope private[Checkpoints] {
    private val owned = mutable.Map.empty[Int, RDD[_]]

    def ckpt[T](ds: Dataset[T]): Dataset[T] = own(ds.localCheckpoint())

    def ckpt[T](ds: Dataset[T], level: StorageLevel): Dataset[T] =
      own(ds.localCheckpoint(true, level))

    /** Checkpoint materialized by the first action that reads it. */
    def lazyCkpt[T](ds: Dataset[T]): Dataset[T] = own(ds.localCheckpoint(eager = false))

    /** Checkpoint that keeps the partitioning and ordering `df`'s plan
      * already produces. It runs with AQE off for this one
      * materialization: under AQE the `LogicalRDD` records
      * `UnknownPartitioning` (it cannot see through
      * `AdaptiveSparkPlanExec`), and a repartition or sort before the
      * checkpoint buys nothing downstream. The conf is session-global,
      * so the flip and restore run under a lock on the session:
      * concurrent callers cannot capture each other's "false" and leave
      * AQE off. */
    def captured(df: DataFrame, level: StorageLevel): DataFrame = {
      val spark = df.sparkSession
      val k     = "spark.sql.adaptive.enabled"
      own(spark.synchronized {
        val prev = spark.conf.get(k, "true")
        spark.conf.set(k, "false")
        try df.localCheckpoint(true, level)
        finally spark.conf.set(k, prev)
      })
    }

    /** Checkpoint hash-partitioned on `partKeys` and sorted within
      * partitions on `sortKeys` (default: `partKeys`), with that layout
      * kept in the `LogicalRDD`, so every downstream equi-join on
      * `partKeys` plans exchange- and sort-free on this side. The
      * partition count is `spark.sql.shuffle.partitions`. */
    def partitioned(df: DataFrame, partKeys: Seq[String],
                    sortKeys: Seq[String] = Nil): DataFrame = {
      import org.apache.spark.sql.functions.col
      val sk = if (sortKeys.isEmpty) partKeys else sortKeys
      captured(df.repartition(partKeys.map(col): _*).sortWithinPartitions(sk.map(col): _*),
        StorageLevel.MEMORY_AND_DISK)
    }

    /** Frees a checkpoint this scope owns before the scope ends (a
      * superseded round whose successor has materialized). No-op for
      * anything else: a view over a checkpoint, or a checkpoint owned by
      * another scope or by [[Artifacts]]. */
    def free(ds: Dataset[_]): Unit =
      rddOf(ds).flatMap(r => synchronized(owned.remove(r.id)))
        .foreach(_.unpersist(blocking = false))

    /** Runs independent thunks on up to [[MaxParallel]] threads, inside
      * this scope, and returns their results in order. Waits until every
      * thunk has settled, before rethrowing the first failure, so the
      * scope never frees a block under a sibling's running job. After 60
      * minutes the workers are interrupted, and once they have settled a
      * `TimeoutException` is thrown. */
    def parallel[A](thunks: Seq[() => A]): Seq[A] = {
      val pool = Executors.newFixedThreadPool(math.max(1, math.min(MaxParallel, thunks.size)))
      val scope = this
      val tasks =
        try thunks.map(t => pool.submit(new Callable[A] {
          def call(): A = { current.set(scope); try t() finally current.remove() }
        }))
        finally pool.shutdown()
      if (!pool.awaitTermination(60, TimeUnit.MINUTES)) {
        pool.shutdownNow()
        while (!pool.awaitTermination(1, TimeUnit.MINUTES)) ()
        throw new TimeoutException("Checkpoints.parallel: thunks ran past 60 minutes")
      }
      val settled = tasks.map(f => Try(f.get()).recoverWith {
        case e: ExecutionException => Failure(e.getCause)
      })
      settled.collectFirst { case Failure(t) => throw t }
      settled.map(_.get)
    }

    private def own[T](ds: Dataset[T]): Dataset[T] = { adopt(rddOf(ds)); ds }

    private[Checkpoints] def adopt(rdds: Iterable[RDD[_]]): Unit =
      synchronized(rdds.foreach(r => owned(r.id) = r))

    /** Frees every owned checkpoint whose id is not in `keep`; returns
      * the kept ones. */
    private[Checkpoints] def release(keep: Set[Int]): Seq[RDD[_]] = {
      val (kept, dead) = synchronized {
        val all = owned.values.toSeq
        owned.clear()
        all.partition(r => keep(r.id))
      }
      dead.foreach(_.unpersist(blocking = false))
      kept
    }
  }

  /** Runs `body` in a new scope nested in the current one (see the
    * ownership invariant above). */
  def scope[A](body: Scope => A): A = {
    val parent = Option(current.get)
    val (result, kept) = detached(body)
    parent.foreach(_.adopt(kept))
    result
  }

  /** Runs `body` in a new scope with no parent; returns the result and
    * the checkpoints it reads, which the caller now owns. */
  private[ops] def detached[A](body: Scope => A): (A, Seq[RDD[_]]) = {
    val s     = new Scope
    val outer = current.get
    current.set(s)
    val result =
      try body(s)
      catch { case t: Throwable => s.release(Set.empty); throw t }
      finally current.set(outer)
    (result, s.release(readIds(result)))
  }

  /** Ids of every RDD `result` can read when it runs. */
  private def readIds(result: Any): Set[Int] = result match {
    case ds: Dataset[_] =>
      val seen  = mutable.Set.empty[Int]
      val stack = mutable.Stack.empty[RDD[_]]
      stack.pushAll(ds.queryExecution.analyzed.collectWithSubqueries {
        case lr: LogicalRDD => lr.rdd
      })
      while (stack.nonEmpty) {
        val r = stack.pop()
        if (seen.add(r.id)) stack.pushAll(r.dependencies.map(_.rdd))
      }
      seen.toSet
    case p: Product      => p.productIterator.flatMap(readIds).toSet
    case c: Iterable[_]  => c.flatMap(readIds).toSet
    case _               => Set.empty
  }

  private def rddOf(ds: Dataset[_]): Option[RDD[_]] = ds.queryExecution.logical match {
    case lr: LogicalRDD => Some(lr.rdd)
    case _              => None
  }
}
