package graft.ops

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit, TimeoutException}

import scala.collection.mutable
import scala.util.{Failure, Try}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, Expression}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.DatasetBridge
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
  * The rule: a checkpoint lives until the scope or round that took it
  * returns a value that does not read it.
  *  - checkpoints are taken only through a [[Scope]] (`s.ckpt`,
  *    `s.lazyCkpt`, `s.captured`, `s.partitioned`), inside [[scope]] or
  *    [[iterate]], which owns them;
  *  - "reads" means the checkpoint's RDD is reachable from a
  *    `LogicalRDD` in the value's analyzed plan (subqueries included)
  *    through RDD dependencies, so a lazy checkpoint keeps what it has
  *    not yet materialized from. Datasets nested in a tuple, case class,
  *    option or collection count; any other value reads none;
  *  - [[scope]] applies the rule when its body returns, [[iterate]]
  *    after `init` and after every round as well;
  *  - what the returned value reads passes to the enclosing scope on
  *    the same thread (or to [[Scope.parallel]]'s scope on its
  *    workers); with none, the caller holds it and the ContextCleaner
  *    frees it once the value is unreachable;
  *  - a body that throws frees everything its scope owns;
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
      * already produces, so a downstream join or window on those keys
      * plans no Exchange or Sort on this side. The layout is read from
      * the final physical plan that produced the checkpoint's RDD (see
      * [[withLayout]]); a plain checkpoint records `UnknownPartitioning`
      * under AQE, since `AdaptiveSparkPlanExec` reports none. AQE stays
      * on, so each shuffle stage of `df`'s plan runs as its own Spark
      * job (a query stage). */
    def captured(df: DataFrame, level: StorageLevel): DataFrame =
      own(withLayout(df.localCheckpoint(true, level), df.queryExecution.executedPlan))

    /** Checkpoint hash-partitioned on `partKeys` into
      * `spark.sql.shuffle.partitions` partitions and sorted within
      * partitions on `sortKeys` (default: `partKeys`), with that layout
      * kept (see [[captured]]). The count is explicit because AQE
      * coalesces a `repartition` without one. */
    def partitioned(df: DataFrame, partKeys: Seq[String],
                    sortKeys: Seq[String] = Nil): DataFrame = {
      val n  = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
      val sk = if (sortKeys.isEmpty) partKeys else sortKeys
      captured(df.repartition(n, partKeys.map(col): _*).sortWithinPartitions(sk.map(col): _*),
        StorageLevel.MEMORY_AND_DISK)
    }

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

    /** Frees every owned checkpoint `value` does not read; returns the
      * ones it reads, which stay owned. */
    private[Checkpoints] def keepRead(value: Any): Seq[RDD[_]] = {
      val keep = readIds(value)
      val (kept, dead) = synchronized {
        val (k, d) = owned.values.toSeq.partition(r => keep(r.id))
        d.foreach(r => owned.remove(r.id))
        (k, d)
      }
      dead.foreach(_.unpersist(blocking = false))
      kept
    }
  }

  /** Runs `body` in a new scope nested in the current one (see the rule
    * above). */
  def scope[A](body: Scope => A): A = {
    val parent = Option(current.get)
    val (result, kept) = detached(body)
    parent.foreach(_.adopt(kept))
    result
  }

  /** A round loop as one scope: `init`, then `step` for rounds
    * 1..`maxRounds` while `done` does not hold. The loop owns every
    * checkpoint taken in `init` and `step`, nested scopes included, and
    * frees each one the new state does not read after `init` and after
    * every round; what the final state reads passes on as from [[scope]].
    * `done` is not called once `maxRounds` is reached. Anything a later
    * round reads must be reachable from the state or owned by an
    * enclosing scope. */
  def iterate[S](maxRounds: Int)(init: Scope => S)(done: S => Boolean)(
      step: (Scope, S, Int) => S): S = scope { s =>
    def roundEnd(state: S): S = { s.keepRead(state); state }
    var state = roundEnd(init(s))
    var round = 1
    while (round <= maxRounds && !done(state)) {
      state = roundEnd(step(s, state, round))
      round += 1
    }
    state
  }

  /** Runs `body` in a new scope with no parent; returns the result and
    * the checkpoints it reads, which the caller now owns. */
  private[ops] def detached[A](body: Scope => A): (A, Seq[RDD[_]]) = {
    val s     = new Scope
    val outer = current.get
    current.set(s)
    val result =
      try body(s)
      catch { case t: Throwable => s.keepRead(()); throw t } // () reads nothing
      finally current.set(outer)
    (result, s.keepRead(result))
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

  /** `ckpt` with the partitioning and ordering of `plan`, the physical
    * plan whose execution produced its RDD, recorded in its
    * `LogicalRDD` (AQE's final plan when `plan` is adaptive). The
    * layout's attributes map by position onto the checkpoint's output.
    * The partitioning stays unknown when the plan is not final, when an
    * attribute does not map, or when its partition count is not the
    * RDD's; orderings keep their mapped prefix. */
  private def withLayout(ckpt: DataFrame, plan: SparkPlan): DataFrame = {
    val lr = ckpt.queryExecution.logical.asInstanceOf[LogicalRDD]
    val finalPlan = plan match {
      case a: AdaptiveSparkPlanExec => if (a.isFinalPlan) Some(a.executedPlan) else None
      case p                        => Some(p)
    }
    finalPlan.fold(ckpt) { p =>
      val byPos = AttributeMap(p.output.zip(lr.output))
      def mapped[E <: Expression](e: E): Option[E] =
        if (!e.references.forall(byPos.contains)) None
        else Some(e.transform { case a: Attribute => byPos(a) }.asInstanceOf[E])
      val partitioning = p.outputPartitioning match {
        case e: Expression with Partitioning if e.numPartitions == lr.rdd.getNumPartitions =>
          mapped(e).getOrElse(UnknownPartitioning(0))
        case _ => UnknownPartitioning(0)
      }
      val ordering = p.outputOrdering.map(mapped(_)).takeWhile(_.isDefined).flatten
      DatasetBridge.ofRows(ckpt.sparkSession, lr.makeCopy(Array(lr.output, lr.rdd, partitioning,
        ordering, Boolean.box(lr.isStreaming), lr.stream)))
    }
  }

  private def rddOf(ds: Dataset[_]): Option[RDD[_]] = ds.queryExecution.logical match {
    case lr: LogicalRDD => Some(lr.rdd)
    case _              => None
  }
}
