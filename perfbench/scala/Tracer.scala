package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** What the benchmark thread knows about one traced query execution.
  * Times are epoch milliseconds (fractional), the clock Spark's events
  * use. RDD ids created by the query lie in (rddLo, rddHi). */
final case class QueryWindow(
    qid: String, name: String, t0: Double, tb: Double, t1: Double,
    rddLo: Int, rddHi: Int, aliveAfter: Int, gcMs: Long, ok: Boolean)

/** A timed interval of one layer; `parent` indexes the enclosing span
  * (-1 for the query root). */
final case class Span(name: String, start: Double, end: Double, parent: Int) {
  def dur: Double = end - start
}

/** Records scheduler, executor, block-store, Catalyst and streaming
  * events through Spark's public listener hooks only, and attributes
  * them to the serially executed queries afterwards: jobs by the job
  * group the benchmark sets (falling back to the query's time window for
  * jobs started on threads that do not inherit it, e.g. stream
  * micro-batches), stages and tasks through their job, plans and
  * micro-batches by time window, cached blocks by RDD id range. */
final class Tracer extends SparkListener with QueryExecutionListener {

  private final class JobRec(val start: Long, val group: String, val stageIds: Seq[Int]) {
    @volatile var end: Long = -1L
  }
  private final class StageAgg {
    var tasks = 0; var failed = 0; var shuffleMap = false
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shWrite = 0L; var shRead = 0L; var fetchWaitMs = 0L; var spill = 0L
    var inBytes = 0L; var inRows = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }
  private final case class Qe(phases: Map[String, (Long, Long)], nodes: Int)
  private final case class Batch(startMs: Long, durMs: Map[String, Long], runId: String,
                                 stateRows: Long, stateCommitMs: Long)

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageTimes = new ConcurrentHashMap[Int, (Long, Long)]()
  private val stageAggs = new ConcurrentHashMap[Int, StageAgg]()
  private val blocks = new ConcurrentLinkedQueue[(Int, Long)]()
  private val unpersisted = new ConcurrentLinkedQueue[Int]()
  private val qes = new ConcurrentLinkedQueue[Qe]()
  private val batches = new ConcurrentLinkedQueue[Batch]()
  private val events = new AtomicLong()

  // ---- SparkListener ------------------------------------------------
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs.put(e.jobId, new JobRec(e.time, group, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.incrementAndGet()
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    val si = e.stageInfo
    for (s <- si.submissionTime; c <- si.completionTime) stageTimes.put(si.stageId, (s, c))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val a = stageAggs.computeIfAbsent(e.stageId, _ => new StageAgg)
    a.synchronized {
      a.tasks += 1
      if (e.taskType == "ShuffleMapTask") a.shuffleMap = true
      if (e.taskInfo.failed || e.taskInfo.killed) a.failed += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.shRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inBytes += m.inputMetrics.bytesRead; a.inRows += m.inputMetrics.recordsRead
        a.taskMs += m.executorRunTime
      }
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    events.incrementAndGet()
    val b = e.blockUpdatedInfo
    for (rdd <- b.blockId.asRDDId if b.storageLevel.isValid)
      blocks.add((rdd.rddId, b.memSize + b.diskSize))
  }
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = {
    events.incrementAndGet()
    unpersisted.add(e.rddId)
  }

  // ---- QueryExecutionListener (Catalyst phases of every action) -----
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
  private def record(qe: QueryExecution): Unit = {
    events.incrementAndGet()
    val phases = qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) }
    val nodes = scala.util.Try(qe.optimizedPlan.collect { case p => p }.size).getOrElse(0)
    qes.add(Qe(phases, nodes))
  }

  // ---- StreamingQueryListener (micro-batch progress) ----------------
  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      events.incrementAndGet()
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val ops = Option(p.stateOperators).getOrElse(Array.empty)
      batches.add(Batch(start, dur, p.runId.toString,
        ops.map(_.numRowsTotal).sum, ops.map(_.commitTimeMs).sum))
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streaming)
  }
  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streaming)
  }

  /** Waits until the listener bus has gone quiet: no new event for
    * `quietMs` and every started job has ended (bounded by `maxMs`). */
  def drain(quietMs: Long = 300, maxMs: Long = 20000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = -1L
    var quietSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline) {
      val n = events.get()
      if (n != last) { last = n; quietSince = System.currentTimeMillis() }
      val open = jobs.values.asScala.exists(_.end < 0)
      if (!open && System.currentTimeMillis() - quietSince >= quietMs) return
      Thread.sleep(25)
    }
  }

  /** Per-query layer metrics and spans, in the order of `windows`. */
  def attribute(windows: Seq[QueryWindow]): Seq[(Map[String, Double], Seq[Span])] = {
    val byQid = windows.map(w => w.qid -> w).toMap
    def inWindow(ms: Double): Option[QueryWindow] =
      windows.find(w => ms >= math.floor(w.t0) && ms <= math.ceil(w.t1))
    val jobOwner: Map[Int, QueryWindow] = jobs.asScala.toSeq.flatMap { case (id, j) =>
      val byGroup = Option(j.group).filter(_.startsWith(Tracer.GroupPrefix))
        .flatMap(g => byQid.get(g.stripPrefix(Tracer.GroupPrefix)))
      byGroup.orElse(inWindow(j.start.toDouble)).map(id -> _)
    }.toMap
    val qeOwner = qes.asScala.toSeq.flatMap { qe =>
      val starts = qe.phases.values.map(_._1)
      if (starts.isEmpty) None else inWindow(starts.min.toDouble).map(_ -> qe)
    }.groupBy(_._1.qid).map { case (k, v) => k -> v.map(_._2) }
    val batchOwner = batches.asScala.toSeq.flatMap(b => inWindow(b.startMs.toDouble).map(_ -> b))
      .groupBy(_._1.qid).map { case (k, v) => k -> v.map(_._2) }
    val blockList = blocks.asScala.toSeq
    val unpersistList = unpersisted.asScala.toSeq

    windows.map { w =>
      val myJobs = jobOwner.collect { case (id, o) if o.qid == w.qid => id -> jobs.get(id) }
        .toSeq.sortBy(_._2.start)
      val myStages = myJobs.flatMap(_._2.stageIds).distinct
        .flatMap(s => Option(stageTimes.get(s)).map(t => (s, t, Option(stageAggs.get(s)))))
      val aggs = myStages.flatMap(_._3)
      val myQes = qeOwner.getOrElse(w.qid, Seq.empty)
      val myBatches = batchOwner.getOrElse(w.qid, Seq.empty)
      val inRange = (id: Int) => id > w.rddLo && id < w.rddHi
      val stored = blockList.filter(b => inRange(b._1))
      val created = (stored.map(_._1) ++ unpersistList.filter(inRange)).distinct.size max w.aliveAfter

      val jobIv = myJobs.map { case (_, j) => (j.start.toDouble, (if (j.end >= 0) j.end else j.start).toDouble) }
      val wall = w.t1 - w.t0
      val busy = Tracer.unionLength(jobIv.map { case (s, e) => (s max w.t0, e min w.t1) })
      def sumA(f: StageAgg => Long): Double = aggs.map(a => a.synchronized(f(a))).sum.toDouble
      val skews = aggs.flatMap { a =>
        val ts = a.synchronized(a.taskMs.toSeq).sorted
        if (ts.size < 2) None
        else {
          val med = ts(ts.size / 2).toDouble
          Some(if (med > 0) ts.last / med else 1.0)
        }
      }
      def stageWall(mapSide: Boolean): Double = Tracer.unionLength(myStages.collect {
        case (_, (s, c), Some(a)) if a.shuffleMap == mapSide => (s.toDouble, c.toDouble)
      }) / 1e3
      def phase(p: String): Double = myQes.flatMap(_.phases.get(p)).map { case (s, e) => e - s }.sum / 1e3
      def dur(k: String): Double = myBatches.map(_.durMs.getOrElse(k, 0L)).sum / 1e3
      val isKernel = w.name.endsWith("_kernel")
      val mb = 1024.0 * 1024.0

      val m = Map[String, Double](
        "ops.build_s" -> (w.tb - w.t0) / 1e3,
        "ops.build_jobs" -> myJobs.count(_._2.start <= w.tb).toDouble,
        "checkpoints.created" -> created.toDouble,
        "checkpoints.alive_after" -> w.aliveAfter.toDouble,
        "checkpoints.stored_mb" -> stored.map(_._2).sum / mb,
        "plan.analysis_s" -> phase("analysis"),
        "plan.optimization_s" -> phase("optimization"),
        "plan.planning_s" -> phase("planning"),
        "plan.nodes" -> myQes.map(_.nodes).sum.toDouble,
        "sched.jobs" -> myJobs.size.toDouble,
        "sched.stages" -> myStages.size.toDouble,
        "sched.tasks" -> sumA(_.tasks),
        "sched.job_busy_s" -> busy / 1e3,
        "sched.driver_gap_s" -> (wall - busy) / 1e3,
        "exec.task_run_s" -> sumA(_.runMs) / 1e3,
        "exec.cpu_s" -> sumA(_.cpuNs) / 1e9,
        "exec.gc_s" -> sumA(_.gcMs) / 1e3,
        "exec.shuffle_write_mb" -> sumA(_.shWrite) / mb,
        "exec.shuffle_read_mb" -> sumA(_.shRead) / mb,
        "exec.shuffle_fetch_wait_s" -> sumA(_.fetchWaitMs) / 1e3,
        "exec.spill_mb" -> sumA(_.spill) / mb,
        "exec.stage_skew" -> (if (skews.isEmpty) 1.0 else skews.max),
        "exec.map_stage_s" -> stageWall(mapSide = true),
        "exec.result_stage_s" -> stageWall(mapSide = false),
        "exec.failed_tasks" -> sumA(_.failed),
        "tables.input_mb" -> sumA(_.inBytes) / mb,
        "tables.input_rows" -> sumA(_.inRows),
        "kernel.map_shuffle_s" -> (if (isKernel) stageWall(mapSide = true) else 0.0),
        "kernel.reduce_s" -> (if (isKernel) stageWall(mapSide = false) else 0.0),
        "streaming.batches" -> myBatches.size.toDouble,
        "streaming.trigger_s" -> dur("triggerExecution"),
        "streaming.add_batch_s" -> dur("addBatch"),
        "streaming.wal_commit_s" -> (dur("walCommit") + dur("commitOffsets")),
        "streaming.state_rows" -> myBatches.groupBy(_.runId).values
          .map(_.maxBy(_.startMs).stateRows).sum.toDouble,
        "streaming.state_commit_s" -> myBatches.map(_.stateCommitMs).sum / 1e3,
        "jvm.driver_gc_s" -> w.gcMs / 1e3,
      )

      // span tree: query > {ops.build, plan.*, sched.job > exec.stage,
      // streaming.batch}; work that starts inside the build window hangs
      // under ops.build
      val spans = mutable.ArrayBuffer(Span("query", w.t0, w.t1, -1), Span("ops.build", w.t0, w.tb, 0))
      def add(name: String, s: Double, e: Double, parent: Int): Int = {
        val p = spans(parent)
        val (cs, ce) = (s max p.start min p.end, e max p.start min p.end)
        spans += Span(name, cs, ce max cs, parent)
        spans.size - 1
      }
      def under(s: Double): Int = if (s < w.tb) 1 else 0
      for (qe <- myQes; (ph, (s, e)) <- qe.phases if Tracer.PlanPhases(ph))
        add(s"plan.$ph", s.toDouble, e.toDouble, under(s.toDouble))
      for ((_, j) <- myJobs) {
        val ji = add("sched.job", j.start.toDouble, (if (j.end >= 0) j.end else j.start).toDouble,
          under(j.start.toDouble))
        for (sid <- j.stageIds; (s, c) <- Option(stageTimes.get(sid)))
          add("exec.stage", s.toDouble, c.toDouble, ji)
      }
      for (b <- myBatches)
        add("streaming.batch", b.startMs.toDouble,
          (b.startMs + b.durMs.getOrElse("triggerExecution", 0L)).toDouble, under(b.startMs.toDouble))
      (m, spans.toSeq)
    }
  }
}

object Tracer {
  val GroupPrefix = "perfbench:"
  val PlanPhases = Set("analysis", "optimization", "planning")

  /** Total length of the union of closed intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN; var curE = Double.NaN
    for ((s, e) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = curE max e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time per span: the root interval is cut at every span
    * boundary and each piece is charged to the deepest span covering it
    * (the latest started on ties), so the self times of one query sum to
    * its wall time exactly, even where sibling spans overlap. */
  def selfTimes(spans: Seq[Span]): Seq[Double] = {
    val depth = new Array[Int](spans.size)
    for (i <- spans.indices) depth(i) = if (spans(i).parent < 0) 0 else depth(spans(i).parent) + 1
    val cuts = spans.flatMap(s => Seq(s.start, s.end)).distinct.sorted
    val self = new Array[Double](spans.size)
    for (Seq(a, b) <- cuts.sliding(2) if b > a) {
      val mid = (a + b) / 2
      val covering = spans.indices.filter(i => spans(i).start <= mid && mid < spans(i).end)
      if (covering.nonEmpty) {
        val owner = covering.maxBy(i => (depth(i), spans(i).start))
        self(owner) += b - a
      }
    }
    self.toSeq
  }
}
