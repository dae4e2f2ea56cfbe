package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.graftbridge.SchedulerBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Runs `body` and returns the QueryExecution of every action that
    * succeeded meanwhile (eager checkpoints included), in completion
    * order: the plans a served operator actually ran. */
  def servedPlans(body: => Any): Seq[QueryExecution] = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = { seen.add(qe); () }
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; SchedulerBridge.drainListeners(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }

  /** The prefix-scan plan shape (`graft.ops.PrefixScan`): no exchange
    * keyed on a partition id and, unless `windows`, no Window node at
    * all, so neither a local-rank window nor a global one. */
  def assertScanShape(name: String, df: DataFrame, windows: Boolean = false): Unit = {
    val qe = df.queryExecution
    val ws = qe.optimizedPlan.collect { case w: LWindow => w }
    assert(windows || ws.isEmpty, s"$name: expected a window-free plan, found: ${ws.mkString("\n")}")
    val pidExchanges = qe.explainString(FormattedMode).linesIterator
      .filter(l => "hashpartitioning\\([^)]*pid#".r.findFirstIn(l).isDefined).toSeq
    assert(pidExchanges.isEmpty, s"$name: exchange on a partition id: ${pidExchanges.mkString("\n")}")
  }
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // static conf: table-backed tests (bucketing) write here, not ./
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .getOrCreate()
}
