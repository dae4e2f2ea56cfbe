package graft.ops

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession

/** Cross-query artifacts: values that several registered queries read
  * and that a serving tier would build once and persist — trained
  * tokenizers, quantizer codebooks, a scored corpus, cluster labels, an
  * exact percentile table. Each is memoized per (session, key).
  *
  * The build runs once per key even under concurrent callers; it runs in
  * a detached [[Checkpoints]] scope, and the registry owns the
  * checkpoints the artifact reads until [[clearCache]]. Entries of a
  * stopped session drop on the next memo call (their blocks died with
  * the session). The benchmarks call [[clearCache]] between passes, so
  * every measured pass pays each build once; it frees the checkpoints,
  * which invalidates any lazy plan still derived from an artifact, so
  * call it only between fully materialized queries.
  */
object Artifacts {

  private final class Entry(spark: SparkSession) {
    var value: Option[AnyRef]  = None
    var held: Seq[RDD[_]]      = Nil
    var dead                   = false

    def evict(): Unit = synchronized {
      if (!spark.sparkContext.isStopped) held.foreach(_.unpersist(blocking = false))
      held = Nil
      value = None
      dead = true
    }
  }

  private val entries = new ConcurrentHashMap[(SparkSession, Any), Entry]()

  def memo[A <: AnyRef](spark: SparkSession, key: Any)(compute: Checkpoints.Scope => A): A = {
    entries.keySet.removeIf(_._1.sparkContext.isStopped)
    val e = entries.computeIfAbsent((spark, key), _ => new Entry(spark))
    val v = e.synchronized {
      if (!e.dead && e.value.isEmpty) {
        val (value, held) = Checkpoints.detached(compute)
        e.value = Some(value)
        e.held = held
      }
      e.value
    }
    // evicted between lookup and lock: build into the fresh entry
    v.getOrElse(memo(spark, key)(compute)).asInstanceOf[A]
  }

  /** Drops every artifact and frees its checkpoints. */
  def clearCache(): Unit = entries.asScala.foreach { case (k, e) =>
    entries.remove(k, e)
    e.evict()
  }
}
