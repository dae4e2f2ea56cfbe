package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev probe (PlanDump convention — not a driver surface):
  * measures the Structured Streaming ENGINE STAGING FLOOR inside one
  * warm shared SparkSession, isolating the per-StreamingQuery fixed
  * cost (query start: checkpoint dir + offset log + commit log; one
  * AvailableNow micro-batch; stop + sink-view teardown) from any plan
  * or state work. Two shapes, K runs each after one untimed warmup:
  *
  *  - stateless: parquet file source → projection → memory sink
  *    (pure staging, zero state stores)
  *  - stateful: same source → groupBy count (update mode) — staging +
  *    one state-store instance per state partition
  *
  * The bench suite's 16 streaming queries each pay this floor once per
  * measured pass BY DESIGN: the per-query StreamingQuery + fresh sink
  * view is what makes the exactly-once/restart/watermark claims real
  * (stream_restart's two stagings prove checkpoint resume; a shared
  * long-lived query could not gate per-query against the DuckDB
  * oracle). This probe quantifies what that isolation costs, so the
  * bench floor is a measured constant, not a suspicion. */
object StreamFloorProbe {
  def main(args: Array[String]): Unit = {
    val k = args.headOption.map(_.toInt).getOrElse(5)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.ops.withTempDir("graft-floor") { tmp =>
      spark.range(100).select(col("id"), (col("id") % 7).as("k"))
        .coalesce(1).write.parquet(s"$tmp/src")
      val schema = spark.read.parquet(s"$tmp/src").schema
      val partKey = "spark.sql.shuffle.partitions"
      spark.conf.set(partKey, sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTS", "8"))

      def run(name: String, stateful: Boolean): Double = {
        val src = spark.readStream.schema(schema).parquet(s"$tmp/src")
        val out = if (stateful) src.groupBy("k").count() else src.select("id")
        val qn = name + "_" + java.util.UUID.randomUUID().toString.replace("-", "")
        val t0 = System.nanoTime()
        val q = out.writeStream.format("memory").queryName(qn)
          .outputMode(if (stateful) "update" else "append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val n = spark.table(qn).count()
        val sec = (System.nanoTime() - t0) / 1e9
        spark.catalog.dropTempView(qn)
        require(n > 0, s"$name produced no rows")
        sec
      }

      for (stateful <- Seq(false, true)) {
        val label = if (stateful) "stateful(groupBy)" else "stateless(project)"
        run("warm", stateful) // untimed warmup: engine-path JIT
        val times = (1 to k).map(_ => run("probe", stateful))
        println(f"[floor] $label: min=${times.min}%.3f s " +
          f"median=${times.sorted.apply(k / 2)}%.3f s max=${times.max}%.3f s " +
          s"(k=$k, parts=${spark.conf.get(partKey)})")
      }
    }
    spark.stop()
  }
}
