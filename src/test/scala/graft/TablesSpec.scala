package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import graft.tables.Tables
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Table schemas come from the parquet footer: the same schema Spark's
  * inference gives, with no Spark job, and never a stale one.
  */
class TablesSpec extends SparkSpec {

  private val dirs  = Seq(sfDir, s"${new java.io.File(sfDir).getParent}/sf0.01")
  private val names = Tables.star ++ Seq("events", "documents", "embeddings")
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def withNanosAsLong[T](flag: String)(body: => T): T = {
    val before = spark.conf.getOption(NanosAsLong)
    spark.conf.set(NanosAsLong, flag)
    try body
    finally before.fold(spark.conf.unset(NanosAsLong))(spark.conf.set(NanosAsLong, _))
  }

  test("the footer schema equals Spark's inferred schema for every fixture table") {
    for (flag <- Seq("true", "false"); dir <- dirs; name <- names) withNanosAsLong(flag) {
      val p = Tables.path(dir, name)
      assert(Tables.schemaOf(spark, p) == spark.read.parquet(p).schema, s"$p, nanosAsLong=$flag")
    }
  }

  test("building a table read starts no Spark job") {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      names.foreach(Tables.table(spark, sfDir, _))
      Tables.eventsStream(spark, sfDir)
      org.apache.spark.graftbridge.SchedulerBridge.drainListeners(spark.sparkContext)
      assert(jobs.get == 0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a file rewritten in place is read back with its new schema") {
    val dir = Files.createTempDirectory("graft-tables")
    val p   = Paths.get(Tables.path(dir.toString, "events"))
    Files.copy(Paths.get(Tables.path(sfDir, "events")), p)
    assert(Tables.schemaOf(spark, p.toString)("ts").dataType == TimestampNTZType)
    val before = Tables.events(spark, dir.toString).orderBy("event_id").collect().toSeq

    // the same events with ts as raw nanoseconds, the other encoding
    // Tables.normalizeTs accepts
    val staged = dir.resolve("staged").toString
    spark.read.parquet(p.toString)
      .withColumn("ts", unix_micros(col("ts").cast("timestamp")) * 1000L)
      .coalesce(1).write.parquet(staged)
    val part = new java.io.File(staged).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, p, StandardCopyOption.REPLACE_EXISTING)

    assert(Tables.schemaOf(spark, p.toString)("ts").dataType == LongType)
    assert(Tables.events(spark, dir.toString).orderBy("event_id").collect().toSeq == before)
  }
}
