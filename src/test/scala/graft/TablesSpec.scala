package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.tables.Tables
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
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

  test("reading the micros events fixture leaves nanosAsLong as it was") {
    val original = spark.conf.getOption(NanosAsLong)
    try for (before <- Seq(None, Some("false"))) {
      before.fold(spark.conf.unset(NanosAsLong))(spark.conf.set(NanosAsLong, _))
      Tables.events(spark, sfDir)
      Tables.eventsStream(spark, sfDir)
      assert(spark.conf.getAll.get(NanosAsLong) == before) // set values only, no default
    } finally original.fold(spark.conf.unset(NanosAsLong))(spark.conf.set(NanosAsLong, _))
  }

  test("a TIMESTAMP(NANOS) events file reads back to the micros of the fixture") {
    val dir  = Files.createTempDirectory("graft-nanos")
    val conf = spark.sessionState.newHadoopConf()
    val src  = Tables.path(sfDir, "events")
    // the fixture's own parquet schema, with ts re-annotated as nanos
    val fixture = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(src), conf))
      try r.getFooter.getFileMetaData.getSchema finally r.close()
    }
    val schema = new MessageType(fixture.getName, fixture.getFields.asScala.map { f =>
      if (f.getName != "ts") f
      else Types.primitive(INT64, f.getRepetition)
        .as(LogicalTypeAnnotation.timestampType(false, TimeUnit.NANOS)).named("ts")
    }.asJava)
    val rows = spark.read.parquet(src)
      .select(col("event_id"), unix_micros(col("ts").cast("timestamp")).as("us"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .collect()
    val writer = ExampleParquetWriter
      .builder(new Path(Tables.path(dir.toString, "events")))
      .withType(schema).withConf(conf).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { r =>
      val g = groups.newGroup()
      if (!r.isNullAt(0)) g.append("event_id", r.getLong(0))
      if (!r.isNullAt(1)) g.append("ts", r.getLong(1) * 1000L)
      if (!r.isNullAt(2)) g.append("user_id", r.getLong(2))
      if (!r.isNullAt(3)) g.append("event_type", r.getString(3))
      if (!r.isNullAt(4)) g.append("value", r.getDouble(4))
      if (!r.isNullAt(5)) g.append("props", r.getString(5))
      writer.write(g)
    } finally writer.close()

    val before = spark.conf.getOption(NanosAsLong)
    try {
      val nanos = Tables.events(spark, dir.toString).orderBy("event_id").collect().toSeq
      assert(spark.conf.get(NanosAsLong) == "true")
      assert(nanos.nonEmpty)
      assert(nanos == Tables.events(spark, sfDir).orderBy("event_id").collect().toSeq)
    } finally before.fold(spark.conf.unset(NanosAsLong))(spark.conf.set(NanosAsLong, _))
  }
}
