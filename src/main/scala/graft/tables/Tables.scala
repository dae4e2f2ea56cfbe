package graft.tables

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.metadata.FileMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFooterReader, ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Loaders for the driver-generated parquet fixtures (TESTDATA.md).
  *
  * All reads go through here so that schema quirks are handled once:
  *  - `events.ts` has shipped in two encodings across fixture
  *    generations: parquet TIMESTAMP(NANOS) (which Spark's vectorized
  *    reader only supports as a raw long via `spark.sql.legacy.parquet.
  *    nanosAsLong`) and parquet timestamp[us] with isAdjustedToUTC=false
  *    (which Spark reads as TIMESTAMP_NTZ). [[Tables.normalizeTs]]
  *    branches on the type Spark actually inferred and converts both to
  *    a proper TimestampType (micros) so downstream operators see one
  *    stable schema regardless of how the driver regenerated the files.
  *
  * Schemas come from the parquet footer, read on the driver with the
  * session's converter flags ([[schemaOf]]): building a query's plan runs
  * no Spark job. There is no schema memo, so a file rewritten in place is
  * read with its new schema.
  *
  * Scale note: these are plain columnar parquet scans — filter pushdown
  * and column pruning reach the scan, and at cluster scale the same code
  * reads a partitioned directory tree instead of a single file.
  */
object Tables {

  val star: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    name match {
      case "events" => events(spark, dir)
      case other    => read(spark, path(dir, other))
    }

  /** Spark's schema for the parquet file at `p`, from its footer alone,
    * by the rule Spark's inference applies to one footer: the Spark schema
    * a Spark writer stored in the file's metadata, else the parquet schema
    * converted with the session's flags (`nanosAsLong` among them). Unlike
    * inference, it starts no job. A path that is not a single file (a
    * directory tree, a glob, a missing path) falls back to inference.
    */
  def schemaOf(spark: SparkSession, p: String): StructType =
    footer(spark, p) match {
      case Some(meta) =>
        Option(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
          .flatMap(json => Try(DataType.fromJson(json)).toOption)
          .collect { case s: StructType => s }
          .getOrElse(new ParquetToSparkSchemaConverter(spark.sessionState.conf).convert(meta.getSchema))
      case None => spark.read.parquet(p).schema
    }

  /** The footer metadata of the parquet file at `p`, or None when `p` is
    * not a single file. */
  private def footer(spark: SparkSession, p: String): Option[FileMetaData] = {
    val conf = spark.sessionState.newHadoopConf()
    val path = new Path(p)
    Try(path.getFileSystem(conf).getFileStatus(path)).toOption.filter(_.isFile).map { file =>
      ParquetFooterReader
        .readFooter(HadoopInputFile.fromStatus(file, conf), SKIP_ROW_GROUPS).getFileMetaData
    }
  }

  /** The parquet file at `p`, with its schema from [[schemaOf]]. */
  private def read(spark: SparkSession, p: String): DataFrame =
    spark.read.schema(schemaOf(spark, p)).parquet(p)

  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Rewrites a `ts` column of any fixture-observed encoding to
    * TimestampType micros. The session timezone is pinned to UTC by
    * Bench/Verify/spec sessions, so the NTZ→TZ cast is a pure
    * reinterpretation (epoch values unchanged) and stays aligned with
    * the DuckDB oracle, which reads the same naive-micros parquet.
    */
  def normalizeTs(df: DataFrame): DataFrame = {
    // The NTZ→TZ cast below is a pure reinterpretation ONLY under a UTC
    // session timezone; any other zone silently shifts every epoch. All
    // current entry points (Bench/Verify/specs) pin UTC — enforce it
    // here so a future caller can't quietly diverge from the oracle.
    val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
    require(tz == "UTC",
      s"Tables.normalizeTs requires spark.sql.session.timeZone=UTC (got $tz): " +
        "the TIMESTAMP_NTZ cast reinterprets naive micros and would shift epochs")
    df.schema("ts").dataType match {
      // TIMESTAMP(NANOS) read as raw long under nanosAsLong: integer
      // division keeps full precision (ns values exceed 2^53, so a
      // double-based divide would corrupt timestamps).
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // timestamp[us] isAdjustedToUTC=false → TIMESTAMP_NTZ.
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case org.apache.spark.sql.types.TimestampType =>
        df
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other; expected long (nanos), TIMESTAMP_NTZ, or TIMESTAMP")
    }
  }

  /** `events` with `ts` normalized to TimestampType micros regardless of
    * the fixture's on-disk encoding (see [[normalizeTs]]).
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(spark.read.schema(eventsSchema(spark, dir)).parquet(path(dir, "events")))

  /** The streaming twin of [[events]]: same nanos handling, same schema
    * branch, same micros conversion — one normalization definition so
    * the bounded-stream queries can never diverge from the batch
    * oracle's read contract. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(
      spark.readStream
        .schema(eventsSchema(spark, dir))
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))

  /** The events schema. A `ts` stored as TIMESTAMP(NANOS) is readable
    * only as a raw long, under `spark.sql.legacy.parquet.nanosAsLong`;
    * Spark reads that flag from the session when a scan runs, not when
    * it is planned, so for such a file it is set on the session and
    * stays set. Micros files leave the session as it is. */
  private def eventsSchema(spark: SparkSession, dir: String): StructType = {
    val p = path(dir, "events")
    val nanosTs = footer(spark, p).exists { meta =>
      val s = meta.getSchema
      s.containsField("ts") && (s.getType(s.getFieldIndex("ts")).getLogicalTypeAnnotation match {
        case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
        case _                                 => false
      })
    }
    if (nanosTs) spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schemaOf(spark, p)
  }
}
