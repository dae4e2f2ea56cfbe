package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Failures are LOUD (round-12 lesson: 31 erred queries were silently
  * *absent* from the correctness artifact, and absence reads as green at
  * a glance): every query that throws gets a row in `outDir/errors.json`
  * with `err` set, plus a stderr line, so a red family can never hide
  * behind an artifact that simply has fewer rows.
  */
object Verify {

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private[graft] def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Writes each query's result to `outDir/<name>` parquet; returns the
    * name→error map for the ones that threw (empty = all green). A
    * failed query also DELETES any pre-existing `outDir/<name>` dir: a
    * stale green artifact from an earlier run into the same outDir must
    * never outlive the failure that superseded it. */
  private[graft] def dumpQueries(
      spark: SparkSession,
      sfDir: String,
      outDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)]): Map[String, String] =
    queries.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch {
        case e: Throwable =>
          val msg = (e.getClass.getSimpleName + ": " +
            Option(e.getMessage).getOrElse("")).take(500)
          System.err.println(s"[verify] $name failed: $msg")
          graft.ops.deleteTree(Paths.get(s"$outDir/$name"))
          Some(name -> msg)
      }
    }.toMap

  /** `{"<name>": {"err": "<msg>"}, ...}` — one row per failed query, the
    * shape the round artifacts expect (`err != null` marks a failure). */
  private[graft] def writeErrors(outDir: String, errs: Map[String, String]): Unit = {
    val json = errs.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: {${q("err")}: ${q(v)}}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), json)
    ()
  }

  /** `manifest.json`: the names this run ATTEMPTED (full run = every
    * registered query), written BEFORE any query executes. This is what
    * makes the local gate fail-closed: an erred query writes no result
    * dir (and deletes any stale one), so a dir-glob check would silently
    * skip it — check.py instead walks the manifest and FAILS any
    * attempted name with no result dir. Subset runs write the subset
    * (the attempted set), so a 3-query iteration doesn't read as 336
    * missing results; `registered` records the full count for audit. */
  private[graft] def writeManifest(outDir: String, attempted: Seq[String],
                                   registered: Int): Unit = {
    val names = attempted.sorted.map(q).mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$outDir/manifest.json"),
      s"""{${q("attempted")}: $names, ${q("registered")}: $registered}""")
    ()
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query subset (local iteration)
    val subset: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries.toSeq
      .filter { case (name, _) => subset.forall(_.contains(name)) }
    // manifest first — if the JVM dies mid-run, every unreached query is
    // a missing dir the checker fails, not a silent absence. A subset
    // run manifests the names as REQUESTED (not as matched): a typo'd
    // name selects nothing, writes no dir, and fails the check instead
    // of silently verifying an empty set.
    val attempted = subset.fold(selected.map(_._1))(_.toSeq)
    writeManifest(outDir, attempted, SparkEntry.queries.size)
    val errs = dumpQueries(spark, sfDir, outDir, selected)
    // errors.json is written only on FULL runs: a subset run overwriting
    // it with just the subset's errors would erase every other query's
    // recorded failure and let a reused artifact dir read green
    if (subset.isEmpty) writeErrors(outDir, errs)
    if (errs.nonEmpty)
      System.err.println(s"[verify] ${errs.size} queries FAILED: " +
        errs.keys.toSeq.sorted.mkString(", "))
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
