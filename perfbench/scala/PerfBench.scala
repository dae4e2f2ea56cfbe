package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run of one workload, driven by `perfbench/run.py`.
  *
  * Closed loop, one client: queries run serially through the engine's
  * public entry point `SparkEntry.queries(name)(spark, dir)`, each result
  * written to the `noop` sink. The run
  *   1. sets up `--setups` times: session start plus an untimed warmup
  *      pass. The first set-up counts from JVM start, and its warmup
  *      writes every result to parquet under `--dump` instead of `noop`,
  *      for the oracle check outside the timed passes; later set-ups stop
  *      and restart the session and warm up through `noop`.
  *   2. measures `--passes` whole passes over the query list, fewer if
  *      the next pass would end past `--deadline-ms` (epoch ms; at least
  *      one pass runs); with `--trace 1` the even passes run with the
  *      listeners of [[Tracer]] attached and the odd ones without, so the
  *      run states its own tracing overhead,
  * and writes everything it measured as JSON to `--out`.
  */
object PerfBench {

  type Fn = (SparkSession, String) => DataFrame

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dataDir   = opt("data")
    val names     = opt("queries").split(",").toSeq.filter(_.nonEmpty)
    val traced    = opt("trace") == "1"
    val cpus      = opt("cpus")
    val setups    = opt("setups").toInt
    val passes    = opt("passes").toInt
    val deadlineMs = opt("deadline-ms").toLong
    val dumpDir   = opt("dump")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val registry = SparkEntry.queries
    val unknown = names.filterNot(registry.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val fns: Seq[(String, Fn)] = names.map(n => n -> registry(n))

    def session(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", opt("tmp"))
        .config("spark.sql.warehouse.dir", s"${opt("tmp")}/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def errMsg(e: Throwable): String =
      (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse("")).take(300)

    var spark = session()
    val sessionReadyMs = System.currentTimeMillis()

    val noop: (String, DataFrame) => Unit = (_, df) => df.write.format("noop").mode("overwrite").save()
    val dump: (String, DataFrame) => Unit =
      (n, df) => df.coalesce(1).write.mode("overwrite").parquet(s"$dumpDir/$n")

    /** One query, timed: build the plan (`ops.build`), then write it. */
    def runQuery(name: String, fn: Fn, qid: String,
                 sink: (String, DataFrame) => Unit = noop): (Long, Long, Long, Option[String]) = {
      val sc = spark.sparkContext
      sc.setJobGroup(Tracer.GroupPrefix + qid, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      var tb = t0
      val err = try {
        val df = fn(spark, dataDir)
        tb = System.nanoTime()
        sink(name, df)
        None
      } catch { case e: Throwable => Some(errMsg(e)) }
      finally sc.clearJobGroup()
      if (tb == t0) tb = System.nanoTime()
      (t0, tb, System.nanoTime(), err)
    }

    val dumped = scala.collection.mutable.LinkedHashMap.empty[String, Option[String]]
    def warmupPass(sink: (String, DataFrame) => Unit): Double = {
      clearArtifactCaches()
      val t = System.nanoTime()
      fns.foreach { case (n, fn) =>
        val err = runQuery(n, fn, s"warmup:$n", sink)._4
        if (sink eq dump) dumped(n) = err
        err.foreach(m => errors.getOrElseUpdate(n, s"warmup: $m"))
      }
      (System.nanoTime() - t) / 1e9
    }

    /** [[referenceWork]] in a fresh session (so no SQL conf a query set
      * applies): once untimed, as the first run after a pass reads up to 2x
      * slower (the pass's own aftermath), then `RefReps` times, kept only
      * after measured passes: the call after the set-ups warms the JIT. */
    val referenceS = scala.collection.mutable.ArrayBuffer.empty[Double]
    def timeReference(keep: Boolean): Unit = {
      val ref = spark.newSession()
      referenceWork(ref, cpus.toInt)
      for (_ <- 1 to RefReps) {
        val t = System.nanoTime()
        referenceWork(ref, cpus.toInt)
        if (keep) referenceS += (System.nanoTime() - t) / 1e9
      }
    }

    // ---- 1. set-up, several times -----------------------------------
    val setupS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val sessionS = scala.collection.mutable.ArrayBuffer.empty[Double]
    sessionS += (sessionReadyMs - jvmStartMs) / 1e3
    setupS += sessionS.last + warmupPass(dump)
    for (_ <- 2 to setups) {
      clearArtifactCaches()
      val t = System.nanoTime()
      spark.stop()
      spark = session()
      sessionS += (System.nanoTime() - t) / 1e9
      setupS += sessionS.last + warmupPass(noop)
    }
    timeReference(keep = false)

    // ---- 2. measured passes -----------------------------------------
    val tracer = if (traced) Some(new Tracer) else None
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    def gcMs(): Long = gcBeans.map(_.getCollectionTime.max(0L)).sum
    // epoch-ms view of nanoTime, for spans aligned with Spark's event times
    val baseNs = System.nanoTime(); val baseMs = System.currentTimeMillis().toDouble
    def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6
    def nextRddId(): Int = spark.sparkContext.emptyRDD[Int].id

    final case class Sample(name: String, pass: Int, traced: Boolean, wall: Double,
                            build: Double, err: Option[String])
    val samples = scala.collection.mutable.ArrayBuffer.empty[Sample]
    val passWall = scala.collection.mutable.ArrayBuffer.empty[(Int, Boolean, Double)]
    val windows = scala.collection.mutable.ArrayBuffer.empty[(Int, QueryWindow)]
    val measureStart = System.nanoTime()
    def nextPassFits: Boolean = passWall.isEmpty ||
      System.currentTimeMillis() + 1500 * passWall.map(_._3).max < deadlineMs
    for (pass <- 0 until passes if nextPassFits) {
      val tracedPass = traced && pass % 2 == 0
      clearArtifactCaches()
      if (tracedPass) tracer.foreach(_.attach(spark))
      val p0 = System.nanoTime()
      fns.foreach { case (n, fn) =>
        val qid = s"$pass:$n"
        val lo = if (tracedPass) nextRddId() else 0
        val g0 = if (tracedPass) gcMs() else 0L
        val (t0, tb, t1, err) = runQuery(n, fn, qid)
        samples += Sample(n, pass, tracedPass, (t1 - t0) / 1e9, (tb - t0) / 1e9, err)
        err.foreach(m => errors.getOrElseUpdate(n, m))
        if (tracedPass) {
          val hi = nextRddId()
          val alive = spark.sparkContext.getPersistentRDDs.keys.count(id => id > lo && id < hi)
          windows += pass -> QueryWindow(qid, n, epochMs(t0), epochMs(tb), epochMs(t1),
            lo, hi, alive, gcMs() - g0, err.isEmpty)
        }
      }
      passWall += ((pass, tracedPass, (System.nanoTime() - p0) / 1e9))
      // events arrive asynchronously: let the bus deliver this pass's
      // before the listeners come off
      if (tracedPass) tracer.foreach { t => t.drain(); t.detach(spark) }
      timeReference(keep = true)
    }
    val measureS = (System.nanoTime() - measureStart) / 1e9

    // ---- per-layer attribution ----------------------------------------
    val layers = tracer.map { t =>
      val ws = windows.map(_._2).toSeq
      ws.zip(t.attribute(ws)).zip(windows.map(_._1)).map { case ((w, (m, spans)), p) =>
        val self = Tracer.selfTimes(spans)
        Json.obj(
          "pass" -> p, "name" -> w.name, "ok" -> w.ok, "wall_s" -> (w.t1 - w.t0) / 1e3,
          "metrics" -> m,
          "spans" -> spans.zip(self).map { case (s, st) =>
            Json.obj("name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
              "parent" -> s.parent, "self_s" -> st / 1e3)
          })
      }
    }

    val rt = ManagementFactory.getRuntimeMXBean
    val result = Json.obj(
      "jvm" -> Json.obj(
        "version" -> System.getProperty("java.version"),
        "vm" -> System.getProperty("java.vm.name"),
        "flags" -> rt.getInputArguments.asScala.toSeq,
        "spark" -> spark.version,
        "cpus" -> cpus),
      "reference_s" -> referenceS.toSeq,
      "setup_s" -> setupS.toSeq,
      "session_s" -> sessionS.toSeq,
      "measure_s" -> measureS,
      "passes" -> passWall.toSeq.map { case (p, t, w) => Json.obj("pass" -> p, "traced" -> t, "wall_s" -> w) },
      "samples" -> samples.toSeq.map(s => Json.obj("name" -> s.name, "pass" -> s.pass,
        "traced" -> s.traced, "wall_s" -> s.wall, "build_s" -> s.build, "error" -> s.err)),
      "errors" -> errors.toMap,
      "dump" -> dumped.map { case (n, e) => n -> Json.obj("error" -> e) }.toMap,
      "oracle_sql" -> SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) },
      "peak_rss_mb" -> peakRssMb(),
      "traced_queries" -> layers,
    )
    Files.writeString(Paths.get(opt("out")), Json.write(result))
    spark.stop()
  }

  val RefReps = 2

  /** Fixed Spark work that uses no engine code, for the host's current
    * speed: an aggregation over a shuffle, a broadcast join and a sort, as
    * several small jobs. On a shared VM the engine's queries ran 2-3.5x
    * slower for minutes at a time while the neighbours were busy, while
    * plain single-thread computation slowed far less: Spark's many thread
    * handoffs suffer most, so the speed is taken on work of the same kind.
    * It runs after the set-ups and after every measured pass, outside
    * their timing;
    * `perfbench/run.py` divides every reported time by the slowdown it
    * shows. */
  def referenceWork(spark: SparkSession, parts: Int): Unit = {
    import org.apache.spark.sql.functions.{col, sum}
    val facts = spark.range(0, 100000, 1, parts).select((col("id") % 1000).as("k"), col("id").as("v"))
    val dim = spark.range(0, 1000, 1, 1).select(col("id").as("k"), (col("id") * 7).as("w"))
    facts.groupBy("k").agg(sum("v").as("s")).join(dim, "k").orderBy("k")
      .write.format("noop").mode("overwrite").save()
  }

  /** VmHWM of this JVM, in MB (the driver in local mode runs the
    * executors too). */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  /** Evicts every cross-query artifact cache the engine exposes, as
    * `graft.Bench` does before each pass, so every pass pays
    * each artifact build once. Caches are found by reflection — every
    * zero-argument `clear*Cache*` method of an object in `graft.ops` —
    * so the benchmark keeps compiling when caches are added, merged or
    * removed. */
  lazy val cacheClearers: Seq[() => Unit] = {
    val url = getClass.getClassLoader.getResource("graft/ops")
    val classes =
      if (url == null || url.getProtocol != "file") Seq.empty
      else Option(new java.io.File(url.toURI).list()).toSeq.flatten
        .filter(f => f.endsWith("$.class") && !f.contains("$$"))
        .map(f => "graft.ops." + f.stripSuffix(".class"))
    classes.sorted.flatMap { cn =>
      scala.util.Try {
        val cls = Class.forName(cn)
        val module = cls.getField("MODULE$").get(null)
        cls.getMethods.toSeq
          .filter(m => m.getParameterCount == 0 && m.getName.matches("clear.*Cache.*"))
          .map(m => () => { m.invoke(module); () })
      }.getOrElse(Seq.empty)
    }
  }
  def clearArtifactCaches(): Unit = cacheClearers.foreach(_())
}

/** Minimal JSON writer for the result file (maps, sequences, strings,
  * numbers, booleans, options). */
object Json {
  def obj(kv: (String, Any)*): Map[String, Any] = scala.collection.immutable.ListMap(kv: _*)

  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
