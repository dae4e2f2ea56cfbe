package graft.ops

import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-lake layout & maintenance operators — the table-management side
  * of a 100 TB training-data pipeline: secondary source/sink formats
  * (JSON lines, ORC), small-file compaction, and incremental aggregate
  * maintenance (snapshot + delta merge vs full recompute).
  *
  * Reference scope note: the reference engine's only sink is an
  * in-memory list printed to stdout (`Search.cpp:301-303`); everything
  * here is north-star extension surface, driver-checked like the rest.
  */
object Lake {

  private def cents(c: org.apache.spark.sql.Column) =
    round(c * 100).cast("long")

  /** JSON-lines round-trip, driver-checked: write a projection to JSON,
    * read it back with an explicit schema, aggregate. Money leaves as
    * integer cents BEFORE the write — JSON round-trips longs and strings
    * losslessly, while double formatting would drift. Explicit read
    * schema: schema inference over JSON is a full extra pass at scale
    * and can widen types under drift. */
  def jsonRoundtrip(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    withTempDir("graft-json") { tmp =>
      Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderstatus"),
          cents(col("o_totalprice")).as("price_cents"))
        .write.mode("overwrite").json(tmp)
      ck.ckpt(spark.read
        .schema("o_orderkey LONG, o_orderstatus STRING, price_cents LONG")
        .json(tmp)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum("price_cents").as("sum_cents"),
          min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
        .orderBy("o_orderstatus"))
    }
  }

  /** ORC round-trip, driver-checked: the second columnar format next to
    * parquet — binary-exact for doubles, predicate-pushdown-capable.
    * Same shape as the parquet path: write a projection, read it back,
    * aggregate to cents. */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    withTempDir("graft-orc") { tmp =>
      Tables.lineitem(spark, dir)
        .select("l_orderkey", "l_linenumber", "l_returnflag",
          "l_quantity", "l_extendedprice")
        .write.mode("overwrite").orc(tmp)
      ck.ckpt(spark.read.orc(tmp)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          sum(cents(col("l_extendedprice"))).as("sum_price_cents"))
        .orderBy("l_returnflag"))
    }
  }

  /** Target compacted file size. 128 MB locally and at scale — the
    * standard parquet target; the fixture tables compact to one file. */
  val CompactTargetBytes: Long = 128L * 1024 * 1024

  /** Compact a parquet directory into ceil(bytes/target) files; returns
    * (filesBefore, filesAfter). Listing goes through the Hadoop
    * FileSystem API — the same call pattern works on HDFS/object
    * stores, where the small-files problem actually lives. */
  def compactTo(spark: SparkSession, srcDir: String, dstDir: String,
      targetBytes: Long = CompactTargetBytes): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    val src = new Path(srcDir)
    val fs  = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parts(p: Path): Array[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
    val before = parts(src)
    val bytes  = before.map(_.getLen).sum
    val nOut   = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    spark.read.parquet(srcDir).repartition(nOut)
      .write.mode("overwrite").parquet(dstDir)
    (before.length, parts(new Path(dstDir)).length)
  }

  /** Small-file compaction round-trip, driver-checked: events written
    * deliberately fragmented (64 writer tasks — the shape a streaming
    * ingest or over-parallel job leaves behind; at 100 TB this is the
    * lake's #1 maintenance job, since per-file open cost and NameNode/
    * object-store metadata dominate reads of fragmented tables), then
    * compacted to ~128 MB files, read back and aggregated — proving the
    * compaction is content-preserving. CompactionSpec asserts the file
    * counts (64 → 1 on the fixtures). */
  def compactionRoundtrip(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    withTempDir("graft-frag") { frag =>
      withTempDir("graft-compact") { compacted =>
        Tables.events(spark, dir).repartition(64)
          .write.mode("overwrite").parquet(frag)
        compactTo(spark, frag, compacted)
        ck.ckpt(spark.read.parquet(compacted)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("sum_value_cents"))
          .orderBy("event_type"))
      }
    }
  }

  /** Deletes every data file in `tableDir` whose name is not in
    * `manifest` — the VACUUM/orphan-cleanup primitive every
    * manifest-tracked lake table needs (failed writes, aborted
    * compactions and speculative tasks leave behind data files that a
    * directory-listing reader would double-count; a manifest-driven
    * reader would not, but the bytes still cost money and the next
    * listing-based consumer still breaks). Returns
    * (filesBefore, filesAfter). Same Hadoop FS call pattern as
    * [[compactTo]], so it ports to HDFS/object stores unchanged. */
  def vacuumTo(spark: SparkSession, tableDir: String, manifest: Set[String]): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    val p  = new Path(tableDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(p)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val orphans = files.filterNot(f => manifest.contains(f.getPath.getName))
    orphans.foreach(f => fs.delete(f.getPath, false))
    (files.length, files.length - orphans.length)
  }

  /** Lists the committed data files of `tableDir` — the "manifest" a
    * transactional lake format would read from its log. */
  private[graft] def dataFiles(spark: SparkSession, tableDir: String): Set[String] = {
    import org.apache.hadoop.fs.Path
    val p  = new Path(tableDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName).toSet
  }

  /** Plants `n` orphan copies of committed files under non-manifest
    * names — the residue profile of a failed overwrite. */
  private[graft] def plantOrphans(spark: SparkSession, tableDir: String, n: Int): Unit = {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val p    = new Path(tableDir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs   = p.getFileSystem(conf)
    val live = fs.listStatus(p)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath).sortBy(_.getName)
    (0 until n).foreach { i =>
      val src = live(i % live.length)
      FileUtil.copy(fs, src, fs, new Path(p, s"orphan-$i-${src.getName}"), false, conf)
      ()
    }
  }

  /** Orphan-file vacuum round-trip, driver-checked: orders written as a
    * committed table, stale orphan copies planted next to the committed
    * files (a listing-based read now double-counts — LakeSpec proves
    * that corruption is real), then [[vacuumTo]] deletes everything not
    * in the manifest and the read-back aggregate hash-matches the plain
    * orders oracle. The table is never rewritten — vacuum touches only
    * dead bytes, which is what makes it safe to run continuously on a
    * 100 TB lake. */
  def vacuumOrphans(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    withTempDir("graft-vacuum") { tbl =>
      Tables.orders(spark, dir).repartition(4)
        .write.mode("overwrite").parquet(tbl)
      val manifest = dataFiles(spark, tbl)
      plantOrphans(spark, tbl, 3)
      vacuumTo(spark, tbl, manifest)
      ck.ckpt(spark.read.parquet(tbl)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("sum_cents"))
        .orderBy("o_orderstatus")) // materialize before the temp dir is deleted
    }
  }

  /** Schema-evolution read, driver-checked: two parquet batches of the
    * SAME table written with different schemas — the later batch adds
    * an `o_year` column — land in one directory, and a `mergeSchema`
    * read unions them with nulls filling the missing column. This is
    * the lake-format answer to the exact failure class that broke
    * round 12's events ingest (producer-side schema drift): columns
    * may be ADDED over a table's life, and readers must keep working
    * across the whole file history. The aggregate separates the two
    * eras through `count(o_year)`/`sum(o_year)` (null-skipping), so
    * the oracle can replay the union from the original rows. At 100 TB
    * the same read works because merged footers, not data rewrites,
    * reconcile the schemas — old files are never touched. */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    withTempDir("graft-evolve") { tbl =>
      val orders = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderstatus"),
          cents(col("o_totalprice")).as("price_cents"), col("o_orderdate"))
      orders.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_orderstatus", "price_cents")
        .write.mode("append").parquet(tbl)
      orders.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_orderstatus"), col("price_cents"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .write.mode("append").parquet(tbl)
      ck.ckpt(spark.read.option("mergeSchema", "true").parquet(tbl)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum("price_cents").as("sum_cents"),
          count(col("o_year")).as("n_evolved"),
          coalesce(sum("o_year"), lit(0L)).as("sum_year"))
        .orderBy("o_orderstatus")) // materialize before the temp dir is deleted
    }
  }

  /** Incremental aggregate maintenance, driver-checked: a materialized
    * aggregate (the pre-1996 "snapshot") merged with a new-data delta
    * via full-outer join + partial-sum combine — the incremental-view
    * shape every large pipeline runs instead of recomputing 100 TB per
    * day. Sums are algebraic (sum/count combine associatively), so
    * merged partials equal the full recompute — which is exactly what
    * the oracle (a plain GROUP BY over all rows) verifies. */
  def incrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderstatus"),
        date_format(col("o_orderdate"), "yyyy-MM").as("mon"),
        cents(col("o_totalprice")).as("price_cents"),
        col("o_orderdate"))
    def aggOf(df: DataFrame): DataFrame = df
      .groupBy("o_orderstatus", "mon")
      .agg(count(lit(1)).as("n"), sum("price_cents").as("sum_cents"))
    val snapshot = aggOf(orders.filter(col("o_orderdate") < "1996-01-01"))
    val delta    = aggOf(orders.filter(col("o_orderdate") >= "1996-01-01"))
    snapshot.as("s")
      .join(delta.as("d"), Seq("o_orderstatus", "mon"), "full_outer")
      .select(col("o_orderstatus"), col("mon"),
        (coalesce(col("s.n"), lit(0L)) + coalesce(col("d.n"), lit(0L))).as("n"),
        (coalesce(col("s.sum_cents"), lit(0L)) +
          coalesce(col("d.sum_cents"), lit(0L))).as("sum_cents"))
      .orderBy("o_orderstatus", "mon")
  }

  /** MERGE/upsert (CDC-apply), driver-checked: apply a keyed delta of
    * inserts/updates/deletes to a snapshot — the operator every
    * incremental lake pipeline runs next to `incrementalAgg` when rows
    * CHANGE rather than merely accrue. The delta here is derived
    * deterministically from the snapshot itself (deletes: key%13==0;
    * updates: key%7==0 with a +1.00 price bump; inserts: fresh negative
    * keys from key%11==0) so the DuckDB oracle can rebuild the exact
    * same delta and verify the merged table hash-exactly.
    *
    * Shape: because a CDC delta carries FULL row images, MERGE reduces
    * to (snapshot ANTI-JOIN delta-keys) UNION (delta minus deletes) —
    * two broadcast-able passes when the delta is small relative to the
    * snapshot (the 100 TB norm: a day's changes vs the lake), instead
    * of the general full-outer-join form, which forces a sort-merge
    * shuffle of BOTH sides. The anti join broadcasts only the delta's
    * keys; the snapshot is never shuffled. */
  /** SCD type-2 dimension build: turn a keyed change log (orders as the
    * per-customer change stream) into versioned rows with
    * [valid_from, valid_to) intervals and an is_current flag — the
    * companion to [[mergeUpsert]] that every incremental lake pipeline
    * runs when history must be kept instead of overwritten (Kimball
    * SCD2). Pure per-key window functions (row_number + lead over a
    * custkey partition ordered by the deterministic (date, orderkey)
    * total order): one shuffle on the key, no global stage, all values
    * exact longs/epoch-ms. */
  def scd2Snapshot(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    Tables.orders(spark, dir)
      .select(
        col("o_custkey"), col("o_orderstatus"),
        cents(col("o_totalprice")).as("price_cents"),
        // o_orderdate is parquet TIMESTAMP_NTZ; session tz is UTC, so the
        // cast reads the naive value as UTC — exactly DuckDB's epoch_ms.
        unix_millis(col("o_orderdate").cast("timestamp")).as("valid_from_ms"),
        col("o_orderdate"), col("o_orderkey"))
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_to_ms", lead(col("valid_from_ms"), 1).over(w))
      .withColumn("is_current", col("valid_to_ms").isNull)
      .select("o_custkey", "version", "o_orderstatus", "price_cents",
        "valid_from_ms", "valid_to_ms", "is_current")
      .orderBy("o_custkey", "version")
  }

  /** Snapshot diff — the inverse of [[mergeUpsert]]: given two versions
    * of a keyed table, emit the delta that transforms one into the
    * other (I/U/D rows; unchanged rows excluded). The "new" version is
    * derived from the same deterministic modular rules mergeUpsert
    * uses, so the two operators are each other's round-trip. A version
    * diff must compare every key, so the full-outer join's shuffle of
    * both sides is inherent — at cluster scale both snapshots live
    * bucketed on the key and the join is exchange-free (the
    * `bucketed_join` pattern); rows carry only (key, status, cents). */
  /** Deletion vectors — the modern lakehouse SOFT delete (Delta DVs /
    * Iceberg position deletes): instead of rewriting every data file a
    * delete touches, a tiny side file lists the deleted row ids and
    * readers apply it as an anti-join; compaction later hard-deletes.
    * Staged end-to-end on real parquet: the table and its DV round-trip
    * through disk, the visible view is read(table) ANTI-JOIN read(dv),
    * and the shipped verdict PROVES the DV read equals the full
    * rewrite (row count + cents sum + row-id XOR all agree — computed
    * by the engine, asserted as a column the oracle pins to TRUE, the
    * bloom/no-false-negative verdict convention).
    *
    * Scale shape: the DV is deleted-rows-sized, never table-sized; the
    * anti-join keys on the row id the writer laid down, so at 100 TB a
    * delete costs one DV write + a broadcast-able anti-join side
    * instead of rewriting petabytes (exactly why the format feature
    * exists). */
  def deletionVectors(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    withTempDir("graft-dv") { tmp =>
      val base = Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          cents(col("l_extendedprice")).as("pc"))
        .withColumn("row_id", col("l_orderkey") * 10 + col("l_linenumber"))
      base.write.parquet(s"$tmp/table")
      base.filter(col("l_orderkey") % 13 === 2)
        .select("row_id").write.parquet(s"$tmp/dv")
      val tbl = spark.read.parquet(s"$tmp/table")
      val dv  = spark.read.parquet(s"$tmp/dv")
      val visible = tbl.join(dv, Seq("row_id"), "left_anti")
        .agg(count(lit(1)).as("n_v"), sum("pc").as("c_v"),
          expr("bit_xor(row_id)").as("x_v"))
      val rewrite = base.filter(col("l_orderkey") % 13 =!= 2)
        .agg(count(lit(1)).as("n_r"), sum("pc").as("c_r"),
          expr("bit_xor(row_id)").as("x_r"))
      val totals = base.agg(count(lit(1)).as("n_total"),
        sum(when(col("l_orderkey") % 13 === 2, 1L).otherwise(0L)).as("n_deleted"))
      ck.ckpt(totals.crossJoin(visible).crossJoin(rewrite)
        .select(col("n_total"), col("n_deleted"),
          col("n_v").as("n_visible"),
          col("c_v").as("visible_cents"),
          col("x_v").as("visible_rowid_xor"),
          (col("n_v") === col("n_r") && col("c_v") === col("c_r") &&
            col("x_v") === col("x_r")).as("dv_equals_rewrite"))) // 1 row; must outlive the temp dir
    }
  }

  private val deletionVectorsSql: String =
    """WITH base AS (
      |  SELECT l_orderkey, l_linenumber,
      |         CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
      |         l_orderkey * 10 + l_linenumber AS row_id
      |  FROM lineitem
      |), vis AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_visible,
      |         CAST(sum(pc) AS BIGINT) AS visible_cents,
      |         CAST(bit_xor(row_id) AS BIGINT) AS visible_rowid_xor
      |  FROM base WHERE l_orderkey % 13 <> 2
      |), tot AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_total,
      |         CAST(sum(CASE WHEN l_orderkey % 13 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted
      |  FROM base
      |)
      |SELECT n_total, n_deleted, n_visible, visible_cents, visible_rowid_xor,
      |       TRUE AS dv_equals_rewrite
      |FROM tot CROSS JOIN vis""".stripMargin

  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val snap = Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_orderstatus"),
      cents(col("o_totalprice")).as("price_cents"))
    val updated = snap
      .filter(col("o_orderkey") % 7 === 0 && col("o_orderkey") % 13 =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        (col("price_cents") + 100L).as("price_cents"))
    val carried = snap
      .filter(col("o_orderkey") % 13 =!= 0 && col("o_orderkey") % 7 =!= 0)
    val inserted = snap
      .filter(col("o_orderkey") % 11 === 0 && col("o_orderkey") =!= 0)
      .select((-col("o_orderkey")).as("o_orderkey"), col("o_orderstatus"), col("price_cents"))
    val newv = updated.union(carried).union(inserted)
    val s = snap.select(col("o_orderkey").as("sk"), col("o_orderstatus").as("ss"),
      col("price_cents").as("sp"))
    val n = newv.select(col("o_orderkey").as("nk"), col("o_orderstatus").as("ns"),
      col("price_cents").as("np"))
    s.join(n, col("sk") === col("nk"), "full_outer")
      .filter(col("sk").isNull || col("nk").isNull ||
        col("sp") =!= col("np") || col("ss") =!= col("ns"))
      .select(
        coalesce(col("sk"), col("nk")).as("o_orderkey"),
        when(col("sk").isNull, "I").when(col("nk").isNull, "D").otherwise("U").as("change"),
        col("sp").as("old_price_cents"), col("np").as("new_price_cents"))
      .orderBy("o_orderkey")
  }

  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val snapshot = Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_orderstatus"),
      cents(col("o_totalprice")).as("price_cents"))
    val deletes = snapshot.filter(col("o_orderkey") % 13 === 0)
      .select(col("o_orderkey"), lit("D").as("op"),
        lit(null).cast("string").as("o_orderstatus"),
        lit(null).cast("long").as("price_cents"))
    val updates = snapshot
      .filter(col("o_orderkey") % 7 === 0 && col("o_orderkey") % 13 =!= 0)
      .select(col("o_orderkey"), lit("U").as("op"), col("o_orderstatus"),
        (col("price_cents") + 100L).as("price_cents"))
    // key 0 is excluded: -0 == 0, so its "fresh" key would collide with
    // the same key's delete (0 is divisible by everything)
    val inserts = snapshot
      .filter(col("o_orderkey") % 11 === 0 && col("o_orderkey") =!= 0)
      .select((-col("o_orderkey")).as("o_orderkey"), lit("I").as("op"),
        col("o_orderstatus"), col("price_cents"))
    val delta = deletes.union(updates).union(inserts)
    val survivors = snapshot.join(
      broadcast(delta.select("o_orderkey")), Seq("o_orderkey"), "left_anti")
    val upserts = delta.filter(col("op") =!= "D")
      .select("o_orderkey", "o_orderstatus", "price_cents")
    survivors.union(upserts).orderBy("o_orderkey")
  }

  /** Confs that make Spark's runtime bloom-filter injection fire on
    * fixture-sized tables: the default application-side threshold is
    * 10 GB (the optimization only pays off when the probe side is big —
    * exactly the 100 TB case), so local runs lower it to 0; broadcast
    * is disabled because a broadcast hash join already prunes the probe
    * side and Spark rightly skips the bloom filter there. Shared with
    * RuntimeFilterSpec, which asserts the filter is actually injected. */
  val runtimeFilterConfs: Seq[(String, String)] = Seq(
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  /** run `f` with the given SQL confs set, restoring prior values. */
  def withConfs[A](spark: SparkSession, confs: Seq[(String, String)])(f: => A): A = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { confs.foreach { case (k, v) => spark.conf.set(k, v) }; f }
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Runtime-filter (bloom) join, driver-checked: a selective dim-side
    * filter (1-URGENT orders) is turned by Spark into a bloom filter
    * evaluated INSIDE the fact-side scan, so ~5/6 of lineitem rows die
    * before the join shuffle — at 100 TB this is the difference between
    * shuffling the lake and shuffling the answer. The result equals the
    * plain join (the oracle); RuntimeFilterSpec asserts the
    * BloomFilterMightContain is really in the optimized plan. The
    * result is materialized inside the conf window (plans optimize at
    * execution, not construction). */
  /** Dynamic-partition-pruning join, driver-checked: the fact table is
    * date-PARTITIONED on disk and the dim side carries a selective
    * filter, so Spark compiles the dim's broadcast build side into a
    * runtime partition-predicate subquery (DPP) and entire fact
    * partition DIRECTORIES are skipped before a single row is read —
    * the partition-level complement of `runtime_filter_join`'s
    * row-level bloom. At 100 TB with daily partitions a 3-day dim
    * prunes 27/30 of the lake at the directory level; no static filter
    * could do it because the qualifying days are only known at runtime
    * (here: the 3 busiest purchase days, deterministically tie-broken).
    * The fact tree is a real partitioned parquet write (the
    * partitioned_roundtrip convention); `PartitionPruningSpec` asserts
    * `dynamicpruningexpression` appears in the executed fact scan. The
    * oracle replays the same day selection + aggregate over raw events. */
  def dppJoin(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    withTempDir("graft-dpp") { tmp =>
      val ev = Tables.events(spark, dir).select(
        expr("unix_millis(ts) div 86400000").as("day"),
        cents(col("value")).as("v_cents"),
        col("event_type"))
      ev.write.mode("overwrite").partitionBy("day").parquet(tmp)
      // partition-value inference types `day` as INT — keep the join
      // key in that type (a cast on the partition column could defeat
      // the DPP insertion) and widen only in the final projection
      val fact = spark.read.parquet(tmp)
      val dim = ev.filter(col("event_type") === "purchase")
        .groupBy("day").agg(count(lit(1)).as("c"))
        .orderBy(desc("c"), col("day")).limit(3)
        .select(col("day").cast("int").as("day"))
      ck.ckpt(fact.join(broadcast(dim), "day")
        .groupBy("day")
        .agg(count(lit(1)).as("n"), sum("v_cents").as("sum_cents"))
        .select(col("day").cast("long").as("day"), col("n"), col("sum_cents"))
        .orderBy("day"))
    }
  }

  private[graft] val dppSql: String =
    """WITH ev AS (
      |  SELECT epoch_ms(ts) // 86400000 AS day,
      |         CAST(round(value * 100) AS BIGINT) AS v_cents, event_type
      |  FROM events
      |), dim AS (
      |  SELECT day FROM (
      |    SELECT day, count(*) AS c FROM ev WHERE event_type = 'purchase'
      |    GROUP BY day ORDER BY c DESC, day LIMIT 3)
      |)
      |SELECT CAST(day AS BIGINT) AS day, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(v_cents) AS BIGINT) AS sum_cents
      |FROM ev JOIN dim USING (day)
      |GROUP BY day ORDER BY day""".stripMargin

  def runtimeFilterJoin(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    withConfs(spark, runtimeFilterConfs) {
      ck.ckpt(Tables.lineitem(spark, dir)
        .join(Tables.orders(spark, dir).filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum(cents(col("l_extendedprice"))).as("sum_cents"))
        .orderBy("l_returnflag"))
    }
  }

  /** Z-order clustering benefit, driver-checked end to end: events
    * mapped to a 2-D grid (x = day index 0..29, y = value/16 bucket
    * 0..30 — equal bit widths, so the interleave gives genuine 2-D
    * locality), laid out two ways into 16 equal-count "files" (an
    * ntile-equivalent split computed by distributed rank — range
    * repartition + per-partition offsets, see `tileByRange` — the
    * deterministic model of `repartitionByRange(16, sortKey)` + one
    * file per partition, with no global window anywhere in the plan),
    * then probed with a box filter on each dimension using FILE-LEVEL
    * min/max stats, exactly the pruning parquet footers give a real
    * scan. Output: files touched per (layout × probe). The linear
    * (x-then-y) layout prunes only its leading dimension — the y-probe
    * must open every file — while the Z-order layout bounds BOTH
    * dimensions per file. That asymmetry is the whole argument for
    * space-filling-curve clustering at 100 TB, and here it is hash-
    * checked against the oracle recomputing the identical Morton codes
    * in SQL (`LayoutFunctions.zorderSql`). */
  /** Partition count for the distributed-rank tiling; matches the
    * session shuffle parallelism locally, and at cluster scale would be
    * sized like any range-write (target bytes per output partition). */
  private val RankPartitions = 32

  /** ntile(buckets) computed from a 1-based global rank over n rows —
    * the SQL-standard split (first n%buckets buckets get one extra
    * row), so it matches DuckDB's/Spark's ntile exactly without any
    * window. All inputs stay < 2^53, so the double division is exact. */
  private def ntileOfRank(rank: org.apache.spark.sql.Column, n: Long,
      buckets: Int): org.apache.spark.sql.Column = {
    val q   = n / buckets
    val rem = n % buckets
    if (q == 0) rank
    else {
      val cut = rem * (q + 1) // rows 1..cut fall in the q+1-sized buckets
      when(rank <= cut, floor((rank - 1) / lit(q + 1)).cast("long") + 1)
        .otherwise(lit(rem) + floor((rank - lit(cut) - 1) / lit(q)).cast("long") + 1)
    }
  }

  /** Assign each row its ntile(buckets) tile in the total order of
    * `keys` (which must be unique) WITHOUT a global window: the
    * distributed-rank shape. Range-repartition on the keys, sort within
    * partitions, and let `monotonically_increasing_id` hand back
    * (partitionId << 33 | localIndex) — pid order IS key order under
    * range partitioning, so global rank = per-partition start offset +
    * local index. The offsets come from a 1-row-per-partition count
    * aggregate (the only driver-side data), broadcast back as a map
    * literal. Two passes over the data, zero single-task stages, and no
    * shuffle beyond the range exchange itself — which is exactly the
    * write-side movement a real clustered-layout job performs. The
    * localCheckpoint pins the id assignment so the count pass and the
    * tile pass see identical partitions. */
  private def tileByRange(df: DataFrame,
      keys: Seq[org.apache.spark.sql.Column], buckets: Int): DataFrame = Checkpoints.scope { ck =>
    val parted = ck.ckpt(df
      .repartitionByRange(RankPartitions, keys: _*)
      .sortWithinPartitions(keys: _*)
      .withColumn("__mid", monotonically_increasing_id()))
    val withPid = parted
      .withColumn("__pid", shiftright(col("__mid"), 33).cast("int"))
      .withColumn("__local", (col("__mid").bitwiseAND((1L << 33) - 1)) + 1)
    val counts = withPid.groupBy("__pid").agg(count(lit(1)).as("__n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val total = counts.map(_._2).sum
    var acc = 0L
    val offsets: Map[Int, Long] =
      counts.map { case (pid, n) => val o = pid -> acc; acc += n; o }.toMap
    withPid
      .withColumn("__rank", element_at(typedLit(offsets), col("__pid")) + col("__local"))
      .withColumn("tile", ntileOfRank(col("__rank"), total, buckets))
      .drop("__mid", "__pid", "__local", "__rank")
  }

  def zorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val pts = Tables.events(spark, dir).select(
      col("event_id"),
      datediff(to_date(col("ts")), lit("2024-01-01")).cast("long").as("x"),
      least(lit(30L), floor(col("value") / 16).cast("long")).as("y"))
    val pz = pts.withColumn("z", graft.functions.LayoutFunctions.zorder(col("x"), col("y")))
    val zTiles = tileByRange(pz, Seq(col("z"), col("event_id")), 16)
      .withColumn("layout", lit("zorder"))
    val linTiles = tileByRange(pz, Seq(col("x"), col("y"), col("event_id")), 16)
      .withColumn("layout", lit("linear"))
    zTiles.union(linTiles)
      .groupBy("layout", "tile")
      .agg(min("x").as("min_x"), max("x").as("max_x"),
        min("y").as("min_y"), max("y").as("max_y"))
      .groupBy("layout")
      .agg(
        sum(when(col("min_x") <= 5 && col("max_x") >= 3, 1L).otherwise(0L)).as("x_probe"),
        sum(when(col("min_y") <= 11 && col("max_y") >= 8, 1L).otherwise(0L)).as("y_probe"))
      .unpivot(Array(col("layout")), Array(col("x_probe"), col("y_probe")),
        variableColumnName = "probe", valueColumnName = "files_touched")
      .withColumn("files_total", lit(16L))
      .orderBy("layout", "probe")
  }

  private val zorderOracle: String = {
    val z = graft.functions.LayoutFunctions.zorderSql("x", "y", 8)
    s"""WITH pts AS (
       |  SELECT event_id,
       |         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
       |         least(30, CAST(floor(value / 16) AS BIGINT)) AS y
       |  FROM events
       |), pz AS (
       |  SELECT event_id, x, y, $z AS z FROM pts
       |), tiled AS (
       |  SELECT 'zorder' AS layout, ntile(16) OVER (ORDER BY z, event_id) AS tile, x, y FROM pz
       |  UNION ALL
       |  SELECT 'linear', ntile(16) OVER (ORDER BY x, y, event_id), x, y FROM pz
       |), stats AS (
       |  SELECT layout, tile, min(x) AS min_x, max(x) AS max_x,
       |         min(y) AS min_y, max(y) AS max_y
       |  FROM tiled GROUP BY layout, tile
       |), agg AS (
       |  SELECT layout,
       |         CAST(sum(CASE WHEN min_x <= 5 AND max_x >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS x_probe,
       |         CAST(sum(CASE WHEN min_y <= 11 AND max_y >= 8 THEN 1 ELSE 0 END) AS BIGINT) AS y_probe
       |  FROM stats GROUP BY layout
       |)
       |SELECT layout, 'x_probe' AS probe, x_probe AS files_touched,
       |       CAST(16 AS BIGINT) AS files_total FROM agg
       |UNION ALL
       |SELECT layout, 'y_probe', y_probe, 16 FROM agg
       |ORDER BY layout, probe""".stripMargin
  }

  /** Hilbert-curve clustering benefit, measured three-ways against
    * [[zorderLayout]]'s fixture: the SAME 2-D event grid laid out
    * linear (x-then-y), Z-order (Morton), and Hilbert, probed with the
    * same box filters on file-level min/max stats. The Hilbert walk
    * (`LayoutMath.hilbert32`) never takes Morton's diagonal jumps —
    * consecutive distances are always edge-adjacent cells — so its
    * equal-count files cover tighter boxes and it upper-bounds what
    * any 2-D space-filling layout buys on this data (this is why
    * Hilbert is the default clustering curve in modern lakehouse
    * engines; Z-order survives as the cheaper-to-compute compromise).
    * The oracle recomputes the identical curve in pure SQL — the
    * unrolled quadrant-walk CTE chain `LayoutFunctions.hilbertSqlCtes`,
    * XOR-free for engine portability.
    *
    * Scale shape: identical to zorder_layout — codegen'd per-row curve
    * codes, distributed-rank tiling (range repartition + offsets, no
    * global window), file-count-sized aggregate. */
  def hilbertLayout(spark: SparkSession, dir: String): DataFrame = {
    val pts = Tables.events(spark, dir).select(
      col("event_id"),
      datediff(to_date(col("ts")), lit("2024-01-01")).cast("long").as("x"),
      least(lit(30L), floor(col("value") / 16).cast("long")).as("y"))
    val pz = pts
      .withColumn("z", graft.functions.LayoutFunctions.zorder(col("x"), col("y")))
      .withColumn("h", graft.functions.LayoutFunctions.hilbert(col("x"), col("y")))
    // collapse each layout to its 16-row file-stats table in its own
    // scope, which frees the corpus-sized tiling pin before the next
    // layout tiles — one pinned point-set at a time, not three (probe:
    // 1.15 GB -> flat at 32x)
    val layoutStats = Seq(
      ("hilbert", Seq(col("h"), col("event_id"))),
      ("zorder", Seq(col("z"), col("event_id"))),
      ("linear", Seq(col("x"), col("y"), col("event_id")))).map { case (name, keys) =>
      Checkpoints.scope(ls => ls.ckpt(tileByRange(pz, keys, 16).groupBy("tile")
        .agg(min("x").as("min_x"), max("x").as("max_x"),
          min("y").as("min_y"), max("y").as("max_y"))
        .withColumn("layout", lit(name)))) // 16 rows
    }
    layoutStats.reduce(_.union(_))
      .groupBy("layout")
      .agg(
        sum(when(col("min_x") <= 5 && col("max_x") >= 3, 1L).otherwise(0L)).as("x_probe"),
        sum(when(col("min_y") <= 11 && col("max_y") >= 8, 1L).otherwise(0L)).as("y_probe"))
      .unpivot(Array(col("layout")), Array(col("x_probe"), col("y_probe")),
        variableColumnName = "probe", valueColumnName = "files_touched")
      .withColumn("files_total", lit(16L))
      .orderBy("layout", "probe")
  }

  private val hilbertOracle: String = {
    val z = graft.functions.LayoutFunctions.zorderSql("x", "y", 8)
    val (hilbertCtes, lastStage) = graft.functions.LayoutFunctions
      .hilbertSqlCtes("pz0", Seq("event_id", "x", "y", "z"))
    s"""WITH pts AS (
       |  SELECT event_id,
       |         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
       |         least(30, CAST(floor(value / 16) AS BIGINT)) AS y
       |  FROM events
       |), pz0 AS (
       |  SELECT event_id, x, y, $z AS z,
       |         x AS hx, y AS hy, CAST(0 AS BIGINT) AS hd
       |  FROM pts
       |),
       |$hilbertCtes,
       |tiled AS (
       |  SELECT 'hilbert' AS layout, ntile(16) OVER (ORDER BY hd, event_id) AS tile, x, y
       |  FROM $lastStage
       |  UNION ALL
       |  SELECT 'zorder', ntile(16) OVER (ORDER BY z, event_id), x, y FROM pz0
       |  UNION ALL
       |  SELECT 'linear', ntile(16) OVER (ORDER BY x, y, event_id), x, y FROM pz0
       |), stats AS (
       |  SELECT layout, tile, min(x) AS min_x, max(x) AS max_x,
       |         min(y) AS min_y, max(y) AS max_y
       |  FROM tiled GROUP BY layout, tile
       |), agg AS (
       |  SELECT layout,
       |         CAST(sum(CASE WHEN min_x <= 5 AND max_x >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS x_probe,
       |         CAST(sum(CASE WHEN min_y <= 11 AND max_y >= 8 THEN 1 ELSE 0 END) AS BIGINT) AS y_probe
       |  FROM stats GROUP BY layout
       |)
       |SELECT layout, 'x_probe' AS probe, x_probe AS files_touched,
       |       CAST(16 AS BIGINT) AS files_total FROM agg
       |UNION ALL
       |SELECT layout, 'y_probe', y_probe, 16 FROM agg
       |ORDER BY layout, probe""".stripMargin
  }

  /** Time travel, driver-checked: read a table AS OF an earlier version
    * after a copy-on-write update — the MVCC read path every manifest
    * table format (Delta/Iceberg-style) serves. A "version" here is
    * exactly what it is in those formats: a MANIFEST (an immutable file
    * list), never a data copy. The table starts as cold + hot file
    * groups (manifest v1 = both); a CoW update then rewrites the hot
    * rows (o_orderkey % 10 = 0) with doubled prices as NEW files, and
    * manifest v2 swaps the hot files for their replacements while the
    * v1 files stay untouched on disk. Reading v1 and v2 from the SAME
    * directory yields different, fully consistent snapshots — the v1
    * aggregate is provably unaffected by the later rewrite. At 100 TB
    * this is why time travel is free: version selection is a manifest
    * lookup, storage cost is only the rewritten files, and
    * [[vacuumOrphans]]' machinery is what eventually reclaims expired
    * versions past retention. Oracle replays both versions from the
    * source rows. */
  def timeTravel(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    withTempDir("graft-tt") { tbl =>
      val orders = Tables.orders(spark, dir).select(
        col("o_orderkey"), col("o_orderstatus"),
        cents(col("o_totalprice")).as("price_cents"))
      val hot = orders.filter(col("o_orderkey") % 10 === 0)
      orders.filter(col("o_orderkey") % 10 =!= 0)
        .write.mode("append").parquet(tbl)
      val coldFiles = dataFiles(spark, tbl)
      hot.write.mode("append").parquet(tbl)
      val v1 = dataFiles(spark, tbl)
      // CoW update: the hot rows are REWRITTEN (doubled price) as new
      // files; v2 = v1 with the hot files swapped for the rewrites
      hot.withColumn("price_cents", col("price_cents") * 2)
        .write.mode("append").parquet(tbl)
      val v2 = coldFiles ++ (dataFiles(spark, tbl) -- v1)
      def readVersion(manifest: Set[String], version: Long): DataFrame =
        spark.read.parquet(manifest.map(f => s"$tbl/$f").toSeq: _*)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum("price_cents").as("sum_cents"))
          .select(lit(version).as("version"), col("o_orderstatus"),
            col("n"), col("sum_cents"))
      ck.ckpt(readVersion(v1, 1L).union(readVersion(v2, 2L))
        .orderBy("version", "o_orderstatus")) // materialize before the temp dir is deleted
    }
  }

  def entries: Seq[QueryDef] = Seq(
    QueryDef.sql("dpp_join", dppSql)(dppJoin),
    QueryDef.sql("time_travel",
      """WITH o AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS c
        |  FROM orders
        |)
        |SELECT CAST(1 AS BIGINT) AS version, o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS sum_cents
        |FROM o GROUP BY o_orderstatus
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), o_orderstatus, CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN o_orderkey % 10 = 0 THEN 2 * c ELSE c END) AS BIGINT)
        |FROM o GROUP BY o_orderstatus
        |ORDER BY version, o_orderstatus""".stripMargin)(timeTravel),
    QueryDef.sql("schema_evolution",
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       CAST(count(CASE WHEN o_orderkey % 2 = 1 THEN 1 END) AS BIGINT) AS n_evolved,
        |       CAST(coalesce(sum(CASE WHEN o_orderkey % 2 = 1
        |                              THEN year(o_orderdate) END), 0) AS BIGINT) AS sum_year
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)(schemaEvolution),
    QueryDef.sql("vacuum_orphans",
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)(vacuumOrphans),
    QueryDef.sql("zorder_layout", zorderOracle)(zorderLayout),
    QueryDef.sql("hilbert_layout", hilbertOracle)(hilbertLayout),
    QueryDef.sql("scd2_snapshot",
      """SELECT o_custkey, CAST(row_number() OVER w AS BIGINT) AS version,
        |       o_orderstatus, CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
        |       epoch_ms(o_orderdate) AS valid_from_ms,
        |       lead(epoch_ms(o_orderdate)) OVER w AS valid_to_ms,
        |       lead(epoch_ms(o_orderdate)) OVER w IS NULL AS is_current
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, version""".stripMargin)(scd2Snapshot),
    QueryDef.sql("deletion_vectors", deletionVectorsSql)(deletionVectors),
    QueryDef.sql("snapshot_diff",
      """WITH snap AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |  FROM orders
        |), newv AS (
        |  SELECT o_orderkey, o_orderstatus, price_cents + 100 AS price_cents
        |  FROM snap WHERE o_orderkey % 7 = 0 AND o_orderkey % 13 <> 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, price_cents
        |  FROM snap WHERE o_orderkey % 13 <> 0 AND o_orderkey % 7 <> 0
        |  UNION ALL
        |  SELECT -o_orderkey, o_orderstatus, price_cents
        |  FROM snap WHERE o_orderkey % 11 = 0 AND o_orderkey <> 0
        |)
        |SELECT coalesce(s.o_orderkey, n.o_orderkey) AS o_orderkey,
        |       CASE WHEN s.o_orderkey IS NULL THEN 'I'
        |            WHEN n.o_orderkey IS NULL THEN 'D' ELSE 'U' END AS change,
        |       s.price_cents AS old_price_cents, n.price_cents AS new_price_cents
        |FROM snap s FULL OUTER JOIN newv n ON s.o_orderkey = n.o_orderkey
        |WHERE s.o_orderkey IS NULL OR n.o_orderkey IS NULL
        |   OR s.price_cents <> n.price_cents OR s.o_orderstatus <> n.o_orderstatus
        |ORDER BY o_orderkey""".stripMargin)(snapshotDiff),
    QueryDef.sql("merge_upsert",
      """WITH snap AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |  FROM orders
        |), delta AS (
        |  SELECT o_orderkey, 'D' AS op, CAST(NULL AS VARCHAR) AS o_orderstatus,
        |         CAST(NULL AS BIGINT) AS price_cents
        |  FROM snap WHERE o_orderkey % 13 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 'U', o_orderstatus, price_cents + 100
        |  FROM snap WHERE o_orderkey % 7 = 0 AND o_orderkey % 13 <> 0
        |  UNION ALL
        |  SELECT -o_orderkey, 'I', o_orderstatus, price_cents
        |  FROM snap WHERE o_orderkey % 11 = 0 AND o_orderkey <> 0
        |)
        |SELECT o_orderkey, o_orderstatus, price_cents FROM (
        |  SELECT s.o_orderkey, s.o_orderstatus, s.price_cents
        |  FROM snap s ANTI JOIN delta d ON s.o_orderkey = d.o_orderkey
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, price_cents FROM delta WHERE op <> 'D'
        |) ORDER BY o_orderkey""".stripMargin)(mergeUpsert),
    QueryDef.sql("runtime_filter_join",
      """SELECT l_returnflag, count(*) AS n,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)(runtimeFilterJoin),
    QueryDef.sql("json_roundtrip",
      """SELECT o_orderstatus, count(*) AS n,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)(jsonRoundtrip),
    QueryDef.sql("orc_roundtrip",
      """SELECT l_returnflag, count(*) AS n,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)(orcRoundtrip),
    QueryDef.sql("compaction_roundtrip",
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)(compactionRoundtrip),
    QueryDef.sql("incremental_agg",
      """SELECT o_orderstatus, strftime(date_trunc('month', o_orderdate), '%Y-%m') AS mon,
        |       count(*) AS n,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders GROUP BY o_orderstatus, mon
        |ORDER BY o_orderstatus, mon""".stripMargin)(incrementalAgg),
  )
}
