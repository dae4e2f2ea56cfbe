package graft

import java.nio.file.Files

import graft.ops.Lake
import graft.tables.Tables
import org.apache.spark.sql.functions._

/** Lake-maintenance operators: compaction really shrinks the file count
  * while preserving content, and the incremental merge equals the full
  * recompute (the algebraic-aggregate law the driver oracle re-checks
  * at sf0.01).
  */
class LakeSpec extends SparkSpec {

  test("compaction collapses a fragmented table and preserves content") {
    val tmp  = Files.createTempDirectory("graft-compaction").toString
    val frag = s"$tmp/frag"
    val out  = s"$tmp/compacted"
    Tables.events(spark, sfDir).repartition(64)
      .write.mode("overwrite").parquet(frag)
    val (before, after) = Lake.compactTo(spark, frag, out)
    assert(before == 64, s"expected 64 fragment files, got $before")
    assert(after == 1, s"fixture bytes fit one 128 MB target file, got $after")
    val a = spark.read.parquet(frag).orderBy("event_id").collect().toSeq
    val b = spark.read.parquet(out).orderBy("event_id").collect().toSeq
    assert(a == b, "compaction must preserve every row")
  }

  test("runtime bloom filter is injected into the fact-side scan") {
    graft.ops.withConfs(spark, Lake.runtimeFilterConfs) {
      val plan = Tables.lineitem(spark, sfDir)
        .join(Tables.orders(spark, sfDir)
          .filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag").count()
        .queryExecution.optimizedPlan.toString
      assert(plan.toLowerCase.contains("bloomfilter"),
        s"expected an injected bloom runtime filter in:\n$plan")
    }
  }

  test("z-order layout prunes both dimensions; linear only its leading one") {
    val rows = Lake.zorderLayout(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // ~every linear file overlaps a y-only probe (a tile boundary can
    // slice inside a single day and carve off one non-overlapping
    // y-slice, hence >= 14 rather than == 16 at tiny SF)
    assert(rows(("linear", "y_probe")) >= 14L,
      "an x-sorted layout cannot meaningfully prune a y-only probe")
    assert(rows(("zorder", "y_probe")) <= 8L &&
      rows(("linear", "y_probe")) > 2 * rows(("zorder", "y_probe")),
      s"z-order should bound y per file, touched ${rows(("zorder", "y_probe"))}")
    assert(rows(("zorder", "x_probe")) <= 8L,
      s"z-order should bound x per file, touched ${rows(("zorder", "x_probe"))}")
    assert(rows(("linear", "x_probe")) <= 4L,
      "the leading-dimension probe is where linear layout shines")
  }

  test("hilbert32 is a bijective unit-step walk of the 32x32 grid") {
    val cells = for (x <- 0L until 32L; y <- 0L until 32L)
      yield (graft.functions.LayoutMath.hilbert32(x, y), x, y)
    // bijection onto [0, 1024)
    assert(cells.map(_._1).sorted == (0L until 1024L))
    // the defining Hilbert property (what Morton lacks): consecutive
    // distances are edge-adjacent cells — NO diagonal or long jumps
    val path = cells.sortBy(_._1)
    path.sliding(2).foreach { case Seq((_, x1, y1), (_, x2, y2)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1L,
        s"jump between ($x1,$y1) and ($x2,$y2)")
    }
    // the walk starts at the origin (canonical orientation anchor)
    assert(graft.functions.LayoutMath.hilbert32(0L, 0L) == 0L)
  }

  test("hilbert layout prunes at least as tightly as z-order on both probes") {
    val rows = Lake.hilbertLayout(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(rows(("hilbert", "y_probe")) <= rows(("zorder", "y_probe")),
      s"hilbert y ${rows(("hilbert", "y_probe"))} vs zorder ${rows(("zorder", "y_probe"))}")
    assert(rows(("hilbert", "x_probe")) <= 8L && rows(("hilbert", "y_probe")) <= 8L,
      "hilbert must bound both dimensions per file")
    assert(rows(("linear", "y_probe")) >= 14L)
  }

  test("merge_upsert applies deletes, updates, and inserts by key") {
    val merged = Lake.mergeUpsert(spark, sfDir)
    val byKey = merged.collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val snap = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("pc"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val delKeys = snap.keys.filter(_ % 13 == 0)
    val updKeys = snap.keys.filter(k => k % 7 == 0 && k % 13 != 0)
    val insKeys = snap.keys.filter(k => k % 11 == 0 && k != 0)
    assert(delKeys.nonEmpty && updKeys.nonEmpty && insKeys.nonEmpty,
      "fixture must exercise all three CDC op kinds")
    delKeys.foreach(k => assert(!byKey.contains(k), s"deleted key $k survived"))
    updKeys.foreach(k => assert(byKey(k)._2 == snap(k)._2 + 100L,
      s"update missed key $k"))
    insKeys.foreach(k => assert(byKey(-k) == snap(k), s"insert missed key -$k"))
    // untouched keys pass through byte-identical
    snap.keys.filterNot(k => k % 13 == 0 || k % 7 == 0)
      .foreach(k => assert(byKey(k) == snap(k), s"untouched key $k changed"))
    // the delta-keys anti join must broadcast, never shuffle the snapshot
    val plan = Lake.mergeUpsert(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      "MERGE survivors side must be a broadcast anti join")
  }

  test("incremental snapshot+delta merge equals the full recompute") {
    val merged = Lake.incrementalAgg(spark, sfDir)
    val full = Tables.orders(spark, sfDir)
      .groupBy(col("o_orderstatus"),
        date_format(col("o_orderdate"), "yyyy-MM").as("mon"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
      .orderBy("o_orderstatus", "mon")
    assert(merged.collect().toSeq == full.collect().toSeq)
    // both eras must actually contribute, or the merge proves nothing
    val eras = Tables.orders(spark, sfDir)
      .select((col("o_orderdate") < "1996-01-01").as("pre"))
      .groupBy("pre").count().collect()
    assert(eras.length == 2, "fixture must span the 1996 snapshot/delta split")
  }

  test("vacuum deletes only orphans; the orphan corruption is real before it") {
    val tbl = Files.createTempDirectory("graft-vacuum-spec").toString
    val n = Tables.orders(spark, sfDir).count()
    Tables.orders(spark, sfDir).repartition(4).write.mode("overwrite").parquet(tbl)
    val manifest = Lake.dataFiles(spark, tbl)
    assert(manifest.size == 4)

    Lake.plantOrphans(spark, tbl, 3)
    // a listing-based reader now double-counts — the corruption vacuum exists to fix
    assert(spark.read.parquet(tbl).count() > n,
      "planted orphans must inflate a directory-listing read")

    val (before, after) = Lake.vacuumTo(spark, tbl, manifest)
    assert(before == 7 && after == 4)
    assert(Lake.dataFiles(spark, tbl) == manifest, "vacuum must not touch committed files")
    assert(spark.read.parquet(tbl).count() == n, "post-vacuum content must be exact")

    // idempotent: a second vacuum finds nothing to delete
    assert(Lake.vacuumTo(spark, tbl, manifest) == ((4, 4)))
  }

  test("time_travel: versions share one directory and isolate; a naive read double-counts") {
    val n = Tables.orders(spark, sfDir).count()
    val res = Lake.timeTravel(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val v1 = res.filter(_._1._1 == 1L)
    val v2 = res.filter(_._1._1 == 2L)
    // both snapshots are complete (every order exactly once) …
    assert(v1.values.map(_._1).sum == n && v2.values.map(_._1).sum == n)
    // … and genuinely different: the CoW rewrite doubled the hot rows'
    // prices, so every status group strictly gained cents in v2
    v1.foreach { case ((_, status), (rows, cents1)) =>
      val (rows2, cents2) = v2((2L, status))
      assert(rows2 == rows && cents2 > cents1,
        s"status $status: v2 ($rows2, $cents2) vs v1 ($rows, $cents1)")
    }
  }

  test("deletion_vectors: DV-applied read provably equals the hard rewrite") {
    import org.apache.spark.sql.functions._
    val row = graft.ops.Lake.deletionVectors(spark, sfDir).collect().head
    val li = graft.tables.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_linenumber").cast("long"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("pc"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val deleted = li.count(_._1 % 13 == 2).toLong
    val vis = li.filter(_._1 % 13 != 2)
    assert(row.getLong(0) == li.length.toLong && row.getLong(1) == deleted)
    assert(deleted > 0L, "fixture plants no deletions — the DV path is untested")
    assert(row.getLong(2) == vis.length.toLong)
    assert(row.getLong(3) == vis.map(_._3).sum)
    assert(row.getLong(4) == vis.map(r => r._1 * 10 + r._2).reduce(_ ^ _))
    assert(row.getBoolean(5), "DV read diverged from the rewrite")
  }
}
