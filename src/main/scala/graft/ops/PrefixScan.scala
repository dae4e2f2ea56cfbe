package graft.ops

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions.{col, floor, lit, sum, when}
import org.apache.spark.sql.types.{IntegerType, StructType}

/** Inclusive running sums over one total order, per group, with no
  * global window (Blelloch, "Prefix Sums and Their Applications", 1990).
  * Rows are range-partitioned on group ++ order, so ascending partition
  * ids hold ascending key ranges. One pass sums each partition locally
  * and is checkpointed; one aggregate collects the per-(partition, group)
  * totals; a second pass adds to each row the totals of its group's
  * earlier partitions. No task holds more than one range partition,
  * however large a group is, and the query that reads the rows plans no
  * window and no exchange on the partition id.
  */
object PrefixScan {

  /** Range partitions per scan. The offsets make the sums exact for any
    * count; 32 matches the session parallelism the suite is sized for. */
  val Partitions = 32

  private val Pid = "__scan_pid"

  /** The scanned rows and, per group key (the group columns' values in
    * order; the empty key for an ungrouped scan), every measure's total. */
  final case class Result(rows: DataFrame, totals: Map[Seq[Any], Seq[Long]]) {
    /** Total of the `i`-th measure over `group`; 0 when it has no rows. */
    def total(i: Int, group: Any*): Long = totals.get(group).fold(0L)(_(i))
  }

  /** `df` plus one column per measure `name -> m`: the inclusive running
    * sum of the non-null Long `m` over `order` within the row's `group`.
    * `order` is unique within a group (`.desc` allowed); each measure
    * names a new column and reads `df`'s columns by name. Runs one
    * checkpoint and one collect; the rows read the checkpoint. */
  def apply(df: DataFrame, group: Seq[String], order: Seq[Column],
            measures: (String, Column)*): Result = Checkpoints.scope { ck =>
    val names = measures.map(_._1)
    require(measures.nonEmpty && names.forall(n => !df.columns.contains(n)),
      s"PrefixScan: measures $names must be new columns of ${df.columns.mkString(", ")}")
    val keys = group.map(col) ++ order
    val in = df.select(col("*") +: measures.map { case (n, m) => m.cast("long").as(n) }: _*)
      .repartitionByRange(Partitions, keys: _*)
      .sortWithinPartitions(keys: _*)
    val g  = group.map(in.schema.fieldIndex).toArray
    val ms = names.map(in.schema.fieldIndex).toArray
    val withPid = in.schema.add(Pid, IntegerType, nullable = false)
    val local = ck.ckpt(in.mapPartitions(localSums(g, ms, withPid))(Encoders.row(withPid)))
    val sums = measures.map { case (_, m) => sum(m.cast("long")) }
    val parts = local.groupBy((Pid +: group).map(col): _*).agg(sums.head, sums.tail: _*)
      .collect().toSeq
      .map(r => (r.getInt(0), g.indices.map(i => r.get(i + 1)): Seq[Any],
        ms.indices.map(i => r.getLong(g.length + 1 + i)): Seq[Long]))
    val zero: Seq[Long] = ms.indices.map(_ => 0L)
    val scanned = parts.groupBy(_._2).toSeq.map { case (key, ps) =>
      val byPid  = ps.sortBy(_._1)
      val starts = byPid.scanLeft(zero)((acc, p) => acc.zip(p._3).map { case (a, b) => a + b })
      (byPid.map(_._1).zip(starts).map { case (pid, off) => (pid, key) -> off }, key -> starts.last)
    }
    val offsets = scanned.flatMap(_._1).toMap
    Result(local.mapPartitions(addOffsets(offsets, g, ms, in.schema))(Encoders.row(in.schema)),
      scanned.map(_._2).toMap)
  }

  /** Pass 1, over one sorted range partition: running sums restart at
    * each new group key; the task's partition id is appended. */
  private def localSums(g: Array[Int], ms: Array[Int],
                        schema: StructType): Iterator[Row] => Iterator[Row] = it => {
    val pid = TaskContext.getPartitionId()
    val acc = new Array[Long](ms.length)
    var key: Seq[Any] = null
    it.map { r =>
      val k = g.toSeq.map(r.get)
      if (k != key) { java.util.Arrays.fill(acc, 0L); key = k }
      val v = r.toSeq.toArray :+ pid
      ms.indices.foreach { i => acc(i) += r.getLong(ms(i)); v(ms(i)) = acc(i) }
      new GenericRowWithSchema(v, schema)
    }
  }

  /** Pass 2: adds the (partition, group) offset and drops the partition id. */
  private def addOffsets(offsets: Map[(Int, Seq[Any]), Seq[Long]], g: Array[Int], ms: Array[Int],
                         schema: StructType): Iterator[Row] => Iterator[Row] = _.map { r =>
    val off = offsets((r.getInt(schema.length), g.toSeq.map(r.get)))
    val v = r.toSeq.toArray.take(schema.length)
    ms.indices.foreach(i => v(ms(i)) = r.getLong(ms(i)) + off(i))
    new GenericRowWithSchema(v, schema)
  }

  /** ntile(buckets) of a 1-based rank over n rows: the first n % buckets
    * buckets take one extra row, as SQL's ntile. Inputs stay below 2^53,
    * so the double division is exact. */
  def ntileOfRank(rank: Column, n: Long, buckets: Int): Column = {
    val q   = n / buckets
    val rem = n % buckets
    if (q == 0) rank
    else {
      val cut = rem * (q + 1) // ranks 1..cut fall in the (q + 1)-row buckets
      when(rank <= cut, floor((rank - 1) / lit(q + 1)).cast("long") + 1)
        .otherwise(lit(rem) + floor((rank - lit(cut) - 1) / lit(q)).cast("long") + 1)
    }
  }
}
