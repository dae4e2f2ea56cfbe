package graft.kernel

import graft.ops.Checkpoints
import org.apache.spark.sql.{Dataset, Encoder}
import scala.jdk.CollectionConverters._

/** The faithful, generic MapReduce surface of the reference engine,
  * re-expressed on typed Datasets.
  *
  * Reference semantics preserved (SURVEY.md §1.3; reference
  * `MapReduceFramework.cpp:698-765`):
  *  1. grouping is by key *equivalence*, not identity
  *     (`MapReduceFramework.cpp:83-91` groups via `operator<` on
  *     dereferenced keys; case-class equality plays that role here);
  *  2. Reduce runs exactly once per distinct k2 per action
  *     (`MapReduceEX.pdf` p.6 step 4) — `groupByKey.flatMapGroups`
  *     calls it once per group, and a lazy checkpoint of its output
  *     keeps the sort's sampling job from calling it again;
  *  3. bag multiplicity is preserved end-to-end — nothing here
  *     deduplicates values or output pairs;
  *  4. final output is globally sorted ascending by k3
  *     (`MapReduceFramework.cpp:546-558`) — the trailing `orderBy`;
  *  5. value order within a group is unspecified (reference: shuffle
  *     task-arrival order, `MapReduceFramework.cpp:441-448`; here:
  *     shuffle-read order) — user reduce functions must not depend on it,
  *     exactly as in the reference.
  *
  * Optional combiner (Dean & Ghemawat, OSDI 2004 §4.3; the reference has
  * none): `combine` must be associative and commutative. With it, each
  * map task folds its emitted pairs per k2 before the shuffle, so
  * `reduce` sees combined partials — still once per distinct k2, but
  * over fewer values, whose number depends on the partitioning. Only a
  * `reduce` that folds its values with the same `combine` (sum, max, set
  * union) returns the same output either way. The typed `groupByKey`
  * has no map-side combine of its own; without `combine` every emitted
  * pair is shuffled.
  *
  * What the reference hand-builds — ExecMap/ExecReduce thread pools,
  * chunked work-stealing, per-thread emit buffers, the shuffler thread,
  * the gather step (`MapReduceFramework.cpp:317-374,409-467,476-519,
  * 546-558`) — is Spark's job: task scheduling, sort-based shuffle,
  * map-side buffering, and a range-partitioned distributed sort. At
  * cluster scale this kernel is shuffle-bound only on the groupByKey and
  * the final sort, both of which scale by partitioning alone.
  */
object MapReduce {

  /** Distinct k2 a map task holds before it emits its partials and starts
    * a fresh table. Invariant: a task's combine table never holds more
    * entries than this, whatever its input; the output does not depend on
    * it, because `reduce` merges partials of one key from any number of
    * flushes and tasks.
    */
  private[graft] val CombineFlushEntries = 1 << 16

  /** `runMapReduceFramework` ≙ `run`; `Emit2`/`Emit3` ≙ the iterables
    * returned by `map`/`reduce`; `multiThreadLevel` ≙ parallelism of the
    * underlying stages.
    */
  def run[K1, V1, K2, V2, K3, V3](
      input: Dataset[(K1, V1)])(
      map: (K1, V1) => IterableOnce[(K2, V2)])(
      reduce: (K2, Iterator[V2]) => IterableOnce[(K3, V3)],
      combine: Option[(V2, V2) => V2] = None)(implicit
      k2Enc: Encoder[K2],
      kv2Enc: Encoder[(K2, V2)],
      kv3Enc: Encoder[(K3, V3)]): Dataset[(K3, V3)] = {
    val mapped = combine match {
      case None    => input.flatMap { kv => map(kv._1, kv._2) }
      case Some(c) =>
        input.mapPartitions { rows =>
          combineLocally(rows.flatMap(kv => map(kv._1, kv._2)), c)
        }
    }
    val reduced = mapped
      .groupByKey(_._1)
      .flatMapGroups { (k2: K2, pairs: Iterator[(K2, V2)]) =>
        reduce(k2, pairs.map(_._2))
      }
    // §1.3 pt 4: globally sorted ascending by k3. Tuple encoders expose
    // fields as _1/_2; sorting on a struct key is lexicographic, matching
    // the reference's operator< composition for compound keys.
    // §1.3 pt 2: the sort samples its input for range bounds in a job of
    // its own, which would run `reduce` a second time; the lazy
    // checkpoint is filled by that first job and read by the sort.
    Checkpoints.scope(s => s.lazyCkpt(reduced).orderBy("_1"))
  }

  /** In-mapper combining: folds `pairs` per key into a hash table and
    * emits (k2, partial) whenever the table reaches
    * [[CombineFlushEntries]] keys, and once more at the end. The table
    * keys on JVM `equals`, which never joins two keys that Spark's
    * grouping keeps apart; it may only join fewer (`Array` keys compare
    * by identity, `0.0` and `-0.0` differ), and `reduce` merges those
    * partials anyway.
    */
  private def combineLocally[K, V](pairs: Iterator[(K, V)], combine: (V, V) => V): Iterator[(K, V)] =
    Iterator.unfold(pairs) { rest =>
      Option.when(rest.hasNext) {
        val acc = new java.util.HashMap[K, V]()
        while (rest.hasNext && acc.size < CombineFlushEntries) {
          val (k, v) = rest.next()
          val prev   = acc.get(k)
          // a stored null partial is still a partial
          acc.put(k, if (prev == null && !acc.containsKey(k)) v else combine(prev, v))
        }
        (acc.entrySet.iterator.asScala.map(e => (e.getKey, e.getValue)), rest)
      }
    }.flatten
}
