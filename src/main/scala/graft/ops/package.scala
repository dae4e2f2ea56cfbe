package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

package object ops {

  /** One driver-contract query: a Spark implementation plus (when the
    * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle over
    * the same parquet tables. Queries without an oracle get the driver's
    * weaker rows-only check.
    */
  final case class QueryDef(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  object QueryDef {
    def sql(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): QueryDef =
      QueryDef(name, fn, Some(oracle))
  }

  /** Run `f` against a fresh local temp dir, deleting the tree
    * afterwards — shared by every operator that stages an intermediate
    * table on disk (Lake round-trips, sketch persistence). Results that
    * must outlive the dir must be checkpointed (`s.ckpt`) first. */
  private[graft] def withTempDir[A](prefix: String)(f: String => A): A = {
    val tmp = Files.createTempDirectory(prefix)
    try f(tmp.toString)
    finally deleteTree(tmp)
  }

  /** Deletes `root` and everything under it; a missing `root` is a
    * no-op. Symbolic links are deleted, never followed. The one
    * recursive delete under `src/main`: like [[listDir]], it closes its
    * directory stream, which holds directory fds until closed. */
  private[graft] def deleteTree(root: Path): Unit =
    if (Files.exists(root, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val walk = Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally walk.close()
    }

  /** The entries of directory `dir`, its stream closed. */
  private[graft] def listDir(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toList
    finally s.close()
  }

  /** Runs `f` with the given SQL confs set on the session, then gives
    * each key back its earlier value (or unsets it). Apart from
    * `Tables`' TIMESTAMP(NANOS) branch, the one place under `src/main`
    * that sets a session conf; its two callers are the stream runner
    * `Streams.bounded` (around `start()`) and `Lake.runtimeFilterJoin`
    * (around one plan's execution). The window holds a lock on the
    * session, so two windows never interleave: neither can save the
    * other's value as the one to restore, and a thread inside `f` sees
    * its own confs. Code that runs on other threads of the same session
    * meanwhile sees them too; keep `f` to the one call that must read
    * them (a plan's execution, a stream's `start()`). */
  private[graft] def withConfs[A](spark: SparkSession, confs: Seq[(String, String)])(f: => A): A =
    spark.synchronized {
      val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      try { confs.foreach { case (k, v) => spark.conf.set(k, v) }; f }
      finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
}
