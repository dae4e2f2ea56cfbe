package graft

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
    val tmp = java.nio.file.Files.createTempDirectory(prefix).toString
    try f(tmp)
    finally {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(tmp))
      try walk.iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close() // the stream holds directory fds until closed
    }
  }
}
