package graft

import graft.kernel.{MapReduce, RunLogger}
import org.apache.spark.sql.SparkSession

/** The spec's second canonical client (`MapReduceEX.pdf` pp.3-4, O17):
  * wordcount over text files. Map: (path, line) → (word, 1) per word;
  * Reduce: sum per word, with sum as the map-side combiner; output
  * sorted by word (kernel guarantee §1.3).
  *
  * Usage: WordCountMain <file-or-dir ...> — reads each path with the
  * text source (a directory reads all its files). Prints "word count"
  * lines in sorted order. Attaches the O13 run log like the reference's
  * `.MapReduceFramework.log`.
  */
object WordCountMain {

  def run(spark: SparkSession, paths: Seq[String]): Seq[(String, Long)] = {
    import spark.implicits._
    val lines = spark.read.textFile(paths: _*)
      .map(l => ("", l)) // k1 unused, like the reference's wordcount sketch
    MapReduce.run(lines)(
      map = (_, line) => line.split("\\s+").iterator.filter(_.nonEmpty).map(w => (w, 1L)))(
      reduce = (word, counts) => Iterator.single((word, counts.sum)),
      combine = Some(_ + _))
      .collect().toSeq
  }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("Usage: <files or directories of text, separated by space>")
      sys.exit(1)
    }
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("graft-wordcount")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    RunLogger.attach(spark, ".GraftMapReduce.log")
    // O14 faithful failure line + exit, like SearchMain
    val counts = graft.kernel.FailFast.guard("runMapReduceFramework", exitOnFailure = true) {
      run(spark, args.toSeq)
    }
    counts.foreach { case (w, c) => println(s"$w $c") }
    spark.stop()
  }
}
