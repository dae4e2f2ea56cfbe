package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Re-exports the `private[sql]` factory that wraps a logical plan in a
  * DataFrame of the given session (`classic.Dataset.ofRows`), which
  * `Checkpoints` needs to serve a checkpoint with its recorded layout. */
object DatasetBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
