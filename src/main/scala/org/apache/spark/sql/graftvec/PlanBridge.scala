package org.apache.spark.sql.graftvec

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD

/** `Dataset.ofRows` is `private[sql]` — this bridge lets graft code turn
  * a hand-rewritten `LogicalPlan` (e.g. [[graft.plans.LshJoinRewrite]]
  * applied explicitly, outside the optimizer pipeline) back into a
  * DataFrame. Same bridge-package pattern as the native expressions. */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `rdd` (exactly `rowCount` rows of `output`) as an RDD scan that
    * carries its true size: the planner can broadcast it when small,
    * as it would a local relation, while the optimizer still treats it
    * as opaque data (a bare `createDataFrame(rdd)` reads as
    * default-size, i.e. huge). */
  def ofRdd(spark: SparkSession, output: Seq[Attribute], rdd: RDD[InternalRow],
            rowCount: Long): DataFrame = {
    val stats = Statistics(EstimationUtils.getSizePerRow(output) * rowCount,
      Some(BigInt(rowCount)))
    ofRows(spark,
      LogicalRDD(output, rdd)(spark.asInstanceOf[classic.SparkSession], Some(stats)))
  }
}
