package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Column <-> Expression bridge. Spark 4 made the converters
 * `private[sql]` (Column wraps a ColumnNode now); extensions that
 * define native Catalyst expressions use a same-package bridge — the
 * standard pattern for Spark extension libraries. The same bridge
 * reaches Spark's `private[spark]` range-partitioning helpers.
 */
object SqlBridge {
  def expr(c: Column): Expression = ExpressionUtils.expression(c)
  def col(e: Expression): Column = ExpressionUtils.column(e)

  /** Dataset from a raw logical plan (private[sql] in Spark 4) — used
    * by the range-bound sampler to re-execute a query plan with a
    * Sample node pushed below the expensive row-local fan-out. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Spark's per-partition reservoir sampler (private[spark]): up to
    * `k` keys kept uniformly, plus the count of keys seen. */
  def reservoirSampleAndCount(keys: Iterator[Long], k: Int, seed: Long): (Array[Long], Long) =
    org.apache.spark.util.random.SamplingUtils.reservoirSampleAndCount(keys, k, seed)

  /** `RangePartitioner`'s weighted equal-frequency bound picker
    * (private[spark]): at most `partitions - 1` strictly increasing
    * bounds over (key, weight) candidates. */
  def determineBounds(candidates: scala.collection.mutable.ArrayBuffer[(Long, Float)],
                      partitions: Int): Array[Long] =
    org.apache.spark.RangePartitioner.determineBounds(candidates, partitions)
}
