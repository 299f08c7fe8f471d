package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge to `private[sql]` Catalyst internals: the Column↔Expression
  * converters, needed to expose custom Catalyst expressions through the
  * public Column API on Spark 4 (where `Column` no longer wraps an
  * Expression directly), and a checkpoint's size estimate.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `checkpointed` (the result of `localCheckpoint`/`checkpoint`) without
    * a size estimate, so the planner treats its size as unknown. A
    * checkpoint otherwise inherits its source plan's estimate, and a join's
    * estimate is the product of its inputs', so an iterative join over
    * checkpoints squares the estimate every round.
    */
  def withoutSizeEstimate(checkpointed: DataFrame): DataFrame =
    checkpointed.queryExecution.analyzed match {
      case r: LogicalRDD =>
        val session = checkpointed.sparkSession.asInstanceOf[classic.SparkSession]
        classic.Dataset.ofRows(session, r.copy()(session, None, Some(r.constraints)))
      case other =>
        throw new IllegalArgumentException(s"not a checkpoint: ${other.nodeName}")
    }
}
