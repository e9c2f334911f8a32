package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.LogicalRDD

/**
 * Minimal bridge to the `private[sql]` Column↔Expression converters so the
 * graft engine can expose custom Catalyst expressions as ordinary Columns,
 * plus a statistics clamp for checkpoints. (The standard pattern for Spark
 * extension libraries; nothing else from Spark internals is accessed here.)
 */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A checkpointed frame with its size estimate (and row count) clamped
    * to `Long.MaxValue`: a checkpoint's `LogicalRDD` keeps the replaced plan's
    * statistics and `visitJoin` multiplies its sides', so a loop that
    * checkpoints a join round after round grows the estimate's digits
    * without bound. Same RDD, partitioning and constraints (still lazy);
    * an estimate past `Long.MaxValue` already exceeds every threshold, so
    * no join choice changes. Other frames are returned as is. */
  def clampSizeEstimate(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[Dataset[Row]]
    val cap = BigInt(Long.MaxValue)
    ds.logicalPlan match {
      case r: LogicalRDD if r.computeStats().sizeInBytes > cap =>
        val stats = r.computeStats()
        val clamped = stats.copy(sizeInBytes = cap, rowCount = stats.rowCount.map(_ min cap))
        Dataset.ofRows(ds.sparkSession,
          r.copy()(ds.sparkSession, Some(clamped), Some(r.constraints)))
      case _ => df
    }
  }
}
