package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{classic, Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD

/** Minimal bridge to Spark's private[sql] Column <-> Expression conversion
  * (Spark 4.x hid direct Column construction behind ColumnNode). This is the
  * standard third-party-library escape hatch: small objects inside the sql
  * package namespace, nothing else.
  */
object ColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Eager local checkpoints whose plan forgets the origin's size estimate.
  * `Dataset.localCheckpoint` keeps the estimate of the plan it materialized,
  * so a loop that joins each round's checkpoint into the next compounds the
  * estimate (a join's estimate is the product of its children's) although
  * the lineage is cut. The copy here reports Spark's default size instead.
  */
object CheckpointShim {
  def localCheckpoint(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(eager = true).asInstanceOf[classic.Dataset[Row]]
    val lr = cp.queryExecution.logical.asInstanceOf[LogicalRDD]
    classic.Dataset.ofRows(cp.sparkSession, lr.copy()(cp.sparkSession, None, None))
  }
}
