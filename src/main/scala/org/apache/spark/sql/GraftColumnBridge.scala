package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

/** Bridge into `private[sql]` Spark internals — the usual
  * extension-library seam for classic Spark: the Column↔Expression
  * converters, so the engine can expose custom Catalyst expressions
  * (e.g. graft.functions.HyperplaneSignature) as ordinary Columns, and
  * a frame over rows Catalyst already computed on the driver. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The rows of a frame that Catalyst evaluated on the driver at
    * optimization time: its optimized plan is a `LocalRelation`. */
  def localRelation(df: DataFrame): Option[LocalRelation] =
    df.queryExecution.optimizedPlan match {
      case lr: LocalRelation => Some(lr)
      case _ => None
    }

  /** A frame over already computed rows: planning it runs no job. */
  def frame(spark: SparkSession, rows: LocalRelation): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], rows)
}
