package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Wraps a Catalyst expression as a `Column`. Spark keeps that
  * constructor `private[sql]`, so graft's native expressions reach it
  * through this object in Spark's own package. */
object GraftColumns {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
}
