package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ catalyst Expression bridge.
  *
  * Spark 4's public `Column` is implementation-agnostic (a `ColumnNode`
  * tree shared with Connect); the classic converter lives in the
  * `org.apache.spark.sql.classic` package-private API. This shim is the
  * conventional extension-library bridge for plugging custom catalyst
  * `Expression`s (e.g. [[graft.expressions.VecDot]]) into the Column DSL.
  */
object GraftSql {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The analyzed logical plan of a Dataset — for embedding a relation
    * as a SCALAR SUBQUERY inside a custom expression (the form
    * `BloomFilterMightContain` demands for its sketch argument; the
    * same wiring Spark's own `InjectRuntimeFilter` emits). */
  def analyzedPlan(df: Dataset[_])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed
}
