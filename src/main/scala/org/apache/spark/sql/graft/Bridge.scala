package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Column ↔ Expression bridge. Spark 4 made the helpers `private[sql]`
 * (org.apache.spark.sql.classic.ExpressionUtils), so third-party Catalyst
 * expressions need this one-file shim in the sql package — the same pattern
 * public Spark extension libraries use to expose custom expressions as
 * Columns.
 */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** AbstractDataType is `private[sql]` in Spark 4, so an expression
    * outside the sql package cannot NAME it in an `inputTypes` override —
    * this public alias (legal here, inside the sql package tree) lets
    * graft.functions declare ExpectsInputTypes contracts. */
  type ADT = org.apache.spark.sql.types.AbstractDataType

  /** Apply a SparkSessionExtensions' injected functions to a session's
    * registry (`registerFunctions` is private[sql]; this is the hook the
    * session builder itself uses for spark.sql.extensions). */
  def applyFunctionInjections(ext: org.apache.spark.sql.SparkSessionExtensions,
                              spark: org.apache.spark.sql.SparkSession): Unit =
    ext.registerFunctions(spark.sessionState.functionRegistry)

  /** Block until every listener has seen every event posted so far
    * (`listenerBus` is private[spark]). */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
