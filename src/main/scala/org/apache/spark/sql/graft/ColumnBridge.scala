package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** Registry-free Expression↔Column wrap (`ExpressionUtils.column` is
  * private[sql]). Every Scala column helper over an engine native
  * (`VecOps.dot`, `TextSketch.minhashSig`, `ContainsPoint.apply`, ...)
  * builds its expression here instead of naming it through the session
  * function registry, so it works on any session and from pure Column
  * chains with no session at hand ([[graft.text.WebText.htmlText]]). The
  * SQL names of the same natives live in [[graft.Natives]]. Same justified
  * package-escape shape as [[org.apache.spark.graft.ListenerDrain]].
  */
object ColumnBridge {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** `build(args)` as a column: a native over the given argument columns. */
  def call(build: Seq[Expression] => Expression, args: Column*): Column =
    column(build(args.map(expression)))
}
