package org.apache.spark.sql

/** Session-less bridges for PURE Column helpers (e.g. TextOps.md5Long)
  * that wrap a custom Expression around an arbitrary caller Column:
  * Spark 4 scopes the Column ⇄ Expression converters to its own package
  * — the standard extension-project shim. `exprOf` wraps the Column's
  * node lazily (ColumnNodeExpression) and the analyzer's converter
  * resolves it when the enclosing query plans — fine for expression
  * trees, NOT for code that needs the converted catalyst tree
  * immediately. */
object GraftSqlShims {
  def columnOf(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)
  def exprOf(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)
}
