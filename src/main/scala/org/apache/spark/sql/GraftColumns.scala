package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Public face of Spark's package-private Column <-> Expression bridge,
  * so [[graft.Kernels]] can hand out its Catalyst expressions as plain
  * Columns. `expression` does not convert eagerly: it wraps the Column's
  * node in a placeholder that the owning Dataset's converter resolves
  * together with every other column of the projection, under that
  * Dataset's session. The wrapped kernel therefore builds the same
  * analyzed plan on any thread, with or without an active session. */
object GraftColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
