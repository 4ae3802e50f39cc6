package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension registering every [[Kernels]] row under its SQL name
  * (installed with `.config("spark.sql.extensions", "graft.GraftExtensions")`),
  * for queries written as SQL strings. DataFrame code calls the kernels
  * through [[Kernels]] and does not need it. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    Kernels.table.foreach { k =>
      ext.injectFunction((
        FunctionIdentifier(k.name),
        new ExpressionInfo(k.className, k.name),
        (children: Seq[Expression]) => {
          if (children.size != k.arity)
            throw new IllegalArgumentException(
              s"${k.name} requires exactly ${k.arity} argument(s), got ${children.size}")
          k.make(children)
        }))
    }
}
