package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point — enables the engine's SQL functions on
  * any session via configuration (no code changes on the consumer side):
  *
  *   spark.sql.extensions=graft.functions.GraftExtensions
  *
  * Registers every entry of `TextHashes.sqlFunctions` (`TextHashes.register(spark)`
  * is the programmatic equivalent for an already-built session).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    TextHashes.sqlFunctions.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, ""), builder))
    }
}
