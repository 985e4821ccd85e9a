package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session-extension entry point — register the engine's native functions
  * at session build time (the deployment path for a real cluster):
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.plans.GraftExtensions …
  *   // or: SparkSession.builder().withExtensions(new GraftExtensions) …
  * }}}
  *
  * For an already-running session, [[Native.register]] installs the same
  * functions into the session's function registry: both read the one
  * table [[Native.sqlFunctions]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => RewriteMinHashAgreement)
    Native.sqlFunctions.foreach { case (name, usage, build) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name, usage, ""), build))
    }
  }
}
