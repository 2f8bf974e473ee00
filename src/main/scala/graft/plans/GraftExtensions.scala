package graft.plans

import graft.functions.GraftFunctions
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions installer for the graft native functions —
  * the registration path for sessions built outside our code
  * (spark-submit `--conf spark.sql.extensions=graft.plans.GraftExtensions`,
  * or a session builder's `.withExtensions(new GraftExtensions)`).
  * In-library operators register the same builders imperatively via
  * GraftFunctions.register, so both entry styles see identical
  * functions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit =
    GraftFunctions.functions.foreach { case (name, builder) =>
      extensions.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft", name),
        builder))
    }
}
