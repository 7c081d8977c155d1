package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.HashFunctions

/** The one registration path for the graft function surface and optimizer
  * rules: installed when a session is built, so the session and every
  * `newSession()` of it resolve the functions and run the rules inside the
  * operator-optimization batches. [[graft.LocalSession]] builds with it; a
  * cluster deployment sets
  * `spark.sql.extensions=graft.plans.GraftExtensions` instead. A session
  * built without it cannot analyze plans that call the graft functions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    HashFunctions.builders.foreach { case (name, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          build(exprs)))
    }
    ext.injectOptimizerRule(_ => RewriteDotProduct)
  }
}
