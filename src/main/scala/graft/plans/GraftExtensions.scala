package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions installer: wires the native expressions into any
  * session at build time —
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions` — so SQL-only
  * users (thriftserver, notebooks) get every function of
  * [[GraftFunctions.sqlFunctions]] without calling GraftFunctions.register.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.sqlFunctions.foreach { case (name, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(GraftFunctions.getClass.getName, name), build))
    }
    // the custom bounded-heap top-k-per-key physical operator plans itself
    // for sessions built with this extension (same effect as
    // TopKPerKey.install on a programmatic session), and the optimizer
    // rewrites the window top-k idiom onto it automatically
    ext.injectPlannerStrategy(_ => TopKPerKeyStrategy)
    ext.injectOptimizerRule(_ => TopKRewriteRule)
  }
}
