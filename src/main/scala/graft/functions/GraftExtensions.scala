package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions installer: makes the engine's native functions
  * available in ANY session built with
  * `spark.sql.extensions=graft.functions.GraftExtensions` (cluster-wide
  * config, spark-submit, or the session builder's withExtensions) — no
  * per-session register() call needed.
  *
  * This is the (c)-path registration hook of the custom-operator ladder;
  * the expressions themselves stay plain Catalyst expressions. The
  * function set comes from [[GraftFunctions.catalog]] and the planner
  * strategies from [[GraftFunctions.strategies]] — the SAME tables the
  * runtime register() path iterates — so a config-deployed session
  * gets exactly the runtime session's surface (the previous
  * hand-maintained list here had drifted 9 functions behind;
  * GraftExtensionsSpec now pins the parity).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
    ext.injectOptimizerRule(_ => graft.plans.PushFilterThroughAsofJoin)
    GraftFunctions.catalog.foreach { case (name, clazz, usage, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, null, name, usage,
          "", "", "", "", "", "", "built-in"),
        builder))
    }
  }
}
