package graft.functions

import org.apache.spark.sql.SparkSessionExtensions

/** The engine's session surface: the `TopKStrategy` planner strategy,
  * the `WindowTopKRewrite` and `RangeJoinRewrite` optimizer rules, and
  * every `graft_*` function of [[GraftFunctions]]. `GraftSession.builder`
  * wires it in; elsewhere use
  * {{{ SparkSession.builder().withExtensions(new GraftExtensions) }}}
  * or `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => org.apache.spark.sql.graft.TopKStrategy)
    e.injectOptimizerRule(_ => org.apache.spark.sql.graft.WindowTopKRewrite)
    e.injectOptimizerRule(_ => org.apache.spark.sql.graft.RangeJoinRewrite)
    GraftFunctions.functions.foreach(e.injectFunction)
  }
}
