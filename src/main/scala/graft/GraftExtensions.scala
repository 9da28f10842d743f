package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Build-time form of [[Graft.install]] for sessions graft does not
  * build itself: the same SQL functions, planner strategy and
  * optimizer rules, injected by
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * spark.sql("SELECT simhash64(split(text, ' ')), cosine_sim(a, b) ...")
  * }}}
  *
  * The union guard is a SQL setting, not an extension: graft's entry
  * points that need it call [[Graft.install]], which sets it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    Graft.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    Graft.strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
    Graft.rules.foreach(r => ext.injectOptimizerRule(_ => r))
  }
}
