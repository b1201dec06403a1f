package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.graftx.{AsOfJoinStrategy, GraftFunctions, TopKPerGroupStrategy, WindowTopKRewrite}

/** Session-extension entry point for cluster deployments:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * injects the engine's planner strategies into every session built
  * from that conf. Sessions built without it (every [[Sessions.local]]
  * session here) get the same strategies at first use via
  * `TopKPerGroup.register`, which is idempotent — both paths end with
  * the same planner.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => TopKPerGroupStrategy)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => WindowTopKRewrite)
    GraftFunctions.functions.foreach(ext.injectFunction)
  }
}
