package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.GraftFunctions

/**
 * SparkSessionExtensions entry point: makes every graft function available
 * in any session built with
 * `SparkSession.builder().withExtensions(new GraftExtensions)` or via
 * `spark.sql.extensions=graft.GraftExtensions` on spark-submit — the
 * standard deployment route for a multi-executor cluster (the north rule's
 * spark-submit path). It injects the same [[GraftFunctions.sqlFunctions]]
 * table `GraftFunctions.registerAll` installs per-session.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.sqlFunctions.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(graft.functions.Kernels.getClass.getName, name), builder))
    }
}
