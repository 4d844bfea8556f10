package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for the whole test JVM. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.registerAll(s)
    s
  }
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** Listener buses deliver asynchronously: wait until `count`, a tally
    * a listener keeps, has not moved for three 100 ms polls. */
  protected def awaitQuiet(count: => Long): Unit = {
    var last = -1L; var stable = 0
    while (stable < 3) {
      Thread.sleep(100)
      val v = count
      if (v == last) stable += 1 else { stable = 0; last = v }
    }
  }

  /** The whole-stage code of every query `f` runs: the generated sources
    * Spark compiles and keys its codegen cache by. */
  protected def wholeStageCode(f: => Unit): Set[String] = {
    val bodies = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
      def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
        collect(qe.executedPlan) { case w: WholeStageCodegenExec => w.doCodeGen()._2.body }
          .foreach(bodies.add)
      def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { f; awaitQuiet(bodies.size.toLong) }
    finally spark.listenerManager.unregister(listener)
    bodies.asScala.toSet
  }
}
