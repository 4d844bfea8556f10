package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, SimpleFunctionRegistry}

/** Reach into `SparkSessionExtensions.registerFunctions` (`private[sql]`):
  * the functions a set of extensions injects into a new session, in an
  * otherwise empty registry (no Spark built-ins). */
object ExtensionsProbe {
  def injectedFunctions(ext: SparkSessionExtensions => Unit): FunctionRegistry = {
    val e = new SparkSessionExtensions
    ext(e)
    e.registerFunctions(new SimpleFunctionRegistry)
  }
}
