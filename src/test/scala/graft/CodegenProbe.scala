package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/**
 * Janino compiles per daemon cycle: one cold and two warm cycles of
 * DaemonSpec's fixture in one `local[4]` session, each bracketed by the
 * compile count of Spark's `CodegenMetrics`. A warm cycle that
 * generates more distinct classes than `spark.sql.codegen.cache.maxEntries`
 * (default 100) recompiles them every cycle. Prints one line per cycle:
 *
 *   sbt "Test/runMain graft.CodegenProbe"
 */
object CodegenProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-codegen-probe")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.registerAll(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft-codegen-probe").toString
    val cold = DaemonSpec.cycleOpts(dir)
    val cycles = Seq(
      "cold" -> cold,
      "warm" -> cold.copy(rev = 1, now = DaemonSpec.flipNow),
      "warm" -> cold.copy(now = java.sql.Timestamp.valueOf("2026-01-17 00:00:00")))
    try cycles.foreach { case (label, opts) =>
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      Daemon.run(spark, opts)
      val s = (System.nanoTime() - t0) / 1e9
      val n = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles
      println(f"codegen-probe $label cycle: $n compiles in $s%.1f s")
    } finally spark.stop()
  }
}
