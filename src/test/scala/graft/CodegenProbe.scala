package graft

import scala.collection.mutable
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/**
 * Janino compiles per daemon cycle, in the shape of perfbench's
 * `daemon_cycle`: `Daemon.run` over its ten sites at `--limit 30 --scale
 * 1000`, revs alternating from 0, in one `local[4]` session, each cycle
 * followed by the two checks the benchmark runs after it (the events tally
 * collect and `schedule.count()`), whose classes share the cache. A cycle
 * that generates more distinct classes than Spark's codegen cache holds
 * (`spark.sql.codegen.cache.maxEntries`, 100 by default, in 4 segments of
 * 25) recompiles them every cycle.
 *
 * Prints one line per cycle (its compiles and Spark jobs, the checks'
 * included), then its compiles per call site: a listener reads Spark's
 * `CodegenMetrics` at each SQL execution and job start and charges the
 * compiles since the previous reading to that previous work's call site
 * (the listener bus delivers late, so a count can slip to a neighbour).
 * The optional argument is the cycle count (default 6):
 *
 *   sbt "Test/runMain graft.CodegenProbe [cycles]"
 */
object CodegenProbe {

  /** perfbench's `DaemonCycle.Sites`: one site per crawl family, a
    * co-hosted board pair and the calendar. */
  val Sites = Seq("cse.ssu.ac.kr/bachelor", "cse.ssu.ac.kr/graduate",
    "bioinfo.ssu.ac.kr", "scatch.ssu.ac.kr", "biz.ssu.ac.kr", "ssfilm.ssu.ac.kr",
    "media.ssu.ac.kr", "study.ssu.ac.kr", "path.ssu.ac.kr", "ssu-academic-calendar")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Compiles charged to call sites, in the order the sites first ran. */
  private final class BySite extends SparkListener {
    private val sites = mutable.LinkedHashMap.empty[String, Long]
    private val execSites = mutable.HashMap.empty[Long, String]
    private var site = "(before the first job)"
    private var mark = compiles
    @volatile var events = 0L
    @volatile var jobs = 0L

    private def enter(next: String): Unit = synchronized {
      val now = compiles
      sites(site) = sites.getOrElse(site, 0L) + now - mark
      site = next; mark = now; events += 1
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        synchronized(execSites(s.executionId) = s.description)
        enter(s.description)
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      val name = exec.flatMap(id => synchronized(execSites.get(id.toLong)))
        .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse("?")
      jobs += 1
      enter(s"job of $name")
    }

    /** The cycle's tally, once the bus has delivered everything posted. */
    def drain(): Seq[(String, Long)] = {
      var last = -1L; var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        if (events == last) stable += 1 else { stable = 0; last = events }
      }
      enter("(after the cycle)")
      synchronized {
        val out = sites.toSeq.filter(_._2 > 0)
        sites.clear()
        out
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val cycles = args.headOption.fold(6)(_.toInt)
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
    val listener = new BySite
    spark.sparkContext.addSparkListener(listener)
    listener.drain()
    try (0 until cycles).foreach { i =>
      val opts = Daemon.Options(out = s"$dir/out", cache = s"$dir/cache",
        limit = 30, scale = 1000, rev = i % 2, include = Sites)
      val (c0, j0) = (compiles, listener.jobs)
      val t0 = System.nanoTime()
      val res = Daemon.run(spark, opts)
      val runS = (System.nanoTime() - t0) / 1e9
      res.pipeline.events.groupBy("event").count().collect()
      res.pipeline.schedule.count()
      val bySite = listener.drain()
      println(f"codegen-probe cycle $i (rev ${i % 2}): ${compiles - c0} compiles, " +
        f"${listener.jobs - j0} jobs, Daemon.run $runS%.1f s")
      bySite.foreach { case (s, n) => println(f"codegen-probe   $n%4d  $s") }
    } finally spark.stop()
  }
}
