package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * The benchmark's JVM side; `perfbench/run.py` builds the classpath and
 * starts it. One run: start a Spark session, warm the workload up, time a
 * fixed number of its operations (sized so that they take about
 * `--seconds`), check every operation's output, and print one JSON result
 * line last.
 *
 * Untraced runs (`--trace 0`) report the end-to-end metrics. Traced runs
 * (`--trace 1`) alternate traced and untraced operations: the traced ones
 * give the per-layer metrics, the pair gives the tracing overhead.
 */
object Main {
  /** Timed operations per run, at least, whatever `--seconds` says: the
    * median of three is robust to one disturbed operation. */
  private val MinOps = 3

  private final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, reference: String, spans: String, gitSha: String)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), need("reference"), need("spans"),
      m.getOrElse("git-sha", "unknown"))
    require(Workloads.Names.contains(a.workload),
      s"unknown workload ${a.workload}; expected one of ${Workloads.Names.mkString(", ")}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  private def procCpuNs: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** (all, stolen) CPU ticks of the whole host, from /proc/stat: steal is
    * time the hypervisor ran someone else on this machine's CPUs. */
  private def hostTicks: (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).split("\\s+").drop(1).map(_.toLong)
    (f.take(8).sum, if (f.length > 7) f(7) else 0L)
  }

  /** High-water resident set size of this JVM, in MB. */
  private def peakRssMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).getOrElse(throw new IllegalStateException("no VmHWM"))
    line.split("\\s+")(1).toDouble / 1024
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  private def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.registerAll(s)
    s
  }

  private final class Timed(trace: Option[Trace]) extends Call {
    var wallS = 0.0; var cpuS = 0.0; var stealFrac = 0.0; var urls = 0L; var span: Option[OpSpan] = None
    def apply[T](name: String)(f: => T): T = {
      val (all0, steal0) = hostTicks
      val cpu0 = procCpuNs; val t0 = System.nanoTime()
      val r = trace match {
        case Some(t) => val (r, s) = t.op(name)(f); span = Some(s); r
        case None => f
      }
      wallS = (System.nanoTime() - t0) / 1e9
      cpuS = (procCpuNs - cpu0) / 1e9
      val (all1, steal1) = hostTicks
      stealFrac = if (all1 > all0) (steal1 - steal0).toDouble / (all1 - all0) else 0.0
      r
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(cores, a.work)
    val ref = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(a.reference))
    val w = Workloads(a.workload, spark, a.seed, a.work, ref)

    val memMb = Files.readAllLines(Paths.get("/proc/meminfo")).toArray.map(_.toString)
      .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong / 1024).getOrElse(-1L)
    println("host " + Json.obj(Seq(
      "nproc" -> cores, "mem_total_mb" -> memMb,
      "jdk" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
      "spark" -> spark.version, "git_sha" -> a.gitSha,
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "session_conf" -> ListMap(spark.conf.getAll.toSeq.sortBy(_._1): _*))))

    var attempted = 0
    var failed = 0
    var broken = false // an operation threw: the session state is unknown, stop
    def attempt(i: Int, t: Timed, phase: String): Unit = {
      attempted += 1
      val t0 = System.nanoTime()
      val res =
        try { val r = w.op(i, t); t.urls = w.lastUrls; r }
        catch { case e: Throwable => broken = true; Some(s"threw $e") }
      val checkS = (System.nanoTime() - t0) / 1e9 - t.wallS
      res.foreach(_ => failed += 1)
      println(f"$phase op=$i wall_s=${t.wallS}%.3f cpu_s=${t.cpuS}%.3f " +
        f"steal=${t.stealFrac}%.3f check_s=$checkS%.3f urls=${t.urls} " +
        res.fold("ok")(m => s"FAILED $m"))
    }

    var i = 0
    while (i < w.warmupOps && !broken) { attempt(i, new Timed(None), "warmup"); i += 1 }
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val trace = if (a.trace) Some(new Trace(spark.sparkContext)) else None
    // a fixed count, not a deadline: every run times the same operations at
    // the same point of the JVM's warm-up
    val timedOps = math.max(MinOps, math.round(a.seconds / w.nominalOpS).toInt)
    val timed = scala.collection.mutable.ArrayBuffer.empty[Timed]
    while (!broken && timed.size < timedOps) {
      // traced runs alternate: even operations traced, odd ones not
      val tr = trace.filter(_ => timed.size % 2 == 0)
      tr.foreach(spark.sparkContext.addSparkListener)
      val t = new Timed(tr)
      attempt(i, t, if (tr.isDefined) "traced" else "timed")
      tr.foreach { x => x.flush(); spark.sparkContext.removeSparkListener(x) }
      timed += t; i += 1
    }

    val metrics: Seq[(String, Double, String)] =
      if (broken || timed.isEmpty) Nil
      else trace match {
        case None => Seq(
          ("setup_s", setupS, "s"),
          ("op_p50_s", median(timed.map(_.wallS).toSeq), "s"),
          ("frontier_urls_per_s", median(timed.map(t => t.urls / t.wallS).toSeq), "urls/s"))
        case Some(tr) => layerMetrics(spark, w, tr, timed.toSeq, cores, a.spans)
      }
    println(f"summary workload=${a.workload} seed=${a.seed} timed_ops=${timed.size} " +
      f"op_cpu_s=${if (timed.isEmpty) 0.0 else median(timed.map(_.cpuS).toSeq)}%.3f " +
      f"peak_rss_mb=$peakRssMb%.1f failed_frac=${failed.toDouble / attempted}%.4f")
    spark.stop()
    println(Json.obj(Seq(
      "correct" -> (failed == 0 && !broken),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> ListMap(metrics.map { case (k, v, u) => k -> ListMap("value" -> v, "unit" -> u) }: _*))))
  }

  private def layerMetrics(spark: SparkSession, w: Workload, tr: Trace, ops: Seq[Timed],
      cores: Int, spansPath: String): Seq[(String, Double, String)] = {
    val traced = ops.filter(_.span.isDefined)
    val untraced = ops.filter(_.span.isEmpty)
    val layers = tr.layers(traced.flatMap(_.span).map(_.id).toSet, cores, w.outputDirs)
    tr.dump(Paths.get(spansPath))
    val perWave = w.lastLineage.groupBy("wave")
      .agg(first("scheduled").as("scheduled"), first("deduped").as("deduped"))
      .agg(count(lit(1)), sum("scheduled"), sum("deduped")).head()
    val scheduled = perWave.getLong(1).toDouble
    val (coords, scale, rev) = w.lastFrontier
    val kernels = KernelRates(spark, coords, scale, rev)
    val overhead =
      if (untraced.isEmpty) 0.0
      else median(traced.map(_.wallS)) - median(untraced.map(_.wallS))
    val unit: String => String = {
      case k if k.endsWith("_rows_per_s") => "rows/s"
      case k if k.endsWith("_s") => "s"
      case k if k.endsWith("_bytes") => "bytes"
      case k if k.endsWith("_mb") => "MB"
      case k if k.endsWith("_share") || k.endsWith("_frac") || k.endsWith("_ratio") || k.endsWith("_max") => "ratio"
      case _ => "count"
    }
    val all = layers ++ kernels ++ Map(
      "crawl.waves" -> perWave.getLong(0).toDouble,
      "crawl.urls_scheduled" -> scheduled,
      "crawl.dedup_ratio" -> (if (scheduled <= 0) 0.0 else perWave.getLong(2) / scheduled),
      "jvm.peak_rss_mb" -> peakRssMb,
      "jvm.cpu_s" -> median(traced.map(_.cpuS)),
      "host.steal_frac" -> median(ops.map(_.stealFrac)),
      "trace.overhead_s" -> overhead)
    all.toSeq.sortBy(_._1).map { case (k, v) => (k, v, unit(k)) }
  }
}
