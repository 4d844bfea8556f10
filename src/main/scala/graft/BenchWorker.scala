package graft

/**
 * One pinned scaling measurement: [[Bench]] launches this main in a FRESH
 * JVM under `taskset -c 0-(N-1)` with `-XX:ActiveProcessorCount=N`, so the
 * advertised core count bounds EVERY thread the measurement uses —
 * executor tasks, GC, JIT, shuffle IO. Without pinning, a `local[2]`
 * session still runs its GC/JIT on all host cores, inflating the low-N
 * baseline and understating the true N -> 4N scaling of the engine.
 *
 * Protocol: warm up (JIT + codegen) on a small crawl, run ONE timed crawl
 * at the requested scale, print a single machine-readable line:
 *   BENCHWORKER <secs> <fp1> <fp2> <fp3> <fp4> <urls>
 */
object BenchWorker {

  /** Pure-ALU burn: `threads` threads each do FIXED work, so perfect
    * scaling = flat wall time; the low/high wall-time ratio is the host's
    * attainable scaling at this moment (the calibration the crawl's
    * efficiency is read against). */
  private def burn(threads: Int): Double = {
    val iters = 2000000000L
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { s =>
      val t = new Thread(() => {
        var x = s + 1L
        var k = 0L
        while (k < iters) { x = x * 6364136223846793005L + 1442695040888963407L; k += 1 }
        if (x == 42L) print("")
      })
      t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Memory-bandwidth burn: `threads` threads each stream FIXED passes over
    * their own 128 MB array. Perfect scaling = flat wall time; the low/high
    * ratio calibrates the MEMORY subsystem — the resource Spark's
    * shuffle/scan stages actually contend on (the ALU burn can read ~1.0
    * while this reads far lower on a bandwidth-starved host). */
  private def memBurn(threads: Int): Double = {
    val words = 16 * 1024 * 1024 // 128 MB of longs per thread
    val passes = 16
    val arrays = Array.fill(threads)(new Array[Long](words))
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { s =>
      val t = new Thread(() => {
        val a = arrays(s)
        var p = 0
        while (p < passes) {
          var i = 0
          while (i < words) { a(i) = a(i) * 3L + 1L; i += 1 }
          p += 1
        }
        if (a(0) == 42L) print("")
      })
      t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    if (args(0) == "burn") {
      // median of 3 membw trials: a single stream pass is a high-variance
      // instrument (observed 2x swings probe-to-probe under co-tenant
      // traffic), and the quiet gate reads the low/high RATIO of these —
      // the median tracks the host state, not one trial's collision
      val alu = burn(args(1).toInt)
      val ms = Seq.fill(3)(memBurn(args(1).toInt)).sorted
      println(f"BENCHBURN $alu%.3f ${ms(1)}%.3f")
      return
    }
    val cpus = args(0).toInt
    val scale = args(1).toLong
    val limit = args(2).toLong
    val spark = Bench.session(cpus, aqeDefault = "false")
    try {
      Bench.crawlOnce(spark, scale = 30000, limit = 10000) // warmup
      spark.catalog.clearCache()
      System.gc()
      val (secs, fp, urls, cpuSecs) = Bench.crawlOnce(spark, scale, limit)
      println(f"BENCHWORKER $secs%.3f ${fp._1} ${fp._2} ${fp._3} ${fp._4} $urls $cpuSecs%.2f")
    } finally spark.stop()
  }
}
