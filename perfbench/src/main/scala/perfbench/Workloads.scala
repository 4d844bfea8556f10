package perfbench

import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import com.fasterxml.jackson.databind.JsonNode
import graft.crawl.{Crawl, UrlGrammar}
import graft.functions.GraftFunctions

/** Wraps exactly the timed call of one operation into the program. */
trait Call {
  def apply[T](name: String)(f: => T): T
}

/** One benchmark workload: a fixed operation run repeatedly on inputs drawn
  * from the seed. `op` returns None when the operation's outputs match the
  * recorded reference, else a description of the mismatch. */
trait Workload {
  /** Operations run (and checked) before timing starts. */
  def warmupOps: Int
  /** Nominal seconds of one warm operation on a 4-core host: sizes the
    * timed phase so that a run measures about `--seconds`. */
  def nominalOpS: Double
  def op(i: Int, call: Call): Option[String]
  /** Frontier URLs the last operation scheduled. */
  def lastUrls: Long
  /** Crawl lineage of the last operation. */
  def lastLineage: DataFrame
  /** Frontier coordinates of the last operation and the (scale, rev) they
    * were generated at: the kernel input. */
  def lastFrontier: (DataFrame, Long, Int)
  /** Output-path fragment -> trace phase for the program's own writes. */
  def outputDirs: Seq[(String, String)]
}

object Workloads {
  val Names = Seq("crawl_bulk", "daemon_cycle")

  def apply(name: String, spark: SparkSession, seed: Long, work: String,
      ref: JsonNode): Workload = name match {
    case "crawl_bulk" => new CrawlBulk(spark, seed, ref.path("crawl_bulk"))
    case "daemon_cycle" => new DaemonCycle(spark, seed, work, ref.path("daemon_cycle"))
  }

  /** Frontier coordinates back from a schedule, with the URL the crawl
    * scheduled: with the up-front pagination fan-out every depth-0 row is a
    * list page and every deeper row a post link. */
  def coordinates(schedule: DataFrame): DataFrame =
    schedule.select(col("site_id"),
      when(col("depth") === 0, lit("list")).otherwise(lit("post")).as("kind"),
      col("page"), col("row"), col("url").as("scheduled_url"))
}

/**
 * `crawl_bulk`: `Crawl.runFrom` over the whole 54-site Zipf fleet, timed from
 * the call to the materialized schedule. The seed permutes the seed-list rows
 * and which partition each arrives in; the crawl order and seen set
 * must not depend on either, so every crawl's fingerprint must equal the
 * recorded one.
 */
final class CrawlBulk(spark: SparkSession, seed: Long, ref: JsonNode) extends Workload {
  import spark.implicits._

  private val cfg = Crawl.Config(scale = CrawlBulk.Scale, limitPerSite = CrawlBulk.Limit)
  private val seedRows = Crawl.seeds(spark, cfg).collect().toSeq
  private val rnd = new Random(seed)
  private val cores = spark.sparkContext.defaultParallelism
  private var last: Crawl.Result = _

  val warmupOps = 2
  val nominalOpS = 3.5
  def lastUrls: Long = last.schedule.count()
  def lastLineage: DataFrame = last.lineage
  def lastFrontier: (DataFrame, Long, Int) =
    (Workloads.coordinates(last.schedule), cfg.scale, cfg.rev)
  val outputDirs: Seq[(String, String)] = Nil

  def op(i: Int, call: Call): Option[String] = {
    // shuffled rows cut into the production partition count: the seed
    // decides which rows share a partition, not how many partitions there are
    val frontier0 = spark.sparkContext.parallelize(rnd.shuffle(seedRows), cores).toDF()
    val seen0 = Seq.empty[(Long, Int)].toDF("url_hash", "first_wave")
    val posts0 = spark.emptyDataset[graft.model.Post].toDF()
    last = call("crawl_bulk.runFrom") {
      val r = Crawl.runFrom(spark, cfg, frontier0, wave0 = 0, seen0, posts0,
        schedule0 = None, lineage0 = None)
      r.schedule.count()
      r
    }
    val got = CrawlBulk.fingerprint(last.schedule, last.seen)
    val want = CrawlBulk.FingerprintFields.map(f => f -> ref.path(f).asLong())
    if (got == want) None else Some(s"fingerprint ${Json.obj(got)} != ${Json.obj(want)}")
  }
}

object CrawlBulk {
  val Scale = 30000L
  val Limit = 10000L
  val FingerprintFields = Seq("schedule_hash", "schedule_rows", "seen_hash", "seen_rows")

  /** Crawl fingerprint: every schedule row hashed together with the slot
    * the crawl gave it (wave, politeness-clock time), so any change of crawl
    * order changes the sum, plus the seen set hashed orderlessly. `url_hash`
    * is the hash of the canonical URL, so the derived URL columns need not
    * be rebuilt. Hashes are folded to 32 bits before summing so the sums
    * cannot overflow. */
  def fingerprint(schedule: DataFrame, seen: DataFrame): Seq[(String, Long)] = {
    def h32(cs: String*) = sum(shiftrightunsigned(xxhash64(cs.map(col): _*), 32))
    val s = schedule.select(h32("wave", "ready_ms", "site_id", "page", "row", "url_hash"),
      count(lit(1))).head()
    val n = seen.select(h32("url_hash"), count(lit(1))).head()
    FingerprintFields.zip(Seq(s.getLong(0), s.getLong(1), n.getLong(0), n.getLong(1)))
  }
}

/**
 * `daemon_cycle`: a closed loop of `Daemon.run` cycles against one
 * persistent cache, alternating rev 0 and rev 1 of the synthetic web, at the
 * production `--limit 30 --scale 1000`. The seed permutes the include-site
 * order. Each cycle's event tallies must equal the recorded ones for its
 * position: the cold first run, the first rev flip, every later flip.
 */
final class DaemonCycle(spark: SparkSession, seed: Long, work: String, ref: JsonNode)
    extends Workload {
  private val rnd = new Random(seed)
  private val out = s"$work/daemon/out"
  private val cache = s"$work/daemon/cache"
  private var last: graft.Daemon.RunResult = _
  private var lastRev = 0

  val warmupOps = 2
  val nominalOpS = 10.0
  def lastUrls: Long = last.pipeline.schedule.count()
  def lastLineage: DataFrame = last.pipeline.lineage
  def lastFrontier: (DataFrame, Long, Int) =
    (Workloads.coordinates(last.pipeline.schedule), DaemonCycle.Scale, lastRev)
  val outputDirs: Seq[(String, String)] = Seq(cache -> "cache_write", out -> "sinks")

  def op(i: Int, call: Call): Option[String] = {
    lastRev = i % 2
    val opts = graft.Daemon.Options(out = out, cache = cache, limit = DaemonCycle.Limit,
      scale = DaemonCycle.Scale, rev = lastRev, include = rnd.shuffle(DaemonCycle.Sites))
    last = call("daemon_cycle.Daemon.run")(graft.Daemon.run(spark, opts))
    val tallies = last.pipeline.events.groupBy("event").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val key = if (i == 0) "cold" else if (i == 1) "first_flip" else "flip"
    val want = ref.path(key).properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
    if (last.failedSites.nonEmpty) Some(s"failed sites: ${last.failedSites.keys.mkString(",")}")
    else if (tallies != want) Some(s"$key tallies ${Json.obj(tallies.toSeq)} != ${Json.obj(want.toSeq)}")
    else None
  }
}

object DaemonCycle {
  val Limit = 30L
  val Scale = 1000L
  /** One site per crawl family, plus two boards that share a host (one
    * politeness bucket) and the calendar, which shares the hottest host. */
  val Sites = Seq(
    "cse.ssu.ac.kr/bachelor", "cse.ssu.ac.kr/graduate", // gnuboard, co-hosted
    "bioinfo.ssu.ac.kr",                                // wordpress
    "scatch.ssu.ac.kr",                                 // ssucatch, Zipf rank 1
    "biz.ssu.ac.kr",                                    // offset
    "ssfilm.ssu.ac.kr",                                 // cursor
    "media.ssu.ac.kr",                                  // api
    "study.ssu.ac.kr",                                  // lz
    "path.ssu.ac.kr",                                   // auth (SSO)
    "ssu-academic-calendar")                            // calendar
}

/** Rows per second of the URL kernels (graft.functions / UrlGrammar) over a
  * workload's own frontier coordinates, replicated to a fixed row count. */
object KernelRates {
  private val Rows = 1000000L
  private val Reps = 3

  def apply(spark: SparkSession, coords: DataFrame, scale: Long, rev: Int): Map[String, Double] = {
    val rebuilt = UrlGrammar.rebuild_url(col("site_id"), col("kind"), col("page"), col("row"),
      scale, rev)
    val base = coords.withColumn("url", rebuilt).cache()
    val baseRows = base.count()
    val wrong = base.filter(col("url") =!= col("scheduled_url")).count()
    require(wrong == 0, s"$wrong of $baseRows rebuilt URLs differ from the scheduled ones")
    val copies = (Rows + baseRows - 1) / baseRows
    val input = base.drop("scheduled_url")
      .crossJoin(spark.range(copies).withColumnRenamed("id", "_copy")).drop("_copy").repartition(2 * spark.sparkContext.defaultParallelism).cache()
    val rows = input.count()
    def rate(c: Column): Double = {
      val secs = (1 to Reps).map { _ =>
        val t0 = System.nanoTime()
        input.select(c.as("k")).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      rows / secs(Reps / 2)
    }
    try Map(
      "kernel.url_rebuild_rows_per_s" -> rate(rebuilt),
      "kernel.url_canonicalize_rows_per_s" -> rate(GraftFunctions.url_canonicalize(col("url"))),
      "kernel.url_host_rows_per_s" -> rate(GraftFunctions.url_host(col("url"))))
    finally { input.unpersist(); base.unpersist() }
  }
}
