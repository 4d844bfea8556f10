package graft.crawl

import scala.jdk.CollectionConverters._
import graft.SparkSuite
import org.apache.spark.sql.functions._

/** The wave counts are observed on the stage-out and links writes. The
  * lineage tallies and snapshot row counts below were recorded when each
  * wave still counted its staged and discovered rows with separate jobs;
  * the observed counts must reproduce them exactly. */
class WaveCountsSpec extends SparkSuite {

  /** Per wave: scheduled, deduped, sum of fetched. */
  private def tally(r: Crawl.Result): String =
    r.lineage.groupBy("wave").agg(first("scheduled"), first("deduped"), sum("fetched"))
      .orderBy("wave").collect().map(_.mkString(",")).mkString(";")

  /** Per committed snapshot version, from its manifest: the frontier rows
    * (its links) and the schedule rows (the staged rows of its waves). */
  private def rowCounts(dir: String): String =
    Snapshots.versions(dir).map { v =>
      val manifest = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$dir/snapshots/v$v/manifest.json"))
      val n = graft.sinks.SiteJson.mapper.readTree(manifest)
      val staged = n.path("waves").elements().asScala.map(_.path("staged").asLong()).sum
      s"${n.path("links").asLong()},$staged"
    }.mkString(";")

  private def crawl(cfg: Crawl.Config): (Crawl.Result, String) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-wave-counts").toString
    val r = Crawl.run(spark, cfg.copy(snapshotDir = Some(dir)))
    (r, rowCounts(dir))
  }

  private val two = Seq("biz.ssu.ac.kr", "bioinfo.ssu.ac.kr")

  test("a snapshot crawl starts as many Spark jobs as the same crawl without a snapshot dir") {
    val walk = Crawl.Config(scale = 60, limitPerSite = 20, include = two,
      probePagination = false)
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def jobsOf(cfg: Crawl.Config): Long = {
      awaitQuiet(jobs.get)
      val before = jobs.get
      Crawl.run(spark, cfg).schedule.count()
      awaitQuiet(jobs.get)
      jobs.get - before
    }
    spark.sparkContext.addSparkListener(listener)
    val (plain, snapshot) = try {
      val dir = java.nio.file.Files.createTempDirectory("graft-snap-jobs").toString
      (jobsOf(walk), jobsOf(walk.copy(snapshotDir = Some(dir))))
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(plain > 0)
    assert(snapshot === plain)
  }

  test("a snapshot crawl starts no count job from Snapshots") {
    // a query execution is described by its action's call site (its jobs
    // are not: adaptive query stages start them from another thread)
    val counts = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
              if s.description.startsWith("count at Snapshots.scala") =>
            counts.add(s.description)
          case _ =>
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val (_, rows) = try {
      val r = crawl(Crawl.Config(scale = 60, limitPerSite = 20, include = two,
        probePagination = false))
      awaitQuiet(counts.size.toLong)
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(rows === "22,2;12,24;0,36")
    assert(counts.isEmpty, counts)
  }

  test("observed counts: fleet crawl whose last wave discovers no links") {
    val (r, counts) = crawl(Crawl.Config(scale = 200, limitPerSite = 50))
    assert(tally(r) === "0,86,0,86;1,717,3,714")
    assert(counts === "717,86;0,800")
  }

  test("observed counts: sequential page walk over three waves") {
    val (r, counts) = crawl(Crawl.Config(scale = 60, limitPerSite = 20, include = two,
      probePagination = false))
    assert(tally(r) === "0,2,0,2;1,22,0,22;2,12,0,12")
    assert(counts === "22,2;12,24;0,36")
  }

  test("observed counts: every site fails its post wave") {
    val (r, counts) = crawl(Crawl.Config(scale = 60, limitPerSite = 20,
      include = Seq("biz.ssu.ac.kr"), faults = Map(("biz.ssu.ac.kr", 1) -> 3)))
    assert(r.failedSites.keySet === Set("biz.ssu.ac.kr"))
    assert(tally(r) === "0,2,0,2;1,20,0,20")
    assert(counts === "20,2;0,22")
  }

  test("observed counts: every site fails wave 0, so the links write has no input") {
    val (r, counts) = crawl(Crawl.Config(scale = 60, limitPerSite = 20, include = two,
      faults = two.map(s => (s, 0) -> 3).toMap))
    assert(r.failedSites.keySet === two.toSet)
    assert(tally(r) === "0,4,0,4")
    assert(counts === "0,4")
    assert(r.posts.count() === 0)
  }
}
