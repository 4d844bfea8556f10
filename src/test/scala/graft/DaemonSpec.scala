package graft

import graft.SparkSuite
import org.apache.spark.sql.functions._

object DaemonSpec {

  /** A small fixture cycle: every crawl family shape the sinks render —
    * boards, a co-hosted pair, a rev-1 content drift (biz id 17 lies in
    * its limit-20 window) and the calendar. */
  def cycleOpts(dir: String): Daemon.Options = Daemon.Options(out = s"$dir/out",
    cache = s"$dir/cache", limit = 20, scale = 60,
    include = Seq("scatch.ssu.ac.kr", "biz.ssu.ac.kr", "cse.ssu.ac.kr/bachelor",
      "cse.ssu.ac.kr/graduate", "bioinfo.ssu.ac.kr", "ssu-academic-calendar"))
  val flipNow: java.sql.Timestamp = java.sql.Timestamp.valueOf("2026-01-16 00:00:00")
}

class DaemonSpec extends SparkSuite {
  import DaemonSpec._

  private def sha256(parts: Array[Byte]*): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(d.update)
    d.digest().map("%02x".format(_)).mkString
  }

  /** Digests of what a cycle leaves behind: the bytes of every sink file
    * (keyed by its site directory — Spark's part-file names carry a job
    * UUID) and the cache rows, ordered by site, rank and id. */
  private def outputDigests(dir: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    def tree(sub: String): String = {
      val root = java.nio.file.Paths.get(s"$dir/out/$sub")
      val walk = java.nio.file.Files.walk(root)
      val files = try walk.iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p))
        .filterNot(p => Seq("_", ".").exists(p.getFileName.toString.startsWith))
        .map(p => (root.relativize(p.getParent).toString,
          java.nio.file.Files.readAllBytes(p)))
        .toSeq finally walk.close()
      sha256(files.sortBy { case (d, b) => (d, new String(b, "UTF-8")) }
        .flatMap { case (d, b) => Seq((d + "\n").getBytes("UTF-8"), b) }: _*)
    }
    def file(rel: String) = sha256(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/out/$rel")))
    val cache = spark.read.parquet(s"$dir/cache")
    val rows = cache.select(col("site_id"), col("rank"), col("id"),
        to_json(struct(cache.columns.map(col): _*)))
      .orderBy("site_id", "rank", "id").collect().map(_.getString(3))
    Map("sites" -> tree("sites"), "rss" -> tree("rss"),
      "calendar.ics" -> file("calendar.ics"), "SUMMARY.md" -> file("reports/SUMMARY.md"),
      "cache" -> sha256(rows.mkString("\n").getBytes("UTF-8")))
  }

  test("a cold cycle and a rev flip write the recorded sink bytes and cache rows") {
    // recorded from the daemon before its sinks rendered in one pass, the
    // merge ranked inserts from the cache max and the report collected once
    val dir = java.nio.file.Files.createTempDirectory("graft-daemon-digest").toString
    val opts = cycleOpts(dir)
    Daemon.run(spark, opts)
    assert(outputDigests(dir) === ColdDigests)
    val flip = Daemon.run(spark, opts.copy(rev = 1, now = flipNow))
    val tallies = flip.pipeline.events.groupBy("event").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tallies === FlipTallies)
    assert(outputDigests(dir) === FlipDigests)
  }

  test("a warm daemon cycle runs a bounded number of Spark jobs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-daemon-jobs").toString
    val opts = cycleOpts(dir)
    Daemon.run(spark, opts)
    // jobs are tagged through a local property of this thread, which Spark
    // hands on to the broadcast and query-stage work it starts for it
    val key = "graft.test.cycle"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(key) == tag) jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setLocalProperty(key, tag)
      try Daemon.run(spark, opts.copy(rev = 1, now = flipNow))
      finally spark.sparkContext.setLocalProperty(key, null)
      awaitQuiet(jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get > 0 && jobs.get <= MaxWarmCycleJobs, s"${jobs.get} jobs")
  }

  private val ColdDigests = Map(
    "sites" -> "ed911301fdcc8c7c6a3d77cf030e17a5c23aebb108fdf92e5c8082625af05e85",
    "rss" -> "b87979145475c1a0dfa85096a34951711732afcac90741cf8abc1fb51eb8a241",
    "calendar.ics" -> "88d16c3c450b4f7232b5b8fcc5de14fe05c2fe44140b7eb17ff53dc6bf369d57",
    "SUMMARY.md" -> "0c02e906d229519f2014034b0cb854844091e15c1f0379bc2e2ebd727455a9bd",
    "cache" -> "d7c3c614a93b414002f8868193857e831fb2c7bcf8dd97d7bedf270e9574912f")
  private val FlipTallies = Map("crawl_success" -> 6L, "post_created" -> 2L, "post_updated" -> 2L)
  private val FlipDigests = Map(
    "sites" -> "21cb5a784f8082583e93765e6052f853cee534179348f257bdfd2a2ceafd9ea0",
    "rss" -> "22e37769961d6fab4aa345e2ab3f97570cc42e2ebadaa9b5415c6b869ee8e9e1",
    "calendar.ics" -> "88d16c3c450b4f7232b5b8fcc5de14fe05c2fe44140b7eb17ff53dc6bf369d57",
    "SUMMARY.md" -> "299a1023472c302bafec82f8347db87ea404ce268015e90d1d377c33c880d2e0",
    "cache" -> "12853850c45db65ea4ae5222ef2ebd011902f1a117a70b335f6861d6f40072e4")
  // the same cycle ran 69 jobs before the merge batch was staged once,
  // the feeds rendered in one pass and the driver-consumed sorts went,
  // 2 more before the crawl lineage became one aggregation, and 4 more
  // before the cache reads took their known schema and the calendar
  // merge sorted in place, and 3 more before the reports rendered from
  // one events collect and the merge's insert order lost its exchange,
  // and 7 more before the merge became one per-site pass
  private val MaxWarmCycleJobs = 28

  test("CLI option parsing mirrors the reference (mutually exclusive include/exclude)") {
    val o = Daemon.parseArgs(Array("--out", "/tmp/o", "--limit", "30",
      "--include", "a.ssu.ac.kr,b.ssu.ac.kr", "--scale", "100"))
    assert(o.limit === 30 && o.include.size === 2)
    intercept[IllegalArgumentException] {
      Daemon.parseArgs(Array("--include", "a", "--exclude", "b"))
    }
    intercept[IllegalArgumentException] {
      Daemon.parseArgs(Array("--bogus", "x"))
    }
  }

  test("daemon run end-to-end: filtered crawl, merge, sinks on disk") {
    val dir = java.nio.file.Files.createTempDirectory("graft-daemon").toString
    val opts = Daemon.Options(out = s"$dir/out", cache = s"$dir/cache",
      limit = 10, scale = 60,
      include = Seq("scatch.ssu.ac.kr", "biz.ssu.ac.kr", "cse.ssu.ac.kr/bachelor",
        "ssu-academic-calendar"))
    val res = Daemon.run(spark, opts)
    val out = res.pipeline
    assert(res.failedSites.isEmpty)

    // include filter applied (semi join)
    val sites = out.topPosts.select("site_id").distinct()
      .collect().map(_.getString(0)).toSet
    assert(sites.subsetOf(opts.include.toSet), sites.toString)
    assert(sites.contains("scatch.ssu.ac.kr"))

    // sinks landed
    assert(new java.io.File(s"$dir/out/sites").exists())
    assert(new java.io.File(s"$dir/out/rss").exists())
    assert(new java.io.File(s"$dir/out/calendar.ics").exists())
    val ics = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/out/calendar.ics"))
    assert(ics.startsWith("BEGIN:VCALENDAR"))

    // next-run cache persisted (site_id-partitioned) and usable
    val next = spark.read.parquet(s"$dir/cache")
    assert(next.count() === out.cache.count())
  }

  test("ALL preflights failing crawls NOTHING: cache untouched, pure error report") {
    val dir = java.nio.file.Files.createTempDirectory("graft-daemon-allfail").toString
    // seed a cache via a healthy run first
    val healthy = Daemon.Options(out = s"$dir/out", cache = s"$dir/cache",
      limit = 5, scale = 60, include = Seq("biz.ssu.ac.kr"))
    Daemon.run(spark, healthy)
    val cacheRows = spark.read.parquet(s"$dir/cache").count()
    // every selected site fails preflight: an empty survivor set must NOT
    // fall through to Config.include=Seq.empty (= crawl the whole fleet)
    val res = Daemon.run(spark, healthy.copy(out = s"$dir/out2",
      failSites = Seq("biz.ssu.ac.kr")))
    assert(res.failedSites.keySet === Set("biz.ssu.ac.kr"))
    assert(res.pipeline.topPosts.count() === 0)
    assert(spark.read.parquet(s"$dir/cache").count() === cacheRows, "cache must be untouched")
    assert(spark.read.json(s"$dir/out2/reports/error_report").count() === 1)
    val content = spark.read.json(s"$dir/out2/reports/content_report")
      .select("site_id", "event").collect().map(r => (r.getString(0), r.getString(1)))
    assert(content.toSeq === Seq(("biz.ssu.ac.kr", "crawl_failed")))
    val md = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/out2/reports/SUMMARY.md"))
    assert(md.contains("0 성공, **1 실패**"))
  }

  test("calendar cache ADVANCES across runs (rename-aside swap, no _next leftover)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-daemon-cal").toString
    val opts = Daemon.Options(out = s"$dir/out", cache = s"$dir/cache",
      limit = 5, scale = 60, include = Seq("ssu-academic-calendar"))
    Daemon.run(spark, opts)
    // the swap committed this run's calendar merge into the LIVE cache path
    // (count captured eagerly: the second run's swap replaces these files)
    val liveRows = spark.read.parquet(s"$dir/cache_calendar").count()
    assert(liveRows > 0)
    assert(!new java.io.File(s"$dir/cache_calendar_next").exists())
    // a second run reads the advanced snapshot and re-commits idempotently
    // (replace-in-range over the same synthetic year pages)
    Daemon.run(spark, opts.copy(
      now = java.sql.Timestamp.valueOf("2026-01-16 00:00:00")))
    assert(spark.read.parquet(s"$dir/cache_calendar").count() === liveRows)
  }

  test("daemon --publish: out/ + cache committed into the data repo with SUMMARY.md (K6)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-daemon-pub").toString
    val opts = Daemon.Options(out = s"$dir/out", cache = s"$dir/cache",
      limit = 10, scale = 60, publishRepo = Some(s"$dir/repo"),
      include = Seq("scatch.ssu.ac.kr", "biz.ssu.ac.kr"))
    Daemon.run(spark, opts)

    // the analyze-report step summary (action.yml:59-77)
    val md = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/out/reports/SUMMARY.md"))
    assert(md.startsWith("# 컨텐츠 업데이트"))
    assert(md.contains("2 성공, **0 실패**"))

    // the data repo holds out/* at the root and the cache under .cache/
    // (cp -rv ssufid/.cache/ . && cp -rv ssufid/out/* . — daemon.yml:129-131)
    val repo = java.nio.file.Paths.get(s"$dir/repo")
    val head = java.nio.file.Files.readString(repo.resolve(".graft/HEAD")).trim
    val commit = java.nio.file.Files.readString(
      repo.resolve(s".graft/commits/$head.json"))
    assert(commit.contains("\"update: 2026-01-15 09:00\"")) // Seoul clock
    assert(java.nio.file.Files.exists(repo.resolve("calendar.ics")))
    // reports are CI artifacts (uploaded, not committed — daemon.yml:95-101
    // vs 127-131): present in out/, excluded from the data repo
    assert(!java.nio.file.Files.exists(repo.resolve("reports")))
    assert(java.nio.file.Files.list(repo.resolve(".cache")).count() > 0)
    assert(java.nio.file.Files.list(repo.resolve("sites")).count() > 0)

    // a clean re-publish of the same outputs is "no changes to commit"
    val again = graft.sinks.Publish.publish(spark, s"$dir/repo",
      Seq("" -> opts.out, ".cache" -> opts.cache), opts.now,
      exclude = Seq("reports"))
    assert(!again.created && again.id == head)

    // the FULL cycle no-ops too: an identical second daemon run (fresh out
    // dir, rewritten cache partitions) publishes an identical tree —
    // part names are normalized (the Spark job UUID would otherwise make
    // every cycle a new commit) and reports are excluded like the
    // reference's CI (artifacts, not repo content)
    Daemon.run(spark, opts.copy(out = s"$dir/out_rerun",
      publishRepo = Some(s"$dir/repo"),
      now = java.sql.Timestamp.valueOf("2026-01-16 00:00:00")))
    val head2 = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/repo/.graft/HEAD")).trim
    assert(head2 === head, "identical rerun must be 'no changes to commit'")
  }

  test("incremental cache: a second run rewrites ONLY the crawled sites' partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-daemon-incr").toString
    // limit 20 so biz's crawl window (ids 30..11 at scale 60 / zipf 2)
    // covers id 17 — the deterministic rev-1 content-drift id
    val base = Daemon.Options(out = s"$dir/out", cache = s"$dir/cache",
      limit = 20, scale = 60,
      include = Seq("biz.ssu.ac.kr", "bioinfo.ssu.ac.kr"))
    Daemon.run(spark, base)

    def cacheFiles() = files(s"$dir/cache")
    val before = cacheFiles()
    assert(before.keys.exists(_.contains("site_id=biz.ssu.ac.kr")))
    assert(before.keys.exists(_.contains("site_id=bioinfo.ssu.ac.kr")))

    // second run crawls ONLY biz at rev 1 (content drift -> real updates)
    val res2 = Daemon.run(spark, base.copy(include = Seq("biz.ssu.ac.kr"), rev = 1,
      now = java.sql.Timestamp.valueOf("2026-01-16 00:00:00")))
    val after = cacheFiles()

    // bioinfo's partition files: byte-identical, not even re-stamped
    val bioBefore = before.filter(_._1.contains("site_id=bioinfo"))
    val bioAfter = after.filter(_._1.contains("site_id=bioinfo"))
    assert(bioBefore === bioAfter, "untouched site partition must not be rewritten")
    // biz's partition WAS rewritten (rev-1 drift creates/updates posts)
    assert(before.filter(_._1.contains("site_id=biz.ssu.ac.kr")) !==
      after.filter(_._1.contains("site_id=biz.ssu.ac.kr")))

    // and the merged state is correct: bioinfo rows survive untouched,
    // biz carries the rev-1 updates (merge events observed them)
    val cache = spark.read.parquet(s"$dir/cache")
    val bioRows = cache.filter(col("site_id") === "bioinfo.ssu.ac.kr").count()
    assert(bioRows > 0)
    assert(res2.pipeline.events
      .filter(col("event").isin("post_created", "post_updated")).count() > 0)
    assert(cache.filter(col("site_id") === "biz.ssu.ac.kr")
      .filter(col("content").contains("[개정판 rev1]")).count() > 0)
  }

  /** Every file below `dir`: its relative path -> (size, bytes digest,
    * mtime in ms). */
  private def files(dir: String): Map[String, (Long, String, Long)] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .map(p => root.relativize(p).toString -> (java.nio.file.Files.size(p),
        sha256(java.nio.file.Files.readAllBytes(p)),
        java.nio.file.Files.getLastModifiedTime(p).toMillis))
      .toMap
    finally walk.close()
  }

  test("a cycle over unchanged data rewrites no cache file and publishes no commit") {
    val dir = java.nio.file.Files.createTempDirectory("graft-daemon-noop").toString
    val opts = Daemon.Options(out = s"$dir/out", cache = s"$dir/cache",
      limit = 10, scale = 60, publishRepo = Some(s"$dir/repo"),
      include = Seq("scatch.ssu.ac.kr", "biz.ssu.ac.kr", "bioinfo.ssu.ac.kr"))
    Daemon.run(spark, opts)
    def head() = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/repo/.graft/HEAD")).trim
    val (headBefore, before) = (head(), files(s"$dir/cache"))
    assert(before.keys.count(_.endsWith(".parquet")) === 3, before.keys)
    val res = Daemon.run(spark, opts.copy(now = flipNow))
    assert(res.pipeline.events.filter(col("event").startsWith("post_")).count() === 0)
    assert(files(s"$dir/cache") === before, "no cache file may be rewritten")
    assert(head() === headBefore, "an unchanged cycle must publish no commit")
  }

  test("--include prunes sites BEFORE the crawl: only included sites are ever scheduled") {
    val dir = java.nio.file.Files.createTempDirectory("graft-daemon-prune").toString
    val include = Seq("biz.ssu.ac.kr", "bioinfo.ssu.ac.kr")
    val res = Daemon.run(spark, Daemon.Options(out = s"$dir/out",
      cache = s"$dir/cache", limit = 10, scale = 60, include = include))
    // the SCHEDULE (pre-fetch artifact) carries only included sites — the
    // unselected 52 sites got no seeds, no fetches, no shuffle rows
    // (reference pre-task pruning, macros.rs:46-113)
    val scheduled = res.pipeline.schedule.select("site_id").distinct()
      .collect().map(_.getString(0)).toSet
    assert(scheduled === include.toSet, scheduled.toString)
  }

  test("a MID-CRAWL fetch failure that exhausts retries: crawl_failed + error_report + cache untouched") {
    val dir = java.nio.file.Files.createTempDirectory("graft-daemon-midfail").toString
    val opts = Daemon.Options(out = s"$dir/out", cache = s"$dir/cache",
      limit = 10, scale = 60,
      include = Seq("biz.ssu.ac.kr", "bioinfo.ssu.ac.kr"))
    Daemon.run(spark, opts) // healthy first run seeds both cache partitions
    val bizBefore = spark.read.parquet(s"$dir/cache")
      .filter(col("site_id") === "biz.ssu.ac.kr").count()
    // second run: biz preflight passes, but its post wave fails all retries
    val res = Daemon.run(spark, opts.copy(
      failFetch = Map(("biz.ssu.ac.kr", 1) -> 3),
      now = java.sql.Timestamp.valueOf("2026-01-16 00:00:00")))
    assert(res.failedSites.keySet === Set("biz.ssu.ac.kr")) // drives exit 1
    assert(res.pipeline.events.filter(col("event") === "crawl_failed")
      .select("site_id").collect().map(_.getString(0)).toSeq === Seq("biz.ssu.ac.kr"))
    val report = spark.read.json(s"$dir/out/reports/error_report")
    assert(report.filter(col("site_id") === "biz.ssu.ac.kr").count() === 1)
    // the failed site's cache partition is preserved, not clobbered
    assert(spark.read.parquet(s"$dir/cache")
      .filter(col("site_id") === "biz.ssu.ac.kr").count() === bizBefore)
  }

  test("a site that exhausts retries: error_report + crawl_failed events, others unaffected") {
    val dir = java.nio.file.Files.createTempDirectory("graft-daemon-fail").toString
    val res = Daemon.run(spark, Daemon.Options(out = s"$dir/out",
      cache = s"$dir/cache", limit = 10, scale = 60,
      include = Seq("biz.ssu.ac.kr", "bioinfo.ssu.ac.kr"),
      failSites = Seq("bioinfo.ssu.ac.kr")))
    // failure tallied (drives main's nonzero exit), healthy site crawled
    assert(res.failedSites.keySet === Set("bioinfo.ssu.ac.kr"))
    val scheduled = res.pipeline.schedule.select("site_id").distinct()
      .collect().map(_.getString(0)).toSet
    assert(scheduled === Set("biz.ssu.ac.kr"))
    // crawl_failed event in the event stream
    val failEvents = res.pipeline.events.filter(col("event") === "crawl_failed")
      .select("site_id").collect().map(_.getString(0)).toSeq
    assert(failEvents === Seq("bioinfo.ssu.ac.kr"))
    // error_report channel written (reference main.rs:300-340)
    val report = spark.read.json(s"$dir/out/reports/error_report")
    val rows = report.select("site_id", "error").collect()
    assert(rows.length === 1 && rows(0).getString(0) === "bioinfo.ssu.ac.kr")
    assert(rows(0).getString(1).contains("failed after 3 attempts"))
  }
}
