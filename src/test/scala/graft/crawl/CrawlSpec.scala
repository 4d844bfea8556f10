package graft.crawl

import java.sql.Timestamp
import graft.SparkSuite
import graft.operators.Merge
import org.apache.spark.sql.functions._

class CrawlSpec extends SparkSuite {
  import spark.implicits._

  private val cfg = Crawl.Config(scale = 200, limitPerSite = 50)

  private def orderKey(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("wave", "ready_ms", "host", "site_id", "page", "row", "canonical")
      .orderBy("wave", "ready_ms", "host", "site_id", "page", "row", "canonical")
      .collect().map(_.mkString("|")).toSeq

  // run1 is crawled EAGERLY under a pinned fine-grained wave partitioning
  // (pre-adaptive rows-per-task) so the hot-host salting-spread assertion
  // still sees >1 politeness partition at this small test scale; the
  // property is cleared immediately after, so every OTHER crawl — this
  // suite's rev-1/cuckoo runs and all sibling suites in the shared test
  // JVM — exercises the shipped adaptive default. Crawl VALUES are
  // partitioning-independent (the determinism test below re-runs run1's
  // config under the default partitioning and asserts identical output).
  private val run1 = {
    sys.props("graft.rows.per.task") = "256"
    try Crawl.run(spark, cfg) finally sys.props.remove("graft.rows.per.task")
  }
  private lazy val schedule1 = run1.schedule.cache()

  test("UrlGrammar.rebuildUrl reproduces every discovered URL byte-for-byte") {
    // Walk the FULL expansion graph at both revs: every Req the synthetic
    // web can ever hand the frontier must rebuild from its (site_id, kind,
    // page, row) coordinates byte-for-byte, because the frontier no longer
    // carries the string between waves.
    val scale = 200L; val limit = 50L
    for (rev <- 0 to 1) {
      val walk = ExpansionWalk(scale, limit, rev)
      walk.foreach { case (req, _) =>
        assert(UrlGrammar.rebuildUrl(
          org.apache.spark.unsafe.types.UTF8String.fromString(req.site_id),
          org.apache.spark.unsafe.types.UTF8String.fromString(req.kind),
          req.page, req.row, WebVersion(scale, rev)).toString === req.url,
          s"site=${req.site_id} kind=${req.kind} page=${req.page} row=${req.row} rev=$rev")
      }
      assert(walk.size > 500, s"rev=$rev walked only ${walk.size} reqs — walk broken?")
    }
  }

  test("crawl is deterministic: two runs produce identical order and seen set") {
    val run2 = Crawl.run(spark, cfg)
    assert(orderKey(schedule1) === orderKey(run2.schedule))
    val seen1 = run1.seen.select("url_hash").orderBy("url_hash").as[Long].collect().toSeq
    val seen2 = run2.seen.select("url_hash").orderBy("url_hash").as[Long].collect().toSeq
    assert(seen1 === seen2)
    assert(seen1.distinct.size === seen1.size, "seen set must be duplicate-free")
  }

  test("limit pushdown: no site fetches more posts than the per-site budget") {
    val perSite = run1.posts.groupBy("site_id").count().as[(String, Long)].collect().toMap
    perSite.foreach { case (site, n) =>
      assert(n <= cfg.limitPerSite, s"$site fetched $n > ${cfg.limitPerSite}")
    }
    // the hottest site hits the cap exactly
    assert(perSite("scatch.ssu.ac.kr") === cfg.limitPerSite)
  }

  test("politeness: per-host fetches are spaced by the robots crawl-delay within a wave") {
    val rows = schedule1
      .select("wave", "host", "ready_ms", "crawl_delay_ms")
      .as[(Int, String, Long, Int)].collect()
    rows.groupBy(r => (r._1, r._2)).foreach { case ((_, host), hs) =>
      val times = hs.map(_._3).sorted
      val delay = hs.head._4
      times.sliding(2).foreach {
        case Array(a, b) => assert(b - a >= delay, s"$host spaced ${b - a} < $delay")
        case _           =>
      }
    }
  }

  test("co-hosted sites share one politeness bucket (cse boards)") {
    val cse = schedule1.filter(col("host") === "cse.ssu.ac.kr")
      .select("site_id").distinct().as[String].collect().toSet
    assert(cse.size === 3, s"expected 3 cse boards, got $cse")
    // their ready_ms values never collide within a wave (single host clock)
    val perWave = schedule1.filter(col("host") === "cse.ssu.ac.kr")
      .groupBy("wave", "ready_ms").count().filter(col("count") > 1).count()
    assert(perWave === 0)
  }

  test("seen set equals the set of scheduled canonical url hashes") {
    val fromSchedule = schedule1.select(col("url_hash")).distinct().count()
    assert(run1.seen.count() === fromSchedule)
  }

  test("lineage rows cover every wave with positive fetch counts") {
    val l = run1.lineage.as[(Int, Int, Long, Long, Long)].collect()
    assert(l.nonEmpty)
    val waves = l.map(_._1).distinct.sorted
    assert(waves.head === 0)
    waves.foreach { w =>
      assert(l.filter(_._1 == w).map(_._5).sum > 0, s"wave $w fetched nothing")
    }
    // hot-host salting: wave with detail fetches spreads over >1 partition
    val spread = l.filter(_._1 == 1).map(_._2).distinct.length
    assert(spread > 1, s"fetch stage not spread: $spread partition(s)")
  }

  test("re-crawl at rev 1 produces post_updated and post_created through the merge") {
    val now0 = Timestamp.valueOf("2026-03-01 00:00:00")
    val now1 = Timestamp.valueOf("2026-03-02 00:00:00")
    val cache0 = Merge.mergeEntries(
      spark.emptyDataset[graft.model.Post].toDF(), run1.posts, now0).posts
    val rev1 = Crawl.run(spark, cfg.copy(rev = 1))
    val m = Merge.mergeEntries(cache0, rev1.posts, now1)
    val events = m.events.groupBy("event").count().as[(String, Long)].collect().toMap
    assert(events.getOrElse("post_updated", 0L) > 0, s"no updates: $events")
    assert(events.getOrElse("post_created", 0L) > 0, s"no creates: $events")
    // updated posts preserve created_at and stamp the injected batch time
    val upd = m.posts.filter(col("updated_at") === lit(now1)).count()
    assert(upd === events("post_updated"))
  }

  test("cuckoo seen-sketch produces the identical crawl (bloom/cuckoo interchangeable)") {
    val cuckoo = Crawl.run(spark, cfg.copy(seenSketch = "cuckoo"))
    assert(orderKey(cuckoo.schedule) === orderKey(schedule1))
    assert(cuckoo.seen.count() === run1.seen.count())
  }

  test("mid-crawl whole-site retry: fail-twice-then-succeed is byte-identical to the clean run") {
    val sites = Seq("biz.ssu.ac.kr", "bioinfo.ssu.ac.kr")
    val small = Crawl.Config(scale = 60, limitPerSite = 20, include = sites)
    val clean = Crawl.run(spark, small)
    // biz's post-fetch wave (wave 1) fails twice, succeeds on attempt 3
    val flaky = Crawl.run(spark, small.copy(faults = Map(("biz.ssu.ac.kr", 1) -> 2)))
    assert(flaky.failedSites.isEmpty)
    def postsKey(df: org.apache.spark.sql.DataFrame) =
      df.select("site_id", "id", "url", "title", "content", "created_at")
        .orderBy("site_id", "id").collect().map(_.mkString("|")).toSeq
    assert(postsKey(flaky.posts) === postsKey(clean.posts))
    assert(orderKey(flaky.schedule) === orderKey(clean.schedule))
    assert(flaky.seen.select("url_hash").orderBy("url_hash").as[Long].collect().toSeq ===
      clean.seen.select("url_hash").orderBy("url_hash").as[Long].collect().toSeq)
  }

  test("mid-crawl retry exhaustion: the failed site contributes no posts, siblings unaffected") {
    val sites = Seq("biz.ssu.ac.kr", "bioinfo.ssu.ac.kr")
    val small = Crawl.Config(scale = 60, limitPerSite = 20, include = sites)
    val clean = Crawl.run(spark, small)
    val dead = Crawl.run(spark, small.copy(faults = Map(("biz.ssu.ac.kr", 1) -> 3)))
    assert(dead.failedSites.keySet === Set("biz.ssu.ac.kr"))
    assert(dead.failedSites("biz.ssu.ac.kr").getMessage.contains("failed after 3 attempts"))
    assert(dead.posts.filter(col("site_id") === "biz.ssu.ac.kr").count() === 0)
    val cleanBio = clean.posts.filter(col("site_id") === "bioinfo.ssu.ac.kr").count()
    assert(dead.posts.filter(col("site_id") === "bioinfo.ssu.ac.kr").count() === cleanBio)
  }

  test("live pacing: the wave fetch runs through the token bucket — per-host spacing, same content") {
    val sites = Seq("biz.ssu.ac.kr", "bioinfo.ssu.ac.kr")
    val small = Crawl.Config(scale = 60, limitPerSite = 6, include = sites,
      livePacing = true, numSalts = 1) // one salt lane -> strict per-host pacing
    val live = Crawl.run(spark, small)
    val batch = Crawl.run(spark, small.copy(livePacing = false))
    // content outcomes identical to the batch fetch stage
    def postsKey(df: org.apache.spark.sql.DataFrame) =
      df.select("site_id", "id", "url", "title", "content")
        .orderBy("site_id", "id").collect().map(_.mkString("|")).toSeq
    assert(postsKey(live.posts) === postsKey(batch.posts))
    // recorded start times: per (wave, host), consecutive fetches spaced by
    // the robots crawl-delay
    val delays = Robots.fleetRules.map(r => r.host -> r.crawl_delay_ms.toLong).toMap
    val log = live.fetchLog
      .select("wave", "host", "started_at_ms")
      .as[(Int, String, Long)].collect()
    assert(log.nonEmpty)
    log.groupBy(r => (r._1, r._2)).foreach { case ((_, host), rows) =>
      val d = delays.getOrElse(host, 300L)
      rows.map(_._3).sorted.sliding(2).foreach {
        case Array(x, y) => assert(y - x >= d, s"$host spaced ${y - x}ms < ${d}ms")
        case _           =>
      }
    }
  }

  test("every fetch mode produces the clean run's merge batch, crawl order included") {
    val sites = Seq("biz.ssu.ac.kr", "bioinfo.ssu.ac.kr")
    val small = Crawl.Config(scale = 60, limitPerSite = 6, include = sites, numSalts = 1)
    def batchKey(r: Crawl.Result): Seq[String] =
      r.batch.select("site_id", "id", "seq", "content")
        .orderBy("site_id", "id").collect().map(_.mkString("|")).toSeq
    val clean = batchKey(Crawl.run(spark, small))
    assert(clean.nonEmpty)
    // biz's post wave fails twice, then succeeds
    assert(batchKey(Crawl.run(spark,
      small.copy(faults = Map(("biz.ssu.ac.kr", 1) -> 2)))) === clean, "fault run")
    assert(batchKey(Crawl.run(spark, small.copy(livePacing = true))) === clean, "live-paced run")
    // a snapshot of wave 0 holds the list pages only: the resumed run
    // fetches every post
    val dir = java.nio.file.Files.createTempDirectory("graft-snap-batch").toString
    Crawl.run(spark, small.copy(maxWaves = 1, snapshotDir = Some(dir)))
    assert(batchKey(Snapshots.resume(spark, dir, small)) === clean, "resumed run")
    // the sequential page walk's wave-1 snapshot holds page 1's posts:
    // the resumed run finds their crawl order in the snapshot's schedule
    val walk = small.copy(limitPerSite = 20, probePagination = false)
    val walkDir = java.nio.file.Files.createTempDirectory("graft-snap-walk").toString
    Crawl.run(spark, walk.copy(maxWaves = 2, snapshotDir = Some(walkDir)))
    assert(Snapshots.read(spark, walkDir, "posts").count() > 0)
    assert(batchKey(Snapshots.resume(spark, walkDir, walk)) ===
      batchKey(Crawl.run(spark, walk)), "resumed page walk")
  }

  test("runFrom takes the benchmark's call: no job for its empty state, any other state refused") {
    // the call of perfbench's crawl_bulk, verbatim
    val seedRows = Crawl.seeds(spark, cfg).collect().toSeq
    val cores = spark.sparkContext.defaultParallelism
    val frontier0 = spark.sparkContext.parallelize(seedRows, cores).toDF()
    val seen0 = Seq.empty[(Long, Int)].toDF("url_hash", "first_wave")
    val posts0 = spark.emptyDataset[graft.model.Post].toDF()
    def runFrom(cfg: Crawl.Config): Crawl.Result =
      Crawl.runFrom(spark, cfg, frontier0, wave0 = 0, seen0, posts0,
        schedule0 = None, lineage0 = None)
    assert(orderKey(runFrom(cfg).schedule) === orderKey(schedule1))
    // with no wave, the call's only jobs count its frontier
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def jobsOf(f: => Unit): Long = {
      awaitQuiet(jobs.get)
      val before = jobs.get
      f
      awaitQuiet(jobs.get)
      jobs.get - before
    }
    spark.sparkContext.addSparkListener(listener)
    val (started, frontierCount) =
      try (jobsOf(runFrom(cfg.copy(maxWaves = 0))), jobsOf(frontier0.count()))
      finally spark.sparkContext.removeSparkListener(listener)
    assert(started === frontierCount)
    Seq(
      () => Crawl.runFrom(spark, cfg, frontier0, wave0 = 0,
        Seq((1L, 0)).toDF("url_hash", "first_wave"), posts0, schedule0 = None, lineage0 = None),
      () => Crawl.runFrom(spark, cfg, frontier0, wave0 = 0, run1.seen, posts0,
        schedule0 = None, lineage0 = None),
      () => Crawl.runFrom(spark, cfg, frontier0, wave0 = 0, seen0, posts0,
        schedule0 = Some(run1.schedule), lineage0 = None)).foreach { call =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("Snapshots.resume"), e.getMessage)
    }
  }

  test("runFrom rejects a seenSketch other than bloom or cuckoo") {
    val e = intercept[IllegalArgumentException](Crawl.run(spark, cfg.copy(seenSketch = "cukoo")))
    assert(e.getMessage.contains("\"cukoo\""), e.getMessage)
  }

  test("multi-wave failure: snapshot excludes the failed site's EARLIER-wave posts and seen hashes; resume keeps reporting it") {
    // sequential page walk (probePagination = false) so biz's posts span
    // two waves: wave1 = page-1 posts, wave2 = page-2 posts. Failing wave 2
    // exercises the retroactive exclusion — wave-1 state was already
    // appended when the failure hits.
    val dir = java.nio.file.Files.createTempDirectory("graft-snap-fail").toString
    val sites = Seq("biz.ssu.ac.kr", "bioinfo.ssu.ac.kr")
    val small = Crawl.Config(scale = 60, limitPerSite = 20, include = sites,
      probePagination = false, snapshotDir = Some(dir),
      faults = Map(("biz.ssu.ac.kr", 2) -> 3))
    val dead = Crawl.run(spark, small)
    assert(dead.failedSites.keySet === Set("biz.ssu.ac.kr"))
    // the returned posts AND seen set exclude biz's earlier-wave state
    assert(dead.posts.filter(col("site_id") === "biz.ssu.ac.kr").count() === 0)
    val bizHashes = dead.schedule.filter(col("site_id") === "biz.ssu.ac.kr")
      .select("url_hash").distinct()
    assert(dead.seen.join(bizHashes, Seq("url_hash"), "left_semi").count() === 0,
      "failed site's url hashes must not be 'seen' — the next run re-schedules them")
    // the persisted snapshot is equally clean
    val v = Snapshots.currentVersion(dir).get
    val snapPosts = Snapshots.read(spark, dir, "posts", Some(v))
    val snapSeen = Snapshots.read(spark, dir, "seen", Some(v))
    assert(snapPosts.filter(col("site_id") === "biz.ssu.ac.kr").count() === 0)
    assert(snapSeen.join(bizHashes, Seq("url_hash"), "left_semi").count() === 0)
    // manifest records the failure; a resume carries it forward
    val manifest = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/snapshots/v$v/manifest.json"))
    assert(manifest.contains("biz.ssu.ac.kr"))
    val resumed = Snapshots.resume(spark, dir, small.copy(faults = Map.empty))
    assert(resumed.failedSites.keySet === Set("biz.ssu.ac.kr"))
    assert(resumed.posts.filter(col("site_id") === "biz.ssu.ac.kr").count() === 0)
  }

  test("snapshot time travel: every committed version stays readable; CURRENT tracks the latest") {
    val dir = java.nio.file.Files.createTempDirectory("graft-snap-tt").toString
    Crawl.run(spark, cfg.copy(snapshotDir = Some(dir)))
    val vs = Snapshots.versions(dir)
    assert(vs.size >= 2, s"expected >=2 wave snapshots, got $vs")
    assert(Snapshots.currentVersion(dir) === Some(vs.max))
    // posts grow monotonically wave over wave; a reader pinned to an OLD
    // version must keep seeing the old (smaller) state after later commits
    val counts = vs.map(v => Snapshots.read(spark, dir, "posts", Some(v)).count())
    assert(counts === counts.sorted, s"posts must accumulate: $counts")
    assert(counts.last > counts.head)
    assert(Snapshots.read(spark, dir, "posts").count() === counts.last) // CURRENT
    // an uncommitted version is rejected, not half-read
    intercept[IllegalArgumentException] {
      Snapshots.read(spark, dir, "posts", Some(vs.max + 17))
    }
  }

  test("snapshot changefeed: v(i)->v(j) delta is exactly the posts added between them") {
    val dir = java.nio.file.Files.createTempDirectory("graft-snap-cdc").toString
    Crawl.run(spark, cfg.copy(snapshotDir = Some(dir)))
    val vs = Snapshots.versions(dir)
    assert(vs.size >= 2)
    val (v0, vN) = (vs.head, vs.last)
    val key = Seq("site_id", "id")
    val delta = Snapshots.changes(spark, dir, "posts", v0, vN, key)
    val all = Snapshots.read(spark, dir, "posts", Some(vN))
    val base = Snapshots.read(spark, dir, "posts", Some(v0))
    // delta + base == all, and the delta never overlaps the base
    assert(delta.count() === all.count() - base.count())
    assert(delta.join(base, key, "left_semi").count() === 0)
    // empty range -> empty delta, same schema
    val none = Snapshots.changes(spark, dir, "posts", vN, vN, key)
    assert(none.count() === 0 && none.schema === all.schema)
    intercept[IllegalArgumentException] {
      Snapshots.changes(spark, dir, "posts", vN, v0, key)
    }
  }

  test("resume refuses a snapshot written under a different scale or rev") {
    // the frontier persists grammar coordinates only, so a resume under
    // another scale or rev would silently rebuild DIFFERENT URLs
    val dir = java.nio.file.Files.createTempDirectory("graft-snap-cfg").toString
    val small = Crawl.Config(scale = 60, limitPerSite = 20,
      include = Seq("biz.ssu.ac.kr"))
    Crawl.run(spark, small.copy(maxWaves = 1, snapshotDir = Some(dir)))
    val scaled = intercept[IllegalArgumentException] {
      Snapshots.resume(spark, dir, small.copy(scale = small.scale * 2))
    }
    assert(scaled.getMessage.contains("scale: snapshot 60, config 120"))
    val flipped = intercept[IllegalArgumentException] {
      Snapshots.resume(spark, dir, small.copy(rev = 1 - small.rev))
    }
    assert(flipped.getMessage.contains("rev: snapshot 0, config 1"))
  }

  test("Crawl.run and Snapshots.resume add nothing to the session's cache") {
    import org.apache.spark.sql.graftbridge.CacheProbe
    val dir = java.nio.file.Files.createTempDirectory("graft-snap-cache").toString
    val small = Crawl.Config(scale = 60, limitPerSite = 20,
      include = Seq("biz.ssu.ac.kr"))
    val before = CacheProbe.entries(spark)
    Crawl.run(spark, small.copy(maxWaves = 1, snapshotDir = Some(dir))).schedule.count()
    val freshSeen = Seq.empty[(Long, Int)].toDF("url_hash", "first_wave")
    assert(!CacheProbe.isCached(freshSeen), "the fresh crawl's empty seen table is cached")
    Snapshots.resume(spark, dir, small).schedule.count()
    val resumedSeen = Snapshots.read(spark, dir, "seen", Some(0))
    assert(!CacheProbe.isCached(resumedSeen), "the resumed crawl's seen table is cached")
    assert(CacheProbe.entries(spark) === before)
  }

  test("resume refuses a snapshot whose frontier lost a part file") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    def list(dir: String): Seq[Path] = {
      val s = Files.list(Paths.get(dir))
      try s.iterator().asScala.toSeq finally s.close()
    }
    val small = Crawl.Config(scale = 60, limitPerSite = 20,
      include = Seq("biz.ssu.ac.kr", "bioinfo.ssu.ac.kr"))
    // wave 0's links (the resumed frontier), then its stage-out
    Seq("waves/w0/links" -> "waves/w0/links has",
        "waves/w/schedule/wave=0" -> "wave 0's stage-out has").foreach { case (file, refusal) =>
      val dir = Files.createTempDirectory("graft-snap-trunc").toString
      Crawl.run(spark, small.copy(maxWaves = 1, snapshotDir = Some(dir)))
      // a crawl this small writes the file as one part: rewrite the same
      // rows as two parts, so that losing one still leaves a readable table
      val path = s"$dir/$file"
      spark.read.parquet(path).repartition(2).write.parquet(s"$dir/rewritten")
      list(path).foreach(Files.delete)
      Files.delete(Paths.get(path))
      Files.move(Paths.get(s"$dir/rewritten"), Paths.get(path))
      val parts = list(path).filter(_.getFileName.toString.startsWith("part-"))
      assert(parts.size === 2)
      Files.delete(parts.head)
      val e = intercept[IllegalStateException](Snapshots.resume(spark, dir, small))
      assert(e.getMessage.contains(refusal), e.getMessage)
    }
  }

  test("snapshot kill-and-resume reproduces the uninterrupted crawl exactly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-snap").toString
    // "killed" run: stops after wave 0, snapshot v0 persisted
    Crawl.run(spark, cfg.copy(maxWaves = 1, snapshotDir = Some(dir)))
    assert(Snapshots.currentVersion(dir) === Some(0))
    val resumed = Snapshots.resume(spark, dir, cfg)
    assert(orderKey(resumed.schedule) === orderKey(schedule1))
    assert(resumed.seen.count() === run1.seen.count())
    assert(resumed.posts.count() === run1.posts.count())
  }
}
