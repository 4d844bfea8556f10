package graft

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.crawl.{Crawl, Pipeline}

/**
 * The daemon CLI — the spark-submit entry point mirroring the reference's
 * `cli::main` (packages/cli/src/main.rs:38-126):
 *
 *   spark-submit --class graft.Daemon \
 *     --conf spark.sql.extensions=graft.GraftExtensions ... \
 *     ssufidspark.jar --out /data/out --cache /data/cache \
 *       --limit 30 --scale 1000 [--include a.ssu.ac.kr,b.ssu.ac.kr | \
 *       --exclude c.ssu.ac.kr] [--rev 0] [--snapshot-dir /data/snap] \
 *       [--calendar-start 2026-01-01 --calendar-end 2027-12-31]
 *
 * Options mirror the reference: out/cache dirs, per-site limit (default
 * 100 = POST_COUNT_LIMIT, production 30), mutually exclusive
 * include/exclude site filters (main.rs:89-91 — applied at seed time
 * through `Crawl.Config.include`, so a pruned site is never scheduled),
 * and the calendar crawl range (default this year Jan 1 -> next year
 * Dec 31, main.rs:268-277).
 *
 * Flow (main.rs:82-126): preflight the selected sites -> crawl the
 * survivors -> [[graft.crawl.Pipeline.runDaemon]] (MERGE into the cache,
 * newest-first top-K, per-site JSON + RSS) -> write the feeds, the
 * report and the calendar ICS, then persist the crawled sites' cache
 * partitions. The daemon adds the crawl status events to the merge's
 * content events and owns every write.
 *
 * Every table of the cycle is computed once, and no job exists only to
 * feed a driver-side sort or count or to infer a known schema. The
 * driver-sized outputs (the reports' events, SUMMARY.md, the ICS) render
 * on the driver from one collect each. A warm cycle at `--limit 30
 * --scale 1000` over ten sites (4 cores) runs 20 Spark jobs: 8 for the
 * two-wave crawl (each wave's politeness exchange, stage-out write and
 * links write; the second wave's exact seen probe collects the first
 * wave's hashes and broadcasts them, one job each), 2 for the merge (one
 * site exchange and the staged pass per site), 1 to collect the events,
 * 2 feed writes from one render, 3 report writes (the crawl lineage is a
 * local relation read from the stage-out's parquet footers), 2 for the
 * calendar (its merge and the ICS collect) and 2 cache writes; a site
 * whose merge created or updated no post writes none. With a caller's two
 * checks the cycle's generated classes take 84 entries of Spark's codegen
 * cache, under its 100-entry default: a warm cycle recompiles none of
 * them unless more than 25 hash into one of the cache's 4 segments
 * (`graft.CodegenProbe` counts them).
 */
object Daemon {

  final case class Options(
      out: String = "out",
      cache: String = "cache",
      limit: Long = 100L,
      scale: Long = 1000L,
      rev: Int = 0,
      include: Seq[String] = Seq.empty,
      exclude: Seq[String] = Seq.empty,
      snapshotDir: Option[String] = None,
      // publish (K6): commit out/ + cache into this content-addressed data
      // repository after the sinks are written (daemon.yml:127-143)
      publishRepo: Option[String] = None,
      calendarStart: String = "2026-01-01",
      calendarEnd: String = "2027-12-31",
      now: Timestamp = Timestamp.valueOf("2026-01-15 00:00:00"),
      // fault injection for the synthetic web: listed sites fail every
      // preflight attempt (the reference tests inject failing plugins the
      // same way to drive the error_report / exit-status path)
      failSites: Seq[String] = Seq.empty,
      // mid-crawl fetch faults ((site, wave) -> failing attempts): drives
      // the whole-site retry path INSIDE the wave (reference mod.rs:38-93)
      failFetch: Map[(String, Int), Int] = Map.empty)

  /** A daemon run: the pipeline output plus the per-site failure tally
    * (reference error tally, cli main.rs:118-125). */
  final case class RunResult(
      pipeline: Pipeline.Output,
      failedSites: Map[String, Throwable])

  def parseArgs(args: Array[String]): Options = {
    var o = Options()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--out"            => o = o.copy(out = args(i + 1)); i += 2
        case "--cache"          => o = o.copy(cache = args(i + 1)); i += 2
        case "--limit"          => o = o.copy(limit = args(i + 1).toLong); i += 2
        case "--scale"          => o = o.copy(scale = args(i + 1).toLong); i += 2
        case "--rev"            => o = o.copy(rev = args(i + 1).toInt); i += 2
        case "--include"        => o = o.copy(include = args(i + 1).split(",").toSeq); i += 2
        case "--exclude"        => o = o.copy(exclude = args(i + 1).split(",").toSeq); i += 2
        case "--snapshot-dir"   => o = o.copy(snapshotDir = Some(args(i + 1))); i += 2
        case "--publish"        => o = o.copy(publishRepo = Some(args(i + 1))); i += 2
        case "--calendar-start" => o = o.copy(calendarStart = args(i + 1)); i += 2
        case "--calendar-end"   => o = o.copy(calendarEnd = args(i + 1)); i += 2
        case "--now"            => o = o.copy(now = Timestamp.valueOf(args(i + 1))); i += 2
        case "--fail-sites"     => o = o.copy(failSites = args(i + 1).split(",").toSeq); i += 2
        case "--fail-fetch" => // site:wave:attempts[,site:wave:attempts...]
          o = o.copy(failFetch = args(i + 1).split(",").map { f =>
            f.split(":") match {
              case Array(s, w, n) if s.nonEmpty &&
                  w.nonEmpty && w.forall(_.isDigit) &&
                  n.nonEmpty && n.forall(_.isDigit) =>
                (s, w.toInt) -> n.toInt
              case _ => throw new IllegalArgumentException(
                s"--fail-fetch expects site:wave:attempts, got '$f'")
            }
          }.toMap); i += 2
        case other => throw new IllegalArgumentException(s"unknown option $other")
      }
    }
    require(o.include.isEmpty || o.exclude.isEmpty,
      "--include and --exclude are mutually exclusive (reference main.rs:89-91)")
    o
  }

  /**
   * Per-site preflight — the reference's plugin-construction stage (client
   * setup / SSO login / first-page probe) wrapped in run_with_retry
   * (mod.rs:38-93). A site that exhausts its retries is EXCLUDED from the
   * crawl, tallied into the error report, and drives a nonzero exit.
   */
  private def preflight(site: graft.crawl.Site, opts: Options): Unit = {
    if (opts.failSites.contains(site.site_id))
      throw new RuntimeException(s"synthetic network failure: ${site.site_id}")
    // auth family: SSO login bootstrap IS the plugin-construction stage
    // (sso.rs:26-92) — a failed login exhausts retries like any fetch error
    val session =
      if (site.family == "auth") Some(graft.crawl.Sso.bootstrap(site.host)) else None
    // grammar sanity probe: page-1 list URL must expand (throws on a broken
    // site definition, like a failed plugin constructor)
    graft.crawl.SyntheticWeb.expand(
      graft.crawl.SyntheticWeb.Req(
        graft.crawl.SyntheticWeb.listUrl(site, 1), site.site_id, "list", 1, 0, 0),
      opts.scale, opts.limit, opts.rev, session)
    ()
  }

  def run(spark: SparkSession, opts: Options): RunResult = {
    import spark.implicits._
    // The cache is a site_id-PARTITIONED parquet table (the distributed
    // analog of the reference's per-site cache files, mod.rs:269-301).
    // ONLY a missing path is a first run; corruption/permissions/IO errors
    // propagate (reference daemon read_cache special-cases NotFound only)
    val cache = graft.streaming.StreamingMerge.readSnapshotOr(spark, opts.cache)(
      Pipeline.emptyCache(spark))

    // site selection BEFORE task creation (macros.rs:46-113), then per-site
    // preflight with whole-site retry (mod.rs:38-93); survivors form the
    // crawl's include set — a pruned/failed site gets zero seeds
    val selectedSites = graft.crawl.Sites.selected(opts.include, opts.exclude)
    val byId = selectedSites.map(s => s.site_id -> s).toMap
    val (okSites, failedSites) =
      graft.crawl.Retry.runAll(selectedSites.map(_.site_id))(id => preflight(byId(id), opts))
    val liveSiteIds = selectedSites.map(_.site_id).filter(okSites.contains)

    // Config.include = Seq.empty means "no filter" (crawl everything), so
    // the ALL-preflights-failed case must NOT fall through to a full-fleet
    // crawl that would rewrite every cache partition with history-less
    // merges — an empty survivor set crawls nothing: the run is pure error
    // reporting, the cache is untouched (reference: every plugin failed ->
    // error tally only, main.rs:118-125)
    if (liveSiteIds.isEmpty) {
      val events = writeReports(spark, opts.out, Seq.empty, Seq.empty, failedSites)
      val empty = Pipeline.emptyCache(spark)
      return RunResult(
        Pipeline.Output(empty, cache, spark.emptyDataFrame,
          spark.emptyDataFrame, events,
          spark.emptyDataFrame, spark.emptyDataFrame, empty, Seq.empty),
        failedSites)
    }

    val cfg = Crawl.Config(scale = opts.scale, limitPerSite = opts.limit,
      rev = opts.rev, snapshotDir = opts.snapshotDir, include = liveSiteIds,
      faults = opts.failFetch)
    val crawl = Crawl.run(spark, cfg)
    // preflight failures + mid-crawl retry exhaustion feed ONE error tally
    // (reference cli main.rs:118-125 — any failed site fails the run)
    val allFailed = failedSites ++ crawl.failedSites

    // merge into the cache and render the crawled sites' feeds
    val out = Pipeline.runDaemon(cfg, crawl, cache, opts.now, opts.limit.toInt)

    // sinks (cli main.rs:192-243 layout). DYNAMIC partition overwrite:
    // this run's sinks cover only the crawled sites, and a reused out/ dir
    // must keep the uncrawled sites' last-good files (the reference's
    // `cp -rv out/* .` publish only ever adds/overwrites) — the default
    // STATIC mode would truncate the whole sites/ and rss/ trees first
    graft.sinks.SiteJson.write(out.siteJson, s"${opts.out}/sites")
    graft.sinks.Rss.write(out.rss, s"${opts.out}/rss")
    val contentEvents = out.events.as[Event].collect().toSeq
    val events = writeReports(spark, opts.out, contentEvents, out.touchedSites, allFailed)
    crawl.lineage.write.mode("overwrite").json(s"${opts.out}/reports/lineage")

    // calendar path
    val calCache = graft.streaming.StreamingMerge.readSnapshotOr(
      spark, s"${opts.cache}_calendar")(
      spark.emptyDataset[graft.model.CalendarEvent].toDF())
    val cal = Pipeline.runCalendar(spark, calCache,
      Timestamp.valueOf(s"${opts.calendarStart} 00:00:00"),
      Timestamp.valueOf(s"${opts.calendarEnd} 23:59:59"), opts.scale)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(opts.out))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"${opts.out}/calendar.ics"), cal.ics)

    // persist the cache INCREMENTALLY: dynamic partition overwrite rewrites
    // ONLY the partitions of crawled sites whose merge created or updated
    // a post (per-partition staging+rename commit); any other site merged
    // to its cache rows at their ranks, so its files stay untouched and an
    // unchanged cycle writes none — the scale-safe analog of the
    // reference's per-site cache persistence (mod.rs:269-301)
    val changedSites = contentEvents.map(_._1).distinct
    if (changedSites.nonEmpty)
      out.touchedCache.filter(col("site_id").isin(changedSites: _*)).write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic").partitionBy("site_id").parquet(opts.cache)
    // calendar cache advances via the rename-aside snapshot swap: the new
    // version is written BESIDE the live one (its plan still reads the old
    // files), then committed — a mid-swap crash leaves the old snapshot or
    // a recoverable .old sibling, and the NEXT run actually sees this
    // run's calendar merges
    cal.cache.write.mode("overwrite").parquet(s"${opts.cache}_calendar_next")
    graft.streaming.StreamingMerge.swapSnapshot(spark,
      s"${opts.cache}_calendar", s"${opts.cache}_calendar_next",
      opts.now.getTime.toString)

    // publish (K6): commit out/* + the cache into the data repository
    // ("update: YYYY-MM-DD HH:MM", no-op when the tree is unchanged —
    // daemon.yml:127-143)
    // reports are per-run CI artifacts in the reference (uploaded, NOT
    // copied into the data repo — daemon.yml:95-101 vs 127-131), so they
    // are excluded from the published tree; with them out, an unchanged
    // crawl republishes an identical tree and the commit is a no-op
    opts.publishRepo.foreach { repo =>
      graft.sinks.Publish.publish(spark, repo,
        Seq("" -> opts.out, ".cache" -> opts.cache), opts.now,
        exclude = Seq("reports"))
    }

    RunResult(out.copy(events = events), allFailed)
  }

  /** A report row: (site_id, event, post_id, title, url). */
  private type Event = (String, String, String, String, String)

  /**
   * The run's reports, written here for both exits: `content_report` (the
   * merge's content events, then crawl_success per crawled site — the
   * reference emits it per finished plugin, core/mod.rs:53-87 — and
   * crawl_failed per failed site), `error_report` (main.rs:300-340) and
   * the analyze-report SUMMARY.md (action.yml:38-77 — the step-summary
   * payload; also the Slack block content, which is network-bound and out
   * of engine scope). Returns the events as a local relation in one
   * partition: a driver-sized table whose aggregations need no exchange.
   */
  private def writeReports(spark: SparkSession, outDir: String,
      contentEvents: Seq[Event], crawledSites: Seq[String],
      failed: Map[String, Throwable]): DataFrame = {
    import spark.implicits._
    val events = (contentEvents ++
      crawledSites.map(site => (site, "crawl_success", null: String, null: String, null: String)) ++
      failed.toSeq.map { case (site, e) =>
        (site, "crawl_failed", null: String, e.getMessage, null: String) })
      .toDF("site_id", "event", "post_id", "title", "url")
    events.write.mode("overwrite").json(s"$outDir/reports/content_report")
    failed.toSeq.map { case (site, e) => (site, e.getMessage) }
      .toDF("site_id", "error")
      .write.mode("overwrite").json(s"$outDir/reports/error_report")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/reports/SUMMARY.md"),
      graft.sinks.Publish.markdownReport(events))
    events.coalesce(1)
  }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    val spark = SparkSession.builder()
      .appName("graft-daemon")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.registerAll(spark)
    val res = run(spark, opts)
    val out = res.pipeline
    val created = out.events.filter(col("event") === "post_created").count()
    val updated = out.events.filter(col("event") === "post_updated").count()
    println(s"""{"posts": ${out.topPosts.count()}, "created": $created, """ +
      s""""updated": $updated, "failed_sites": ${res.failedSites.size}}""")
    spark.stop()
    // reference exit semantics (main.rs:118-125): any site that exhausted
    // its retries fails the run, AFTER all sinks were written
    if (res.failedSites.nonEmpty) sys.exit(1)
  }
}
