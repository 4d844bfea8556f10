package graft.crawl

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Merge
import graft.sinks.Feeds

/**
 * The daemon cycle (reference entry point, packages/cli/src/main.rs:82-126):
 * a crawl -> merge against the persistent cache -> newest-first top-K per
 * site -> JSON + RSS feeds, plus the updated cache (the next run's merge
 * input). [[graft.Daemon.run]] runs the crawl, calls [[runDaemon]] and
 * writes its outputs.
 *
 * Spark shape: one exchange and one pass per site merge the crawled
 * sites' cache slice with the crawl batch, and both feeds render in one
 * narrow pass over its output.
 */
object Pipeline {

  final case class Output(
      topPosts: DataFrame, // top-K per crawled site
      cache: DataFrame,    // merged cache (next run input)
      siteJson: DataFrame,
      rss: DataFrame,
      events: DataFrame,
      schedule: DataFrame,
      lineage: DataFrame,
      // the crawled sites' merged cache rows, clustered by site and staged:
      // what the daemon writes back over those sites' cache partitions
      touchedCache: DataFrame,
      // the sites whose cache rows this cycle merged: crawled, not failed
      touchedSites: Seq[String])

  /**
   * Merge `crawl`, a crawl run with `cfg`, into `cache` and render the
   * feeds of the sites it crawled.
   *
   * INCREMENTAL merge — the product path for a 10^10-row cache:
   *  - only the crawled sites' partitions are SCANNED (partition pruning
   *    on the isin filter — untouched sites contribute zero read or
   *    shuffle rows to the merge);
   *  - [[Merge.mergeBySite]] merges that slice with the crawl batch; its
   *    output is the layout the feeds, the events and the write-back read;
   *  - only the crawled sites' rows come back as `touchedCache`, which a
   *    dynamic partition overwrite can write over their partitions alone.
   * A site that failed mid-crawl keeps its previous cache rows untouched
   * (a failed plugin run must not disturb persisted state).
   */
  def runDaemon(
      cfg: Crawl.Config,
      crawl: Crawl.Result,
      cache: DataFrame,
      now: Timestamp,
      topK: Int = 100): Output = {
    val touched = Sites.selected(cfg.include, cfg.exclude).map(_.site_id)
      .filterNot(crawl.failedSites.keySet)
    val cacheTouched = cache.filter(col("site_id").isin(touched: _*))
    val cacheUntouched = cache.filter(!col("site_id").isin(touched: _*))
    val Merge.MergeResult(touchedPosts, events) =
      Merge.mergeBySite(cacheTouched, crawlBatch(crawl), now)
    // feeds cover the sites this run crawled (the reference daemon emits
    // outputs per crawled plugin, main.rs:192-243 — untouched sites keep
    // their previous outputs and are neither scanned nor rewritten). Both
    // feeds render from the newest `topK` posts of each site in ONE pass
    // over the clustered checkpoint, staged for its two writes; one row
    // per site means neither write needs an exchange
    val feeds = Feeds.perSite(touchedPosts, topK).localCheckpoint(eager = false)

    Output(
      topPosts = Merge.topKPerSite(touchedPosts, topK),
      cache = cacheUntouched.unionByName(touchedPosts),
      siteJson = feeds.select("site_id", "site_json"),
      rss = feeds.select("site_id", "rss_xml"),
      events = events,
      schedule = crawl.schedule,
      lineage = crawl.lineage,
      touchedCache = touchedPosts,
      touchedSites = touched)
  }

  /** A crawl's posts as a merge batch: each post with its arrival order
    * `seq`, the crawl order (page, row) recovered from the schedule. */
  private def crawlBatch(crawl: Crawl.Result): DataFrame = {
    val order = crawl.schedule
      .filter(col("site_id").isNotNull)
      .select(col("url"), ((col("page").cast("long") * 1000000L) + col("row")).as("seq"))
    crawl.posts.join(order, Seq("url"), "left")
      .withColumn("seq", coalesce(col("seq"), lit(0L)))
  }

  /** Empty cache with the Post+rank schema (first daemon run). */
  def emptyCache(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[graft.model.Post].toDF().withColumn("rank", lit(0L))
  }

  final case class CalendarOutput(events: DataFrame, cache: DataFrame, ics: String)

  /**
   * Calendar daemon path (reference run_calendar, core/mod.rs:219-267):
   * fetch the calendar site's YEAR pages for the requested range, parse the
   * month blocks into (starts_at, ends_at) events with partial-date range
   * inference ([[graft.parse.CalendarParser]], the full port of
   * ssu-academic-calendar lib.rs:104-271), merge replace-in-range against
   * the cache, render the in-range output to one ICS document (with real
   * DTEND lines). Parsing is distributed (one task per year page); the
   * ICS, one string over a two-year calendar, renders on the driver from
   * one collect.
   */
  def runCalendar(
      spark: SparkSession,
      cache: DataFrame,
      start: java.sql.Timestamp,
      end: java.sql.Timestamp,
      scale: Long): CalendarOutput = {
    import spark.implicits._
    val site = Sites.all.find(_.family == "calendar").get
    val years = (start.toLocalDateTime.getYear to end.toLocalDateTime.getYear).toList
    val parsed = spark.createDataset(years).flatMap { y =>
      val pageUrl = SyntheticWeb.listUrl(site, y - 2024)
      graft.parse.CalendarParser.parseYearPage(
        SyntheticWeb.calendarYearHtml(y, scale), y, pageUrl)
    }.toDF()
    // the merge contract takes new entries all inside [start, end]
    val events = parsed.filter(col("starts_at").between(lit(start), lit(end)))
    // staged once: the ICS render below and the caller's cache write both
    // consume it, and each would re-run the parse and the merge. One
    // partition sorted in place gives the cache file the merge's
    // (starts_at, id) order without a range-partitioning sample job
    val merged = graft.operators.Merge.calendarReplaceInRange(cache, events, start, end)
      .coalesce(1).sortWithinPartitions(col("starts_at"), col("id"))
      .localCheckpoint(eager = false)
    // that partition in reverse is calendarInRange's (starts_at desc, id
    // desc) order: the merge keeps each id once, so no two rows tie
    val ics = graft.sinks.Ics.toIcs(
      "SSU Academic Calendar", "https://scatch.ssu.ac.kr/학사일정", "학사일정",
      merged.filter(col("starts_at").between(lit(start), lit(end)))
        .as[graft.model.CalendarEvent].collect().reverse.toSeq)
    CalendarOutput(graft.operators.Merge.calendarInRange(merged, start, end), merged, ics)
  }
}
