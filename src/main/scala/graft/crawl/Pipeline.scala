package graft.crawl

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Merge
import graft.sinks.{Report, Rss, SiteJson}

/**
 * The daemon run (reference entry point, packages/cli/src/main.rs:82-126):
 * crawl every site -> merge against the persistent cache -> newest-first
 * top-K per site -> JSON + RSS feeds + crawl report, plus the updated
 * cache snapshot (the next run's merge input).
 *
 * Spark shape (SURVEY.md §3.1): one job; stages split at the cache MERGE
 * (hash shuffle on (site_id, id)) and the per-site partitioned sinks.
 */
object Pipeline {

  final case class Output(
      topPosts: DataFrame, // top-K per site, output order
      cache: DataFrame,    // merged cache (next run input)
      siteJson: DataFrame,
      rss: DataFrame,
      events: DataFrame,
      schedule: DataFrame,
      lineage: DataFrame)

  def runDaemon(
      spark: SparkSession,
      cfg: Crawl.Config,
      cache: DataFrame,
      now: Timestamp,
      topK: Int = 100,
      precomputedCrawl: Option[Crawl.Result] = None): Output = {

    // a caller that already ran (and staged) this config's crawl passes it
    // in — the daemon derives merge + feeds from the staged waves instead
    // of re-crawling (the production shape: one crawl, many consumers)
    val crawl = precomputedCrawl.getOrElse(Crawl.run(spark, cfg))

    // the merged cache feeds four consumers (top-K -> JSON + RSS feeds,
    // the cache snapshot, the event table) — stage it once
    val merged = Merge.mergeEntries(cache, crawlBatch(crawl), now, stageResult = true)
    val top = Merge.topKPerSite(merged.posts, topK)

    Output(
      topPosts = top,
      cache = merged.posts,
      siteJson = SiteJson.perSite(top),
      rss = Rss.perSite(top),
      events = merged.events,
      schedule = crawl.schedule,
      lineage = crawl.lineage)
  }

  /** A crawl's posts as a merge batch: each post with its arrival order
    * `seq`, the crawl order (page, row) recovered from the schedule. */
  def crawlBatch(crawl: Crawl.Result): DataFrame = {
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
   * DTEND lines). Parsing is distributed (one task per year page);
   * per-event VEVENT rendering is distributed too — the driver only
   * concatenates the final block strings.
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
    // consume it, and each would re-run the parse and the merge
    val merged = graft.operators.Merge.mergeCalendarReplaceInRange(cache, events, start, end)
      .localCheckpoint(eager = false)
    // the ICS takes the in-range rows unsorted: it puts its collected
    // blocks in the output order on the driver, no range-partitioned sort
    val ics = graft.sinks.Ics.toIcsDistributed(
      "SSU Academic Calendar", "https://scatch.ssu.ac.kr/학사일정", "학사일정",
      merged.filter(col("starts_at").between(lit(start), lit(end)))
        .as[graft.model.CalendarEvent])
    CalendarOutput(graft.operators.Merge.calendarInRange(merged, start, end), merged, ics)
  }
}
