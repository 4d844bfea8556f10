package graft.sinks

import java.sql.Timestamp
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextKernel
import graft.model.{CalendarEvent, Post}

/**
 * Output sinks — faithful re-expressions of the reference emitters:
 *  - RSS 2.0 per site (packages/ssufid/src/core/rss.rs:13-101);
 *  - ICS VCALENDAR (packages/ssufid/src/core/ics.rs:7-90);
 *  - per-site JSON (cli/src/main.rs:202-213);
 *  - JSON-lines crawl report (cli/src/main.rs:300-340).
 *
 * Formatting is pure Scala over already-shaped rows. Both per-site feeds
 * render from the typed [[Post]] rows, like the reference renders from its
 * post records, in one narrow pass over posts already clustered by site
 * ([[Feeds]]); each writes one file per site via partitionBy(site_id) — at
 * fleet scale sites are independent partitions.
 */
object Rss {

  private val Rfc2822 =
    DateTimeFormatter.ofPattern("EEE, dd MMM yyyy HH:mm:ss Z", java.util.Locale.US)
      .withZone(ZoneOffset.UTC)
  private val Rfc3339 = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
    .withZone(ZoneOffset.UTC)

  def pubDate(ts: Timestamp): String = Rfc2822.format(Instant.ofEpochMilli(ts.getTime))
  def atomUpdated(ts: Timestamp): String = Rfc3339.format(Instant.ofEpochMilli(ts.getTime))

  /** Description with the 50-char content-prefix fallback (rss.rs:17-22). */
  def description(post: Post): String =
    post.description.getOrElse(TextKernel.descriptionFallback(post.content))

  /** Thumbnail enclosure MIME with the reference's image default (rss.rs:52-55). */
  def enclosureMime(thumbnailUrl: String): String =
    Option(TextKernel.mimeGuess(thumbnailUrl)).getOrElse("image/*")

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private def cdata(s: String): String = "<![CDATA[" + s.replace("]]>", "]]]]><![CDATA[>") + "]]>"

  /** One RSS <item> (field semantics mirror rss.rs:13-80, fixture-tested). */
  def itemXml(post: Post): String = {
    val sb = new StringBuilder("<item>")
    sb.append(s"<title>${esc(post.title)}</title>")
    sb.append(s"<link>${esc(post.url)}</link>")
    sb.append(s"<pubDate>${pubDate(post.created_at)}</pubDate>")
    sb.append(s"""<guid isPermaLink="false">${esc(post.id)}</guid>""")
    sb.append(s"<description>${esc(description(post))}</description>")
    sb.append(s"<content:encoded>${cdata(post.content)}</content:encoded>")
    post.author.foreach(a => sb.append(s"<author>${esc(a)}</author>"))
    post.category.foreach(c => sb.append(s"<category>${esc(c)}</category>"))
    post.thumbnail.foreach { t =>
      sb.append(s"""<enclosure url="${esc(t)}" length="0" type="${enclosureMime(t)}"/>""")
    }
    post.updated_at.foreach(u => sb.append(s"<atom:updated>${atomUpdated(u)}</atom:updated>"))
    sb.append("</item>")
    sb.toString
  }

  /** Whole channel (rss.rs:84-101): posts must already be output-ordered. */
  def channelXml(title: String, source: String, desc: String, posts: Seq[Post]): String = {
    val sb = new StringBuilder(
      """<?xml version="1.0" encoding="utf-8"?>""" +
        """<rss version="2.0" xmlns:atom="http://www.w3.org/2005/Atom"""" +
        """ xmlns:content="http://purl.org/rss/1.0/modules/content/"><channel>""")
    sb.append(s"<title>${esc(title)}</title>")
    sb.append(s"<link>${esc(source)}</link>")
    sb.append(s"<description>${esc(desc)}</description>")
    posts.foreach(p => sb.append(itemXml(p)))
    sb.append("</channel></rss>")
    sb.toString
  }

  /** Write one feed file per site, like [[SiteJson.write]]. */
  def write(perSiteXml: DataFrame, outDir: String): Unit =
    perSiteXml.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("site_id").text(outDir)
}

object Ics {

  private val IcsDt = DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss'Z'")
    .withZone(ZoneOffset.UTC)

  def icsDatetime(ts: Timestamp): String = IcsDt.format(Instant.ofEpochMilli(ts.getTime))

  def eventLines(e: CalendarEvent): Seq[String] = {
    val base = Seq(
      "BEGIN:VEVENT",
      s"UID:${e.id}",
      s"SUMMARY:${TextKernel.icsEscape(e.title)}",
      s"DTSTAMP:${icsDatetime(e.starts_at)}",
      s"DTSTART:${icsDatetime(e.starts_at)}") ++
      e.description.map(d => s"DESCRIPTION:${TextKernel.icsEscape(d)}") ++
      e.ends_at.map(t => s"DTEND:${icsDatetime(t)}") ++
      e.location.map(l => s"LOCATION:${TextKernel.icsEscape(l)}") ++
      e.url.map(u => s"URL:$u")
    base :+ "END:VEVENT"
  }

  /** Full VCALENDAR (ics.rs:7-29): PRODID, escaped headers, folded lines,
    * one VEVENT per item in the given order. The document is one string,
    * so it renders on the driver: the daemon hands it the calendar's
    * in-range rows newest first ([[graft.crawl.Pipeline.runCalendar]]). */
  def toIcs(title: String, source: String, desc: String, items: Seq[CalendarEvent]): String = {
    val lines = Seq(
      "BEGIN:VCALENDAR", "VERSION:2.0", "CALSCALE:GREGORIAN",
      "PRODID:-//ssufid//calendar//KO",
      s"X-WR-CALNAME:${TextKernel.icsEscape(title)}",
      s"X-WR-CALDESC:${TextKernel.icsEscape(desc)}",
      s"URL:$source") ++
      items.flatMap(eventLines) :+ "END:VCALENDAR"
    lines.map(TextKernel.icsFold).mkString("\r\n") + "\r\n"
  }
}

object SiteJson {

  private[graft] val mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m
  }

  /**
   * serde_json::to_string_pretty layout (the reference's per-site cache
   * emitter, cli main.rs:269-301 uses exactly this): 2-space indent,
   * `"key": value`, one element per line, `[]`/`{}` for empties. Scalars
   * render in Jackson's compact form (same escaping rules).
   */
  private[graft] def pretty(n: com.fasterxml.jackson.databind.JsonNode,
      ind: String = ""): String = {
    import scala.jdk.CollectionConverters._
    val childInd = ind + "  "
    if (n.isObject) {
      val fields = n.fields().asScala.toSeq
      if (fields.isEmpty) "{}"
      else fields.map { e =>
        val key = com.fasterxml.jackson.databind.node.TextNode.valueOf(e.getKey).toString
        s"$childInd$key: ${pretty(e.getValue, childInd)}"
      }.mkString("{\n", ",\n", s"\n$ind}")
    } else if (n.isArray) {
      val els = n.elements().asScala.toSeq
      if (els.isEmpty) "[]"
      else els.map(e => childInd + pretty(e, childInd)).mkString("[\n", ",\n", s"\n$ind]")
    } else n.toString
  }

  // time's RFC3339 formatter (the reference's serde format for SsufidPost
  // timestamps) omits an all-zero subsecond part; a post carries at most
  // millisecond precision into the feed
  private val Rfc3339Seconds = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
    .withZone(ZoneOffset.UTC)

  private def rfc3339(ts: Timestamp): String = {
    val at = Instant.ofEpochMilli(ts.getTime)
    val millis = at.getNano / 1000000
    Rfc3339Seconds.format(at) + (if (millis == 0) "" else f".$millis%03d") + "Z"
  }

  /** One item in exact SsufidPost serde shape: every field in declaration
    * order (post.rs:23-41 has no skip_serializing_if, so serde_json emits
    * each one, None as `null`), attachments likewise (post.rs:6-10). */
  private def item(p: Post): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("id", p.id)
    n.put("url", p.url)
    n.put("author", p.author.orNull)
    n.put("title", p.title)
    n.put("description", p.description.orNull)
    val cats = n.putArray("category")
    p.category.foreach(c => cats.add(c))
    n.put("created_at", rfc3339(p.created_at))
    n.put("updated_at", p.updated_at.map(rfc3339).orNull)
    n.put("thumbnail", p.thumbnail.orNull)
    n.put("content", p.content)
    val atts = n.putArray("attachments")
    p.attachments.foreach { a =>
      atts.addObject().put("url", a.url).put("name", a.name.orNull)
        .put("mime_type", a.mime_type.orNull)
    }
    p.metadata match {
      case Some(m) =>
        val meta = n.putObject("metadata")
        m.foreach { case (k, v) => meta.put(k, v) }
      case None => n.putNull("metadata")
    }
    n
  }

  /** One site's payload over its posts, newest first: the cli
    * main.rs:202-213 shape {title, source, description, items},
    * PRETTY-printed byte-for-byte like the reference's
    * serde_json::to_string_pretty output. */
  def document(site: String, postsNewestFirst: Seq[Post]): String = {
    val root = mapper.createObjectNode()
    root.put("title", site)
    root.put("source", s"https://$site")
    root.put("description", s"$site notices")
    val arr = root.putArray("items")
    postsNewestFirst.foreach(p => arr.add(item(p)))
    pretty(root)
  }

  /** Write one file per site (the reference's {out}/{site}/data.json
    * layout). The input holds one row per site, so each site's row sits
    * in one task and lands as one file without an exchange. Dynamic
    * partition overwrite: a run that covers a subset of sites replaces
    * only those sites' files — uncrawled sites keep their last-good output
    * (the reference publish never deletes). */
  def write(perSiteJson: DataFrame, outDir: String): Unit =
    perSiteJson.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("site_id").json(outDir)
}

/**
 * Both per-site feeds, JSON and RSS, rendered in one narrow pass over posts
 * laid out as [[graft.operators.Merge.mergeBySite]] leaves them: every site
 * whole in one partition, its rows sorted by rank. The pass keeps the last `k` rows
 * of each site's run — its newest `k` posts, the top-K of
 * [[graft.operators.Merge.newestPerSite]] — so it needs no window, no
 * grouping shuffle and no global sort, and its one row per site needs no
 * exchange before the per-site writes.
 */
object Feeds {

  /** `(site_id, site_json, rss_xml)`, one row per site with any post. */
  def perSite(clusteredPosts: DataFrame, k: Int): DataFrame = {
    import clusteredPosts.sparkSession.implicits._
    clusteredPosts.as[Post]
      .mapPartitions { rows =>
        val in = rows.buffered
        new Iterator[(String, String, String)] {
          def hasNext: Boolean = in.hasNext && k > 0
          def next(): (String, String, String) = {
            val site = in.head.site_id
            val newest = new java.util.ArrayDeque[Post](k + 1)
            while (in.hasNext && in.head.site_id == site) {
              newest.addFirst(in.next())
              if (newest.size > k) newest.removeLast()
            }
            val posts = newest.toArray(new Array[Post](0)).toSeq
            (site, SiteJson.document(site, posts),
              Rss.channelXml(site, s"https://$site", s"$site notices", posts))
          }
        }
      }
      .toDF("site_id", "site_json", "rss_xml")
  }
}

/** Crawl report (K5): JSON-lines event stream + the jq-style aggregation. */
object Report {

  def write(events: DataFrame, outDir: String): Unit =
    events.write.mode("overwrite").json(outDir)

  /** analyze-report aggregation (action.yml:40-52): counts by event type. */
  def summary(events: DataFrame): DataFrame =
    events.groupBy("event").agg(count(lit(1)).as("n"))
}
