package graft.sinks

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
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
 * Formatting is pure Scala over already-shaped rows. The per-site feeds
 * render in one narrow pass over posts already clustered by site
 * ([[Feeds]]), and each writes one file per site via
 * partitionBy(site_id) — at fleet scale sites are independent partitions.
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

  /** One site's channel over its posts' `to_json` rows, newest first. */
  def channel(site: String, postJsonsNewestFirst: Seq[String]): String =
    channelXml(site, s"https://$site", s"$site notices",
      postJsonsNewestFirst.map(SiteJson.postFromJson))

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

  /** Full VCALENDAR (ics.rs:7-29): PRODID, escaped headers, folded lines. */
  def toIcs(title: String, source: String, desc: String, items: Seq[CalendarEvent]): String = {
    val lines = headerLines(title, source, desc) ++
      items.flatMap(eventLines) :+ "END:VCALENDAR"
    lines.map(TextKernel.icsFold).mkString("\r\n") + "\r\n"
  }

  private def headerLines(title: String, source: String, desc: String): Seq[String] = Seq(
    "BEGIN:VCALENDAR", "VERSION:2.0", "CALSCALE:GREGORIAN",
    "PRODID:-//ssufid//calendar//KO",
    s"X-WR-CALNAME:${TextKernel.icsEscape(title)}",
    s"X-WR-CALDESC:${TextKernel.icsEscape(desc)}",
    s"URL:$source")

  /**
   * Same VCALENDAR document, but the per-event escape/fold rendering runs
   * DISTRIBUTED (one folded VEVENT block per row); the driver collects the
   * rendered blocks with their (starts_at, id) and concatenates them in the
   * calendar output order, newest first ([[graft.operators.Merge.calendarInRange]])
   * — byte-identical to [[toIcs]] over the same items in that order. The
   * order is a driver-side sort of the collected blocks, not a distributed
   * one: every block reaches the driver anyway.
   */
  def toIcsDistributed(
      title: String, source: String, desc: String,
      items: Dataset[CalendarEvent]): String = {
    import items.sparkSession.implicits._
    val blocks = items
      .map(e => (e.starts_at, e.id, eventLines(e).map(TextKernel.icsFold).mkString("\r\n")))
      .collect()
      // starts_at desc, then id desc in Spark's string order (UTF-8 bytes)
      .sortWith { case ((ta, ia, _), (tb, ib, _)) =>
        val t = ta.compareTo(tb)
        if (t != 0) t > 0
        else java.util.Arrays.compareUnsigned(
          ia.getBytes(UTF_8), ib.getBytes(UTF_8)) > 0
      }
      .map(_._3)
    (headerLines(title, source, desc).map(TextKernel.icsFold) ++
      blocks :+ TextKernel.icsFold("END:VCALENDAR")).mkString("\r\n") + "\r\n"
  }
}

object SiteJson {

  private[graft] val mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m
  }

  /** Rehydrate a Post from Spark's to_json output (the RSS channel's items). */
  def postFromJson(json: String): Post = {
    val n = mapper.readTree(json)
    def opt(f: String): Option[String] =
      if (n.has(f) && !n.get(f).isNull) Some(n.get(f).asText()) else None
    def ts(f: String): Option[Timestamp] =
      opt(f).map(v => Timestamp.from(java.time.OffsetDateTime.parse(v).toInstant))
    import scala.jdk.CollectionConverters._
    val cats =
      if (n.has("category")) n.get("category").elements().asScala.map(_.asText()).toSeq
      else Seq.empty
    val atts =
      if (n.has("attachments"))
        n.get("attachments").elements().asScala.map { a =>
          graft.model.Attachment(a.get("url").asText(),
            if (a.has("name") && !a.get("name").isNull) Some(a.get("name").asText()) else None,
            if (a.has("mime_type") && !a.get("mime_type").isNull) Some(a.get("mime_type").asText()) else None)
        }.toSeq
      else Seq.empty
    Post(
      site_id = n.get("site_id").asText(), id = n.get("id").asText(),
      url = n.get("url").asText(), author = opt("author"),
      title = n.get("title").asText(), description = opt("description"),
      category = cats,
      created_at = ts("created_at").getOrElse(new Timestamp(0)),
      updated_at = ts("updated_at"),
      thumbnail = opt("thumbnail"),
      content = if (n.has("content")) n.get("content").asText() else "",
      attachments = atts, metadata = None)
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

  // SsufidPost serde field order (post.rs:23-41) — no skip_serializing_if
  // anywhere, so serde_json emits EVERY field, None as `null`
  private val PostFieldOrder = Seq("id", "url", "author", "title", "description",
    "category", "created_at", "updated_at", "thumbnail", "content",
    "attachments", "metadata")
  private val AttachmentFieldOrder = Seq("url", "name", "mime_type")

  /** Spark's to_json drops null fields and stamps `.000` second fractions;
    * serde_json::to_string_pretty emits every SsufidPost field (None ->
    * null, post.rs has no skip_serializing_if) in declaration order, and
    * time's RFC3339 formatter omits an all-zero subsecond part. Rebuild
    * the item node to that exact shape. */
  private def serdeShapedItem(postJson: String): com.fasterxml.jackson.databind.JsonNode = {
    def rfc3339(n: com.fasterxml.jackson.databind.JsonNode) =
      if (n == null || n.isNull) n
      else new com.fasterxml.jackson.databind.node.TextNode(
        n.asText().replaceFirst("\\.0+Z$", "Z"))
    val src = mapper.readTree(postJson)
    val item = mapper.createObjectNode()
    PostFieldOrder.foreach { f =>
      val v = src.get(f) match {
        case null => com.fasterxml.jackson.databind.node.NullNode.getInstance()
        case n if f == "created_at" || f == "updated_at" => rfc3339(n)
        case n if f == "attachments" =>
          val arr = mapper.createArrayNode()
          n.elements().forEachRemaining { a =>
            val att = mapper.createObjectNode()
            AttachmentFieldOrder.foreach(af => att.set[com.fasterxml.jackson.databind.JsonNode](
              af, Option(a.get(af)).getOrElse(
                com.fasterxml.jackson.databind.node.NullNode.getInstance())))
            arr.add(att)
          }
          arr
        case n => n
      }
      item.set[com.fasterxml.jackson.databind.JsonNode](f, v)
    }
    item
  }

  /** `(site_id, rank, post_json)` rows: each post as Spark's `to_json` of
    * its columns other than `rank`, the form both feeds render from. */
  private[sinks] def postJsonRows(posts: DataFrame): Dataset[(String, Long, String)] = {
    import posts.sparkSession.implicits._
    posts.select(col("site_id"), col("rank"), to_json(struct(
      posts.columns.filter(_ != "rank").map(col): _*)).as("post_json"))
      .as[(String, Long, String)]
  }

  /** One site's payload over its posts' `to_json` rows, newest first:
    * the cli main.rs:202-213 shape {title, source, description, items},
    * PRETTY-printed byte-for-byte like the reference's
    * serde_json::to_string_pretty output, items in exact SsufidPost serde
    * shape (declaration field order, None as null, RFC3339 timestamps
    * without zero fractions). */
  def document(site: String, postJsonsNewestFirst: Seq[String]): String = {
    val root = mapper.createObjectNode()
    root.put("title", site)
    root.put("source", s"https://$site")
    root.put("description", s"$site notices")
    val arr = root.putArray("items")
    postJsonsNewestFirst.foreach(j => arr.add(serdeShapedItem(j)))
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
 * laid out by [[graft.operators.Merge.clusterBySite]]: every site whole in
 * one partition, its rows sorted by rank. The pass keeps the last `k` rows
 * of each site's run — its newest `k` posts, the top-K of
 * [[graft.operators.Merge.topKPerSite]] — so it needs no window, no
 * grouping shuffle and no global sort, and its one row per site needs no
 * exchange before the per-site writes.
 */
object Feeds {

  /** `(site_id, site_json, rss_xml)`, one row per site with any post. */
  def perSite(clusteredPosts: DataFrame, k: Int): DataFrame = {
    import clusteredPosts.sparkSession.implicits._
    SiteJson.postJsonRows(clusteredPosts)
      .mapPartitions { rows =>
        val in = rows.buffered
        new Iterator[(String, String, String)] {
          def hasNext: Boolean = in.hasNext && k > 0
          def next(): (String, String, String) = {
            val site = in.head._1
            val newest = new java.util.ArrayDeque[String](k + 1)
            while (in.hasNext && in.head._1 == site) {
              newest.addFirst(in.next()._3)
              if (newest.size > k) newest.removeLast()
            }
            val items = newest.toArray(new Array[String](0)).toSeq
            (site, SiteJson.document(site, items), Rss.channel(site, items))
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
