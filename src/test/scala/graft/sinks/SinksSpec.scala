package graft.sinks

import java.sql.Timestamp
import graft.SparkSuite
import graft.model.{Attachment, CalendarEvent, Post}

/** Golden tests ported from the reference sink tests
  * (rss.rs:103-313, ics.rs:92-153). */
class SinksSpec extends SparkSuite {

  private val basicPost = Post(
    site_id = "example.com", id = "test-id-basic", url = "https://example.com/basic",
    author = Some("Basic Author"), title = "Basic Title", description = None,
    category = Seq("Basic Category"),
    created_at = Timestamp.valueOf("2024-03-22 12:00:00"),
    updated_at = Some(Timestamp.valueOf("2024-03-27 12:00:00")),
    thumbnail = Some("https://example.com/basic_thumb.jpg"),
    content = "Basic Content", attachments = Seq.empty, metadata = None)

  test("RSS item basic golden (rss.rs:110-168)") {
    val xml = Rss.itemXml(basicPost)
    assert(xml.contains("<title>Basic Title</title>"))
    assert(xml.contains("<link>https://example.com/basic</link>"))
    assert(xml.contains("<pubDate>Fri, 22 Mar 2024 12:00:00 +0000</pubDate>"))
    assert(xml.contains("""<guid isPermaLink="false">test-id-basic</guid>"""))
    // description falls back to (short) content
    assert(xml.contains("<description>Basic Content</description>"))
    assert(xml.contains("<author>Basic Author</author>"))
    assert(xml.contains("<category>Basic Category</category>"))
    assert(xml.contains(
      """<enclosure url="https://example.com/basic_thumb.jpg" length="0" type="image/jpeg"/>"""))
    assert(xml.contains("<atom:updated>2024-03-27T12:00:00Z</atom:updated>"))
  }

  test("RSS description 50-char fallback and unknown-thumbnail MIME default (rss.rs:17-22,52-55)") {
    val long = basicPost.copy(description = None, content = "y" * 80,
      thumbnail = Some("https://example.com/t.unknownext"), updated_at = None)
    val xml = Rss.itemXml(long)
    assert(xml.contains(s"<description>${"y" * 50}...</description>"))
    assert(xml.contains("""type="image/*""""))
    assert(!xml.contains("atom:updated"))
    // explicit description wins
    val withDesc = basicPost.copy(description = Some("D"))
    assert(Rss.itemXml(withDesc).contains("<description>D</description>"))
  }

  test("RSS channel wraps items with atom+content namespaces (rss.rs:84-101)") {
    val xml = Rss.channelXml("T", "https://example.com", "D", Seq(basicPost))
    assert(xml.startsWith("""<?xml version="1.0" encoding="utf-8"?><rss version="2.0""""))
    assert(xml.contains("""xmlns:atom="http://www.w3.org/2005/Atom""""))
    assert(xml.contains("""xmlns:content="http://purl.org/rss/1.0/modules/content/""""))
    assert(xml.contains("<title>T</title>"))
    assert(xml.contains("<item>"))
  }

  test("ICS golden (ics.rs:98-143): KST event converts to UTC Z times") {
    val items = Seq(
      CalendarEvent("event-1", "Event 1", Some("Description 1"),
        // 2024-03-22 12:00 +09:00 == 03:00 UTC (session is UTC)
        Timestamp.valueOf("2024-03-22 03:00:00"),
        Some(Timestamp.valueOf("2024-03-22 04:00:00")),
        Some("Seoul"), Some("https://example.com/events/1")),
      CalendarEvent("event-2", "Event 2", None,
        Timestamp.valueOf("2024-03-23 09:00:00"), None, None, None))
    val ics = Ics.toIcs("Test Calendar", "https://example.com/calendar",
      "Calendar Description", items)
    Seq(
      "BEGIN:VCALENDAR", "VERSION:2.0", "PRODID:-//ssufid//calendar//KO",
      "X-WR-CALNAME:Test Calendar", "X-WR-CALDESC:Calendar Description",
      "BEGIN:VEVENT", "UID:event-1", "SUMMARY:Event 1", "DESCRIPTION:Description 1",
      "DTSTART:20240322T030000Z", "DTEND:20240322T040000Z", "LOCATION:Seoul",
      "URL:https://example.com/events/1", "UID:event-2", "SUMMARY:Event 2",
      "END:VCALENDAR").foreach { s =>
      assert(ics.contains(s), s"missing: $s")
    }
    assert(ics.endsWith("\r\n"))
    // every physical line folded to <=75 utf-8 bytes
    ics.split("\r\n").foreach(l => assert(l.getBytes("UTF-8").length <= 75))
  }

  /** The layout the daemon's merge leaves: each site whole in one
    * partition, its rows in (rank, id) order. */
  private def clustered(posts: org.apache.spark.sql.DataFrame) =
    posts.repartition(posts("site_id")).sortWithinPartitions("site_id", "rank", "id")

  /** Both feeds of each site through the one-pass render over the
    * clustered layout, as (site_id, site_json, rss_xml) sorted by site. */
  private def feeds(posts: org.apache.spark.sql.DataFrame, k: Int) =
    Feeds.perSite(clustered(posts), k)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSeq.sortBy(_._1)

  test("per-site sinks emit one row per site, newest-first") {
    import org.apache.spark.sql.functions._
    val posts = (1 to 5).map(i => basicPost.copy(id = s"p$i", title = s"T$i"))
    import spark.implicits._
    val df = posts.toDF().withColumn("rank", col("id").substr(2, 9).cast("long"))
    val twoSites = df.unionByName(df.withColumn("site_id", lit("other.com")))
    val rendered = feeds(twoSites, 3)
    assert(rendered.map(_._1) === Seq("example.com", "other.com"))
    val (_, j, xml) = rendered.head
    def at(t: String) = xml.indexOf(s"<title>$t</title>")
    assert(at("T5") < at("T4") && at("T4") < at("T3") && at("T2") === -1)
    assert(j.contains("\"items\": [") && j.indexOf("p5") < j.indexOf("p3") &&
      !j.contains("\"p2\""))
    // reference: each site's collected posts, newest (highest rank) first,
    // cut to k, rendered by the per-site document and channel builders
    val reference = twoSites
      .select(struct(twoSites.columns.filter(_ != "rank").map(col): _*), col("rank"))
      .as[(Post, Long)].collect().toSeq
      .groupBy(_._1.site_id).toSeq.sortBy(_._1).map { case (site, rows) =>
        val items = rows.sortBy(-_._2).take(3).map(_._1)
        (site, SiteJson.document(site, items),
          Rss.channelXml(site, s"https://$site", s"$site notices", items))
      }
    assert(rendered === reference)
  }

  test("the feed render reads typed posts: no JSON encode in its plan") {
    import org.apache.spark.sql.catalyst.expressions.{Literal, StructsToJson}
    import org.apache.spark.sql.catalyst.expressions.json.StructsToJsonEvaluator
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(basicPost).toDF().withColumn("rank", lit(1L))
    val plan = Feeds.perSite(clustered(df), 1)
      .queryExecution.optimizedPlan
    // to_json is runtime-replaceable: the optimizer leaves an invoke of
    // its evaluator, a literal, in place of the StructsToJson node
    val encodes = plan.map(_.expressions.map(_.collect {
      case j: StructsToJson => j
      case l @ Literal(_: StructsToJsonEvaluator, _) => l
    }.size).sum).sum
    assert(encodes === 0, plan.treeString)
  }

  test("a post without created_at fails the render instead of dating it 1970") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(basicPost.copy(created_at = null)).toDF().withColumn("rank", lit(1L))
    intercept[org.apache.spark.SparkException](feeds(df, 1))
  }

  test("per-site JSON golden: serde_json::to_string_pretty layout byte-for-byte (main.rs:269-301)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(
      basicPost.copy(id = "p2", title = "Two <&>", updated_at = None, thumbnail = None,
        author = None, category = Seq.empty),
      basicPost.copy(id = "p1", title = "One"))
      .toDF().withColumn("rank", col("id").substr(2, 9).cast("long"))
    val j = feeds(df, 2).head._2
    // reference-shaped fixture: what serde_json::to_string_pretty emits for
    // {title, source, description, items:[...]} with these two posts —
    // 2-space indent, `"key": value`, one element per line, EVERY
    // SsufidPost field in declaration order (post.rs:23-41 has no
    // skip_serializing_if: None serializes as null), RFC3339 timestamps
    // without an all-zero subsecond part
    val expected =
      """{
        |  "title": "example.com",
        |  "source": "https://example.com",
        |  "description": "example.com notices",
        |  "items": [
        |    {
        |      "id": "p2",
        |      "url": "https://example.com/basic",
        |      "author": null,
        |      "title": "Two <&>",
        |      "description": null,
        |      "category": [],
        |      "created_at": "2024-03-22T12:00:00Z",
        |      "updated_at": null,
        |      "thumbnail": null,
        |      "content": "Basic Content",
        |      "attachments": [],
        |      "metadata": null
        |    },
        |    {
        |      "id": "p1",
        |      "url": "https://example.com/basic",
        |      "author": "Basic Author",
        |      "title": "One",
        |      "description": null,
        |      "category": [
        |        "Basic Category"
        |      ],
        |      "created_at": "2024-03-22T12:00:00Z",
        |      "updated_at": "2024-03-27T12:00:00Z",
        |      "thumbnail": "https://example.com/basic_thumb.jpg",
        |      "content": "Basic Content",
        |      "attachments": [],
        |      "metadata": null
        |    }
        |  ]
        |}""".stripMargin
    assert(j === expected)
  }

  test("per-site JSON: attachment Options serialize as null in serde field order") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(basicPost.copy(id = "p1",
      attachments = Seq(Attachment("https://example.com/a.pdf", None, Some("application/pdf")))))
      .toDF().withColumn("rank", lit(1L))
    val j = feeds(df, 1).head._2
    val expectedAttachment =
      """      "attachments": [
        |        {
        |          "url": "https://example.com/a.pdf",
        |          "name": null,
        |          "mime_type": "application/pdf"
        |        }
        |      ],""".stripMargin
    assert(j.contains(expectedAttachment), j)
  }
}
