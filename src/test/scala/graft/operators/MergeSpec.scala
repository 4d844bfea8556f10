package graft.operators

import java.sql.Timestamp
import graft.SparkSuite
import graft.model.{Attachment, Post}
import org.apache.spark.sql.functions._

/**
 * Ports the reference merge unit tests
 * (packages/ssufid/src/core/mod.rs:640-894) onto the distributed merge.
 */
class MergeSpec extends SparkSuite {
  import spark.implicits._

  private val now = Timestamp.valueOf("2026-03-01 12:00:00")
  private def ts(offsetSec: Long) = new Timestamp(now.getTime + offsetSec * 1000)

  private def post(
      id: String, createdOff: Long, title: String, content: String,
      updatedAt: Option[Timestamp] = None, url: String = null,
      category: Seq[String] = Seq("Category")): Post =
    Post(
      site_id = "site_a", id = id,
      url = Option(url).getOrElse(s"http://example.com/$id"),
      author = Some(s"Author $id"), title = title,
      description = Some(s"Description for $id"), category = category,
      created_at = ts(createdOff), updated_at = updatedAt,
      thumbnail = None, content = content,
      attachments = Seq(Attachment(s"http://example.com/attach$id.doc", None, None)),
      metadata = None)

  test("merge_entries ported scenario (mod.rs:640-794)") {
    // old: ids 1 (now-1s), 2 (now), 0 (now-2s)  -> sorted order [0, 1, 2]
    val oldPosts = Seq(
      post("1", -1, "Old Title 1", "Old Content 1"),
      post("2", 0, "Old Title 2", "Old Content 2", updatedAt = Some(now)),
      post("0", -2, "Old Title 1", "Old Content 1"))
    // new: 1 unchanged (newer created_at), 2 changed (no updated_at),
    //      3 new, 4 new with own updated_at
    val newPosts = Seq(
      post("1", 0, "Old Title 1", "Old Content 1"),
      post("2", 1, "Updated Title 2", "Old Content 2", url = "http://example.com/2_new"),
      post("3", 2, "New Title 3", "New Content 3"),
      post("4", 3, "Title 4", "Content 4", updatedAt = Some(ts(3))))

    val r = Merge.mergeEntries(oldPosts.toDF(), newPosts.toDF(), now)
    val rows = r.posts.orderBy("rank").collect()

    assert(rows.map(_.getAs[String]("id")).toSeq === Seq("0", "1", "2", "3", "4"))
    // [1]: unchanged -> old row kept, no updated_at
    assert(rows(1).getAs[String]("title") === "Old Title 1")
    assert(rows(1).getAs[Timestamp]("updated_at") === null)
    assert(rows(1).getAs[Timestamp]("created_at") === ts(-1)) // old created_at kept
    // [2]: changed, new has no updated_at -> replaced, created_at preserved,
    //      updated_at stamped with injected batch time
    assert(rows(2).getAs[String]("title") === "Updated Title 2")
    assert(rows(2).getAs[Timestamp]("updated_at") === now)
    assert(rows(2).getAs[Timestamp]("created_at") === ts(0))
    assert(rows(2).getAs[String]("url") === "http://example.com/2_new")
    // [3]: insert, no updated_at
    assert(rows(3).getAs[String]("title") === "New Title 3")
    assert(rows(3).getAs[Timestamp]("updated_at") === null)
    // [4]: insert with own updated_at
    assert(rows(4).getAs[String]("title") === "Title 4")
    assert(rows(4).getAs[Timestamp]("updated_at") === ts(3))

    val events = r.events.collect().map(e =>
      (e.getAs[String]("post_id"), e.getAs[String]("event"))).toMap
    assert(events === Map("2" -> "post_updated", "3" -> "post_created", "4" -> "post_created"))
  }

  test("contents_eq trims title: whitespace-only title drift is NOT an update (post.rs:50-56)") {
    val oldPosts = Seq(post("1", 0, "Title 1", "Content 1")).toDF().withColumn("rank", lit(1L))
    val newPosts = Seq(post("1", 0, "  Title 1 ", "Content 1")).toDF()
      .withColumn("seq", lit(0L))
    val r = Merge.mergeEntries(oldPosts, newPosts, now)
    assert(r.events.count() === 0)
    // the old row survives untouched (no REPLACE, no stamped updated_at)
    val row = r.posts.collect()(0)
    assert(row.getAs[String]("title") === "Title 1")
    assert(row.getAs[Timestamp]("updated_at") === null)
  }

  test("Post.contentsEq and the Column contentsEq give the same answers") {
    val p = post("1", 0, "Title", "Content", category = Seq("A", "B"))
    val variants = Seq(
      p, p.copy(id = " 1 "), p.copy(title = "  Title "), p.copy(content = "Content  "),
      p.copy(title = "\tTitle"), p.copy(content = "Other"), p.copy(category = Seq.empty),
      p.copy(category = Seq("B", "A")))
    val pairs = for (a <- variants; b <- variants) yield (a, b)
    val column = pairs.toDF("a", "b")
      .select(Merge.contentsEq(f => col(s"a.$f"), f => col(s"b.$f")))
      .as[Boolean].collect().toSeq
    assert(column === pairs.map { case (a, b) => Post.contentsEq(a, b) })
    // the padded forms are equal, the tab, the category changes and the
    // new content are not
    assert(column.count(identity) === 4 * 4 + 4)
  }

  test("merge is idempotent: merging the same batch twice changes nothing") {
    val oldPosts = Seq(post("1", -1, "T1", "C1"), post("0", -2, "T0", "C0"))
    val newPosts = Seq(post("1", 0, "T1-upd", "C1-upd"), post("2", 1, "T2", "C2"))
    val once = Merge.mergeEntries(oldPosts.toDF(), newPosts.toDF(), now).posts
    val twice = Merge.mergeEntries(once, newPosts.toDF(), now).posts
    val a = once.orderBy("rank").collect().map(_.toString).toSeq
    val b = twice.orderBy("rank").collect().map(_.toString).toSeq
    assert(a === b)
  }

  test("incremental merge equals exact merge") {
    // site_a: an update plus an insert; site_b: inserts only, so none of
    // its cache rows is touched; site_c: absent from the cache
    val oldPosts = (0 until 50).map(i => post(s"$i", -100 + i, s"T$i", s"C$i")) ++
      (0 until 5).map(i => post(s"b$i", -50 + i, s"B$i", s"CB$i").copy(site_id = "site_b"))
    val newPosts = Seq(
      post("10", 1, "T10-upd", "C10-upd"),
      post("99", 2, "T99", "C99"),
      post("b7", 3, "B7", "CB7").copy(site_id = "site_b"),
      post("b8", 4, "B8", "CB8").copy(site_id = "site_b"),
      post("c1", 5, "C1", "CC1").copy(site_id = "site_c"),
      post("c0", 6, "C0", "CC0").copy(site_id = "site_c"))
    val exact = Merge.mergeEntries(oldPosts.toDF(), newPosts.toDF(), now).posts
    val incr = Merge.mergeBySite(
      Merge.mergeEntries(oldPosts.toDF(), spark.emptyDataset[Post].toDF(), now).posts, // ranked cache
      newPosts.toDF(), now).posts
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("site_id", "rank")
      .select("site_id", "id", "title", "rank").collect().map(_.toString).toSeq
    assert(rows(incr) === rows(exact))
    assert(rows(incr).filter(_.contains("site_b")).takeRight(2) ===
      Seq("[site_b,b7,B7,6]", "[site_b,b8,B8,7]"))
    assert(rows(incr).filter(_.contains("site_c")) ===
      Seq("[site_c,c1,C1,1]", "[site_c,c0,C0,2]"))
  }

  test("the daemon merge and its layout cross one exchange") {
    // daemon-shaped input: a parquet-persisted cache (file scan, like the
    // product path) with 20k rows of history, a 2-row batch; a session of
    // its own with AQE off, so the plan shows every exchange
    val session = spark.newSession()
    session.conf.set("spark.sql.adaptive.enabled", "false")
    val dir = java.nio.file.Files.createTempDirectory("graft-merge-site").toString
    val n = 20000
    Merge.mergeEntries(
      (0 until n).map(i => post(s"c$i", -n.toLong + i, s"T$i", s"C$i")).toDF(),
      spark.emptyDataset[Post].toDF(), now).posts
      .write.mode("overwrite").parquet(dir)
    val cache = session.read.parquet(dir)
    val batch = session.createDataFrame(Seq(
      post("c10", 1, "T10-upd", "C10-upd"),
      post("zz", 2, "TZ", "CZ")))

    // the staged pass is the run's one localCheckpoint action
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.SparkPlan]
    val planListener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") plans.add(qe.executedPlan)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    val records = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          records.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    session.listenerManager.register(planListener)
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = Merge.mergeBySite(cache, batch, now)
      awaitQuiet(records.get + plans.size)
      val shuffled = records.get
      assert(r.posts.count() === n + 1)
      assert(plans.size === 1)
      val plan = plans.peek()
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.size === 1, plan.treeString)
      assert(plan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }.isEmpty, plan.treeString)
      // the one exchange moves the touched history and the batch once
      assert(shuffled <= n + 2,
        s"merge shuffled $shuffled records for a $n-row cache and a 2-row batch")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      session.listenerManager.unregister(planListener)
    }
  }

  test("exact merge plan: one (site_id, id) exchange per join side and one site exchange " +
      "for the rank windows") {
    // a session of its own with AQE off, so the plan shows every exchange
    val session = spark.newSession()
    session.conf.set("spark.sql.adaptive.enabled", "false")
    val cache = session.createDataFrame((0 until 20).map(i => post(s"$i", i, s"T$i", s"C$i")))
      .withColumn("rank", col("id").cast("long") + 1)
    val batch = session.createDataFrame(Seq(
      post("5", 100, "T5-upd", "C5-upd"), post("99", 101, "T99", "C99")))
      .withColumn("seq", col("id").cast("long"))
    val plan = Merge.mergeEntries(cache, batch, now).posts.queryExecution.executedPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.size === 3, plan.treeString)
  }

  test("topKPerSite returns newest-first top-K (mod.rs:142-147)") {
    val posts = (0 until 10).map(i => post(s"$i", i, s"T$i", s"C$i"))
    val ranked = Merge.mergeEntries(
      spark.emptyDataset[Post].toDF(), posts.toDF(), now).posts
    val top3 = Merge.topKPerSite(ranked, 3).orderBy(col("rank").desc).collect()
    assert(top3.map(_.getAs[String]("id")).toSeq === Seq("9", "8", "7"))
  }

  test("calendar replace-in-range ported scenario (mod.rs:829-894)") {
    import graft.model.CalendarEvent
    def ev(id: String, title: String, at: String) = CalendarEvent(
      id, title, None, Timestamp.valueOf(at), None, None, None)
    val oldEv = Seq(
      ev("outside", "Outside Range", "2024-02-20 12:00:00"),
      ev("inside-stale", "Stale Inside Range", "2024-03-15 12:00:00"),
      ev("inside-updated", "Old Title", "2024-03-16 12:00:00"))
    val newEv = Seq(
      ev("inside-updated", "New Title", "2024-03-16 12:00:00"),
      ev("inside-new", "Brand New Inside Range", "2024-03-18 12:00:00"))
    val out = Merge.mergeCalendarReplaceInRange(
      oldEv.toDF(), newEv.toDF(),
      Timestamp.valueOf("2024-03-01 00:00:00"), Timestamp.valueOf("2024-03-31 23:59:59"))
      .collect()
    assert(out.length === 3)
    assert(out.map(_.getAs[String]("id")).toSeq === Seq("outside", "inside-updated", "inside-new"))
    assert(out(1).getAs[String]("title") === "New Title")
  }

  test("calendar range filter (mod.rs:796-827)") {
    import graft.model.CalendarEvent
    val evs = Seq(
      CalendarEvent("old", "Old Event", None, Timestamp.valueOf("2024-02-10 00:00:00"), None, None, None),
      CalendarEvent("recent", "Recent Event", None, Timestamp.valueOf("2024-03-20 00:00:00"), None, None, None))
    val out = Merge.calendarInRange(evs.toDF(),
      Timestamp.valueOf("2024-03-01 00:00:00"), Timestamp.valueOf("2024-03-31 23:59:59"))
      .collect()
    assert(out.map(_.getAs[String]("id")).toSeq === Seq("recent"))
  }
}
