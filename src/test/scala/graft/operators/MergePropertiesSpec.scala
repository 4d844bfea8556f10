package graft.operators

import java.sql.Timestamp
import graft.SparkSuite
import graft.model.Post
import org.apache.spark.sql.functions._

/**
 * Property tests for the merge core (SURVEY.md §5: "ScalaCheck properties
 * for merge — idempotence, seen-set monotonicity, order stability") over a
 * seeded random corpus.
 */
class MergePropertiesSpec extends SparkSuite {
  import spark.implicits._

  private val now = Timestamp.valueOf("2026-03-01 00:00:00")

  private def randomPosts(rnd: scala.util.Random, n: Int, idSpace: Int): Seq[Post] = {
    val usedIds = scala.collection.mutable.Set.empty[String]
    (0 until n).flatMap { _ =>
      val id = rnd.nextInt(idSpace).toString
      if (!usedIds.add(id)) None // merge contract: batch unique on (site,id)
      else Some(Post(
        s"site_${rnd.nextInt(3)}", id, s"http://x/$id", None,
        s"T${rnd.nextInt(5)}", None, Seq.empty,
        new Timestamp(now.getTime - rnd.nextInt(100000) * 1000L),
        None, None, s"C${rnd.nextInt(5)}", Seq.empty, None))
    }
  }

  private def canonical(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("site_id", "id", "title", "content", "created_at", "updated_at", "rank")
      .orderBy("site_id", "rank")
      .collect().map(_.mkString("|")).toSeq

  test("the daemon's per-site pass gives the exact merge's posts, ranks and events") {
    val rnd = new scala.util.Random(23)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(df.columns.sorted.map(col): _*).orderBy("site_id", "rank")
        .collect().map(_.toString).toSeq
    def events(r: Merge.MergeResult) = r.events.collect().map(_.toString).toSeq.sorted
    (1 to 3).foreach { _ =>
      // site_0 in both, site_1 only in the cache, site_2 only in the batch;
      // some batch rows carry their own updated_at or a padded title, and
      // some re-crawl a cached site_0 post whose title drifted by spaces
      val old = randomPosts(rnd, 40, 60)
        .map(p => if (p.site_id == "site_2") p.copy(site_id = "site_1") else p)
      val fresh = randomPosts(rnd, 25, 60).map { p =>
        val q = if (p.site_id == "site_1") p.copy(site_id = "site_2") else p
        rnd.nextInt(4) match {
          case 0 => q.copy(updated_at = Some(new Timestamp(now.getTime + 1000)))
          case 1 => q.copy(title = s" ${q.title} ")
          case _ => q
        }
      }
      val freshKeys = fresh.map(p => (p.site_id, p.id)).toSet
      val batch = fresh ++ old
        .filter(o => o.site_id == "site_0" && !freshKeys((o.site_id, o.id)))
        .take(5).map(o => o.copy(title = s"  ${o.title} "))
      val cache = Merge.mergeEntries(old.toDF(), spark.emptyDataset[Post].toDF(), now).posts
      val exact = Merge.mergeEntries(cache, batch.toDF(), now)
      val pass = Merge.mergeBySite(cache, batch.toDF(), now)
      assert(rows(pass.posts) === rows(exact.posts))
      assert(events(pass) === events(exact))
    }
  }

  test("idempotence: merging the same batch twice is a no-op (seeded corpus)") {
    val rnd = new scala.util.Random(42)
    (1 to 5).foreach { _ =>
      val old = randomPosts(rnd, 40, 60)
      val batch = randomPosts(rnd, 25, 60)
      val once = Merge.mergeEntries(old.toDF(), batch.toDF(), now).posts
      val twice = Merge.mergeEntries(once, batch.toDF(), now).posts
      assert(canonical(once) === canonical(twice))
      // and the second merge emits zero events
      val again = Merge.mergeEntries(once, batch.toDF(), now)
      assert(again.events.count() === 0)
    }
  }

  test("monotonicity: no old id is ever lost; ranks stay dense 1..n per site") {
    val rnd = new scala.util.Random(7)
    (1 to 5).foreach { _ =>
      val old = randomPosts(rnd, 40, 60)
      val batch = randomPosts(rnd, 25, 60)
      val merged = Merge.mergeEntries(old.toDF(), batch.toDF(), now).posts
      val oldIds = old.map(p => (p.site_id, p.id)).toSet
      val keptIds = merged.select("site_id", "id").as[(String, String)].collect().toSet
      assert(oldIds.subsetOf(keptIds), "merge must never drop cache rows")
      val badRanks = merged.groupBy("site_id")
        .agg(count(lit(1)).as("n"), max("rank").as("mx"),
          countDistinct("rank").as("nd"))
        .filter(col("mx") =!= col("n") || col("nd") =!= col("n")).count()
      assert(badRanks === 0, "ranks must be dense 1..n per site")
    }
  }

  test("event partition: every batch row is created, updated, or a silent keep") {
    val rnd = new scala.util.Random(13)
    val old = randomPosts(rnd, 40, 60)
    val batch = randomPosts(rnd, 25, 60)
    val r = Merge.mergeEntries(old.toDF(), batch.toDF(), now)
    val events = r.events.select("post_id", "event").as[(String, String)].collect()
    val oldById = old.map(p => (p.site_id, p.id) -> p).toMap
    batch.foreach { p =>
      val evs = events.filter(_._1 == p.id)
      oldById.get((p.site_id, p.id)) match {
        case None =>
          assert(evs.exists(_._2 == "post_created"), s"missing created for ${p.id}")
        case Some(o) if !Post.contentsEq(o, p) =>
          assert(evs.exists(_._2 == "post_updated"), s"missing updated for ${p.id}")
        case Some(_) => // unchanged: silent
      }
    }
  }
}
