package graft.sinks

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import graft.SparkSuite

/** Publish (K6): the analyze-report markdown layout
  * (actions/analyze-report/action.yml:59-77) and the commit-on-change /
  * no-op-when-clean publish step (daemon.yml:127-143). */
class PublishSpec extends SparkSuite {

  private def events(rows: (String, String, String, String, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("site_id", "event", "post_id", "title", "url")
  }

  test("markdown report golden: created + updated + failure counts (action.yml:59-77)") {
    val md = Publish.markdownReport(events(
      ("scatch.ssu.ac.kr", "crawl_success", null, null, null),
      ("cse.ssu.ac.kr", "crawl_success", null, null, null),
      ("ee.ssu.ac.kr", "crawl_failed", null, "boom", null),
      ("cse.ssu.ac.kr", "post_created", "p1", "New CSE Post", "https://cse.ssu.ac.kr/p1"),
      ("cse.ssu.ac.kr", "post_created", "p2", "Another CSE Post", "https://cse.ssu.ac.kr/p2"),
      ("scatch.ssu.ac.kr", "post_updated", "p9", "Edited Post", "https://scatch.ssu.ac.kr/p9")))
    assert(md.startsWith("# 컨텐츠 업데이트\n\n2 성공, **1 실패**\n"))
    assert(md.contains("## 게시된 공지\n### cse.ssu.ac.kr\n> 2 new posts\n"))
    assert(md.contains("- [New CSE Post](https://cse.ssu.ac.kr/p1)"))
    assert(md.contains("- [Another CSE Post](https://cse.ssu.ac.kr/p2)"))
    assert(md.contains("## 수정된 공지\n### scatch.ssu.ac.kr\n> 1 updated posts\n" +
      "- [Edited Post](https://scatch.ssu.ac.kr/p9)"))
    assert(!md.contains("게시 혹은 변경된 공지가 없습니다"))
  }

  test("markdown report: nothing-changed line when no created/updated (action.yml:73-75)") {
    val md = Publish.markdownReport(events(
      ("scatch.ssu.ac.kr", "crawl_success", null, null, null)))
    assert(md.contains("1 성공, **0 실패**"))
    assert(md.contains("_게시 혹은 변경된 공지가 없습니다._"))
    assert(!md.contains("## 게시된 공지"))
  }

  test("markdown report: post ids sort by length then value, Korean titles render unchanged") {
    val md = Publish.markdownReport(events(
      ("cse.ssu.ac.kr", "post_created", "100", "기말고사 일정", "https://cse.ssu.ac.kr/100"),
      ("cse.ssu.ac.kr", "post_created", "10", "장학금 신청 안내", "https://cse.ssu.ac.kr/10"),
      ("cse.ssu.ac.kr", "post_created", "9", "수강신청 공지", "https://cse.ssu.ac.kr/9"),
      ("cse.ssu.ac.kr", "post_created", "11", "Exam", "https://cse.ssu.ac.kr/11")))
    assert(md === "# 컨텐츠 업데이트\n\n0 성공, **0 실패**\n" +
      "## 게시된 공지\n### cse.ssu.ac.kr\n> 4 new posts\n" +
      "- [수강신청 공지](https://cse.ssu.ac.kr/9)\n" +
      "- [장학금 신청 안내](https://cse.ssu.ac.kr/10)\n" +
      "- [Exam](https://cse.ssu.ac.kr/11)\n" +
      "- [기말고사 일정](https://cse.ssu.ac.kr/100)\n\n")
  }

  test("publish: commit on change, no-op when clean, parent chain, vanished-file sweep") {
    val src = Files.createTempDirectory("graft-pub-src")
    val repo = Files.createTempDirectory("graft-pub-repo")
    Files.createDirectories(src.resolve("sites/a"))
    Files.writeString(src.resolve("sites/a/data.json"), """{"x":1}""")
    Files.writeString(src.resolve("calendar.ics"), "BEGIN:VCALENDAR")
    val now = Timestamp.valueOf("2026-01-15 03:00:00") // 12:00 KST

    val c1 = Publish.publish(spark, repo.toString, Seq("" -> src.toString), now)
    assert(c1.created && c1.parent.isEmpty && c1.files == 2)
    // reference commit message format, Asia/Seoul clock (daemon.yml:139-143)
    assert(c1.message == "update: 2026-01-15 12:00")
    assert(Files.readString(repo.resolve("sites/a/data.json")) == """{"x":1}""")
    assert(Files.readString(repo.resolve(".graft/HEAD")).trim == c1.id)

    // clean tree -> "no changes to commit": same HEAD, no new commit record
    val c2 = Publish.publish(spark, repo.toString, Seq("" -> src.toString), now)
    assert(!c2.created && c2.id == c1.id)

    // changed file -> new commit with parent chain. calendar.ics vanished
    // from THIS run's out/, but publish is additive (`cp -rv` + `git add .`
    // never deletes, daemon.yml:127-143): the last-published copy is
    // carried forward into the new tree, .graft metadata untouched
    Files.writeString(src.resolve("sites/a/data.json"), """{"x":2}""")
    Files.delete(src.resolve("calendar.ics"))
    val c3 = Publish.publish(spark, repo.toString, Seq("" -> src.toString),
      Timestamp.valueOf("2026-01-16 03:00:00"))
    assert(c3.created && c3.parent.contains(c1.id) && c3.files == 2)
    assert(Files.readString(repo.resolve("sites/a/data.json")) == """{"x":2}""")
    assert(Files.readString(repo.resolve("calendar.ics")) == "BEGIN:VCALENDAR")
    assert(Files.exists(repo.resolve(s".graft/commits/${c1.id}.json")))
    assert(Files.readString(repo.resolve(".graft/HEAD")).trim == c3.id)

    // prefixed source lands under its prefix (cp -rv ssufid/.cache/ .)
    val cache = Files.createTempDirectory("graft-pub-cache")
    Files.writeString(cache.resolve("part-0.parquet"), "bytes")
    val c4 = Publish.publish(spark, repo.toString,
      Seq("" -> src.toString, ".cache" -> cache.toString),
      Timestamp.valueOf("2026-01-17 03:00:00"))
    assert(c4.created && c4.files == 3) // data.json + carried calendar.ics + cache part
    assert(Files.readString(repo.resolve(".cache/part-0.parquet")) == "bytes")
  }

  test("publish sweep is scoped: stale files only in re-emitted dirs; absent sites and .git survive") {
    val src = Files.createTempDirectory("graft-pub2-src")
    val repo = Files.createTempDirectory("graft-pub2-repo")
    // a git-backed data repo: internals must never be touched (`git add .`
    // refuses to stage into .git)
    Files.createDirectories(repo.resolve(".git/objects"))
    Files.writeString(repo.resolve(".git/config"), "[core]")
    Files.writeString(repo.resolve(".git/objects/abc"), "blob")
    Files.createDirectories(src.resolve("sites/a"))
    Files.createDirectories(src.resolve("sites/b"))
    Files.writeString(src.resolve("sites/a/part-00000.json"), "a0")
    Files.writeString(src.resolve("sites/a/part-00001.json"), "a1")
    Files.writeString(src.resolve("sites/b/data.json"), "b")
    val t1 = Timestamp.valueOf("2026-01-15 03:00:00")
    val c1 = Publish.publish(spark, repo.toString, Seq("" -> src.toString), t1)
    assert(c1.created && c1.files == 3)

    // second run: site a re-emitted with FEWER part files (stale part-00001
    // must be swept), site b absent entirely (preflight failure / --include
    // subset — its published file must survive and stay in the tree)
    val src2 = Files.createTempDirectory("graft-pub2-src2")
    Files.createDirectories(src2.resolve("sites/a"))
    Files.writeString(src2.resolve("sites/a/part-00000.json"), "a0v2")
    val c2 = Publish.publish(spark, repo.toString, Seq("" -> src2.toString),
      Timestamp.valueOf("2026-01-16 03:00:00"))
    assert(c2.created && c2.parent.contains(c1.id))
    assert(Files.readString(repo.resolve("sites/a/part-00000.json")) == "a0v2")
    assert(!Files.exists(repo.resolve("sites/a/part-00001.json"))) // stale, re-emitted dir
    assert(Files.readString(repo.resolve("sites/b/data.json")) == "b") // absent site kept
    assert(c2.files == 2) // a/part-00000 + carried b/data.json
    assert(c2.manifest.contains("sites/b/data.json"))
    // .git internals untouched
    assert(Files.readString(repo.resolve(".git/config")) == "[core]")
    assert(Files.exists(repo.resolve(".git/objects/abc")))

    // identical re-run of the subset -> no-op (tree includes carried files)
    val c3 = Publish.publish(spark, repo.toString, Seq("" -> src2.toString),
      Timestamp.valueOf("2026-01-17 03:00:00"))
    assert(!c3.created && c3.id == c2.id)
  }
}
