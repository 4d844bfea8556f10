package graft.crawl

import java.nio.file.{Files, Paths}
import graft.SparkSuite
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

class CompactionSpec extends SparkSuite {
  import spark.implicits._

  private def writeFragmentedCache(dir: String): Unit = {
    // 2 sites; site a's rows spread over 4 shuffle tasks -> 4 files in its
    // partition (the daemon cache write shape: partitionBy without
    // repartition)
    (1 to 32).map(i => ("a", i.toLong, s"c$i"))
      .toDF("site_id", "id", "content")
      .repartition(4)
      .write.mode("overwrite").partitionBy("site_id").parquet(dir)
    (33 to 40).map(i => ("b", i.toLong, s"c$i"))
      .toDF("site_id", "id", "content")
      .coalesce(1)
      .write.mode("append").partitionBy("site_id").parquet(dir)
  }

  test("compact rewrites only fragmented partitions; content identical; others untouched") {
    val dir = Files.createTempDirectory("graft-compact").toString
    writeFragmentedCache(dir)
    val statsBefore = Compaction.partitionStats(dir).map(s => s.partition -> s.files).toMap
    assert(statsBefore("site_id=a") === 4)
    val before = spark.read.parquet(dir).collect()
      .map(r => (r.getAs[String]("site_id"), r.getAs[Long]("id"), r.getAs[String]("content")))
      .toSet

    // record site b's exact files (path -> mtime) to prove untouched
    def bFiles = {
      val s = Files.list(Paths.get(dir, "site_id=b"))
      try s.iterator().asScala.map(p =>
        p.getFileName.toString -> Files.getLastModifiedTime(p)).toMap
      finally s.close()
    }
    val bBefore = bFiles

    val res = Compaction.compact(spark, dir, maxFiles = 3)
    assert(res.map(_.partition) === Seq("site_id=a"))
    assert(res.head.filesBefore === 4 && res.head.filesAfter === 1)

    val statsAfter = Compaction.partitionStats(dir).map(s => s.partition -> s.files).toMap
    assert(statsAfter("site_id=a") === 1)
    assert(bFiles === bBefore, "untouched partition's files must not move")

    val after = spark.read.parquet(dir).collect()
      .map(r => (r.getAs[String]("site_id"), r.getAs[Long]("id"), r.getAs[String]("content")))
      .toSet
    assert(after === before, "compaction must preserve content exactly")
  }

  test("compact is a no-op when nothing is fragmented; targetBytes splits output") {
    val dir = Files.createTempDirectory("graft-compact2").toString
    writeFragmentedCache(dir)
    // tiny targetBytes: site a (4 files) packs into >1 output file
    val res = Compaction.compact(spark, dir, maxFiles = 3, targetBytes = 1L)
    assert(res.head.filesAfter > 1)
    // second run: site a may still exceed maxFiles with targetBytes=1 —
    // use the real default to land at 1 file, then a third run no-ops
    Compaction.compact(spark, dir, maxFiles = 3)
    assert(Compaction.compact(spark, dir, maxFiles = 3) === Seq.empty)
  }

  test("an interrupted swap (partition moved aside, staging not yet in) recovers") {
    val dir = Files.createTempDirectory("graft-compact3").toString
    writeFragmentedCache(dir)
    val before = spark.read.parquet(dir).count()
    // simulate the crash window: partition renamed aside, staging present
    Files.move(Paths.get(dir, "site_id=a"), Paths.get(dir, ".compact_old_site_id=a"))
    Files.createDirectories(Paths.get(dir, ".compact_tmp_site_id=a"))
    val res = Compaction.compact(spark, dir, maxFiles = 3)
    // recovery restored site a, then compaction proceeded normally
    assert(res.map(_.partition) === Seq("site_id=a"))
    assert(spark.read.parquet(dir).count() === before)
    // a completed swap's leftover .old is deleted, partition kept
    Files.createDirectories(Paths.get(dir, ".compact_old_site_id=b"))
    Compaction.compact(spark, dir, maxFiles = 3)
    assert(!Files.exists(Paths.get(dir, ".compact_old_site_id=b")))
    assert(spark.read.parquet(dir).count() === before)
  }

  test("expireSnapshots keeps the newest K and CURRENT stays readable") {
    val dir = Files.createTempDirectory("graft-expire").toString
    // the three-wave sequential page walk: versions 0, 1 and 2
    val cfg = Crawl.Config(scale = 60, limitPerSite = 20,
      include = Seq("biz.ssu.ac.kr", "bioinfo.ssu.ac.kr"), probePagination = false)
    val whole = Crawl.run(spark, cfg.copy(snapshotDir = Some(dir))).posts.count()
    assert(Snapshots.versions(dir) === Seq(0, 1, 2))
    val expired = Compaction.expireSnapshots(dir, keepLast = 2)
    assert(expired === Seq(0))
    assert(Snapshots.versions(dir) === Seq(1, 2))
    // CURRENT (v2) still reads
    assert(Snapshots.read(spark, dir, "posts").count() === whole)
    // expired version is no longer committed
    intercept[IllegalArgumentException] {
      Snapshots.read(spark, dir, "posts", Some(0))
    }
    // keepLast larger than history: nothing expires
    assert(Compaction.expireSnapshots(dir, keepLast = 10) === Seq.empty)
  }
}
