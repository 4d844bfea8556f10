package graft.crawl

import java.nio.file.{Files, Paths}
import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.functions._

/** The crawl's seen set and schedule are views over one stage-out table
  * partitioned by wave, and its lineage is read from that table's footers. */
class CrawlStateSpec extends SparkSuite {

  // the three-wave sequential page walk of WaveCountsSpec
  private val walk = Crawl.Config(scale = 60, limitPerSite = 20,
    include = Seq("biz.ssu.ac.kr", "bioinfo.ssu.ac.kr"), probePagination = false)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  /** Everything a resume must reproduce: the schedule and seen rows, the
    * per-wave lineage tally and the posts' keys. */
  private def fingerprint(r: Crawl.Result): Seq[Seq[String]] = Seq(
    rows(r.schedule.select("wave", "ready_ms", "host", "site_id", "page", "row",
      "canonical", "url_hash")),
    rows(r.seen.select("url_hash", "first_wave")),
    rows(r.lineage.groupBy("wave").agg(first("scheduled"), first("deduped"), sum("fetched"))),
    rows(r.posts.select("site_id", "id")))

  test("lineage is read from the stage-out footers, no job") {
    val dir = Files.createTempDirectory("graft-lineage").toString
    // several writer tasks per wave, so each wave has several partitions
    sys.props("graft.rows.per.task") = "4"
    val r = try Crawl.run(spark, walk.copy(snapshotDir = Some(dir)))
      finally sys.props.remove("graft.rows.per.task")
    val plan = r.lineage.queryExecution.executedPlan
    assert(plan.isInstanceOf[LocalTableScanExec], plan.treeString)
    // the reference: one aggregation over every wave's stage-out, with the
    // per-wave counts the lineage carries
    val staged = spark.read.parquet(s"$dir/waves/w/schedule")
      .groupBy("wave", "partition_id").agg(count(lit(1)).as("fetched"))
      .join(r.lineage.select("wave", "scheduled", "deduped").distinct(), "wave")
      .select("wave", "partition_id", "scheduled", "deduped", "fetched")
    assert(rows(r.lineage) === rows(staged))
    assert(r.lineage.select("wave").distinct().count() === 3)
    assert(r.lineage.filter(col("wave") === 1).count() > 1)
  }

  test("rollback resume: CURRENT at any committed version, later waves left on disk, " +
      "reproduces the uninterrupted crawl") {
    // with one row per task the resumed run builds its first seen sketch
    // from the waves it reads from the dir
    Seq(None, Some("4")).foreach { rowsPerTask =>
      rowsPerTask.foreach(sys.props("graft.rows.per.task") = _)
      try {
        val dir = Files.createTempDirectory("graft-rollback").toString
        val cfg = walk.copy(snapshotDir = Some(dir))
        // collected before any resume: a resume rewrites the later waves' files
        val whole = fingerprint(Crawl.run(spark, cfg))
        val versions = Snapshots.versions(dir)
        assert(versions === Seq(0, 1, 2))
        versions.foreach { v =>
          // a crash after version v's waves, before a later CURRENT flip:
          // CURRENT names v, and every later wave's stage-out and manifest
          // stay on disk
          Files.writeString(Paths.get(dir, "snapshots", "CURRENT"), s"v$v")
          assert(fingerprint(Snapshots.resume(spark, dir, cfg)) === whole,
            s"resumed at v$v, rows per task $rowsPerTask")
          assert(Snapshots.currentVersion(dir) === Some(versions.last))
        }
      } finally sys.props.remove("graft.rows.per.task")
    }
  }
}
