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
    // the three-wave walk, also with one row per task, so that the resumed
    // run builds its first seen sketch from the waves it reads from the
    // dir; then CrawlSpec's two-wave fleet crawl
    Seq((walk, None, 3), (walk, Some("4"), 3),
        (Crawl.Config(scale = 200, limitPerSite = 50), None, 2)).foreach {
      case (shape, rowsPerTask, waves) =>
      rowsPerTask.foreach(sys.props("graft.rows.per.task") = _)
      try {
        val dir = Files.createTempDirectory("graft-rollback").toString
        val cfg = shape.copy(snapshotDir = Some(dir))
        // collected before any resume: a resume rewrites the later waves' files
        val whole = fingerprint(Crawl.run(spark, cfg))
        val versions = Snapshots.versions(dir)
        assert(versions === (0 until waves))
        versions.foreach { v =>
          // a crash after version v's waves, before a later CURRENT flip:
          // CURRENT names v, and every later wave's stage-out and manifest
          // stay on disk; or a crash in wave v + 1 between its stage-out
          // write and its links write
          val crashes = Seq("later waves left" -> (() => ())) ++
            (if (v == versions.last) Nil
             else Seq(s"wave ${v + 1}'s links lost" ->
               (() => TempDirs.deleteRecursively(Paths.get(Crawl.linksDir(dir, v + 1))))))
          crashes.foreach { case (crash, at) =>
            Files.writeString(Paths.get(dir, "snapshots", "CURRENT"), s"v$v")
            at()
            assert(fingerprint(Snapshots.resume(spark, dir, cfg)) === whole,
              s"resumed at v$v, $crash, rows per task $rowsPerTask, $shape")
            assert(Snapshots.currentVersion(dir) === Some(versions.last))
          }
        }
      } finally sys.props.remove("graft.rows.per.task")
    }
  }

  test("a shorter crawl into a reused snapshot dir uncommits the longer crawl's later versions") {
    val dir = Files.createTempDirectory("graft-reused").toString
    Crawl.run(spark, walk.copy(snapshotDir = Some(dir)))
    // a zero-wave continuation stages nothing, so it uncommits nothing
    assert(Snapshots.read(spark, dir, "schedule", Some(0)).count() > 0)
    assert(Snapshots.versions(dir) === Seq(0, 1, 2))
    Crawl.run(spark, walk.copy(snapshotDir = Some(dir), maxWaves = 1))
    assert(Snapshots.versions(dir) === Seq(0))
    assert(Snapshots.currentVersion(dir) === Some(0))
    intercept[IllegalArgumentException](Snapshots.read(spark, dir, "posts", Some(2)))
    assert(Compaction.expireSnapshots(dir, 1) === Seq.empty)
  }
}
