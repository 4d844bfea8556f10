package graft.crawl

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/**
 * Table-maintenance operations for the daemon's partitioned parquet cache
 * and the snapshot log — the Iceberg `rewrite_data_files` /
 * `expire_snapshots` analogs. The daemon's incremental cache write
 * (dynamic partition overwrite, Daemon.scala) leaves each touched
 * site partition with one file per writing task; over many runs hot
 * sites accumulate small files and the scan's file-listing + footer
 * overhead grows without bound. Compaction rewrites ONLY fragmented
 * partitions (bounded work per maintenance run), leaving every other
 * partition's files untouched on disk.
 */
object Compaction {

  final case class PartitionStats(partition: String, files: Int, bytes: Long)
  final case class CompactResult(partition: String, filesBefore: Int, filesAfter: Int)

  private def isDataFile(p: Path): Boolean = {
    val n = p.getFileName.toString
    !n.startsWith(".") && !n.startsWith("_") && n.endsWith(".parquet")
  }

  /** Per-partition data-file stats of a `col=value`-partitioned dir. */
  def partitionStats(dir: String): Seq[PartitionStats] = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) return Seq.empty
    val parts = {
      val s = Files.list(root)
      try s.iterator().asScala.filter { p =>
        val name = p.getFileName.toString
        // skip staging/backup dirs from an interrupted swap
        // (.compact_old_*/.compact_tmp_* contain '=' too) the same way
        // isDataFile skips hidden files
        Files.isDirectory(p) && name.contains("=") &&
          !name.startsWith(".") && !name.startsWith("_")
      }.toSeq
      finally s.close()
    }
    parts.map { p =>
      val files = {
        val s = Files.list(p)
        try s.iterator().asScala.filter(isDataFile).toSeq finally s.close()
      }
      PartitionStats(p.getFileName.toString, files.size, files.map(Files.size).sum)
    }.sortBy(_.partition)
  }

  /**
   * Bin-pack every partition with more than `maxFiles` data files into
   * `ceil(bytes / targetBytes)` files. Each partition compacts as its own
   * staged distributed write followed by a directory swap (old dir moved
   * aside, staging renamed in, old deleted), so a crash mid-partition
   * leaves either the old or the new complete file set and never a mix.
   * Untouched partitions are never listed, read, or rewritten. Row counts
   * are verified before each swap; `maxPartitionsPerRun` bounds one
   * maintenance run's work at scale.
   */
  def compact(spark: SparkSession, dir: String, maxFiles: Int = 4,
      targetBytes: Long = 128L << 20,
      maxPartitionsPerRun: Int = Int.MaxValue): Seq[CompactResult] = {
    require(maxFiles >= 1, s"maxFiles must be >= 1, got $maxFiles")
    recoverInterrupted(dir)
    val frag = partitionStats(dir).filter(_.files > maxFiles)
      .take(maxPartitionsPerRun)
    frag.map { ps =>
      val pdir = Paths.get(dir, ps.partition)
      val nOut = math.max(1L, (ps.bytes + targetBytes - 1) / targetBytes).toInt
      val before = spark.read.parquet(pdir.toString)
      val nRows = before.count()
      val staged = Paths.get(dir, s".compact_tmp_${ps.partition}")
      // the partition dir is read WITHOUT the partition column (plain
      // parquet files) so the rewrite round-trips the exact on-disk schema
      before.coalesce(nOut).write.mode("overwrite").parquet(staged.toString)
      val rewritten = spark.read.parquet(staged.toString)
      require(rewritten.count() == nRows,
        s"compaction row-count drift in ${ps.partition}: $nRows -> ${rewritten.count()}")
      val old = Paths.get(dir, s".compact_old_${ps.partition}")
      Files.move(pdir, old)
      Files.move(staged, pdir)
      TempDirs.deleteRecursively(old)
      // drop Spark's _SUCCESS marker inside the partition dir — the cache
      // root is the table, partition dirs hold data files only
      val marker = pdir.resolve("_SUCCESS")
      if (Files.exists(marker)) Files.delete(marker)
      val after = {
        val s = Files.list(pdir)
        try s.iterator().asScala.count(isDataFile) finally s.close()
      }
      CompactResult(ps.partition, ps.files, after)
    }
  }

  /**
   * Expire old snapshot versions, keeping the newest `keepLast` (CURRENT
   * always survives — it is among the newest by construction). Returns
   * the expired version numbers. The Iceberg `expire_snapshots` analog:
   * bounded metadata growth for a long-lived daemon. An expired version is
   * its manifest dir; its waves stay, as every later version reads them.
   */
  def expireSnapshots(dir: String, keepLast: Int): Seq[Int] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val all = Snapshots.versions(dir)
    val expire = all.dropRight(keepLast)
    val current = Snapshots.currentVersion(dir)
    expire.foreach { v =>
      require(!current.contains(v),
        s"refusing to expire CURRENT snapshot v$v")
      TempDirs.deleteRecursively(Paths.get(dir, "snapshots", s"v$v"))
    }
    expire
  }

  /**
   * Crash recovery for the two-rename swap: a crash after `pdir -> .old`
   * but before `staged -> pdir` leaves the partition missing with its
   * data intact in `.compact_old_*`. On entry, any such orphan is rolled
   * back (old restored when the partition is absent, otherwise the old
   * copy is a completed swap's leftover and is deleted), and stale
   * staging dirs from aborted writes are cleared.
   */
  private def recoverInterrupted(dir: String): Unit = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) return
    val entries = {
      val s = Files.list(root)
      try s.iterator().asScala.map(_.getFileName.toString).toSeq finally s.close()
    }
    entries.filter(_.startsWith(".compact_old_")).foreach { n =>
      val part = root.resolve(n.stripPrefix(".compact_old_"))
      if (!Files.exists(part)) Files.move(root.resolve(n), part)
      else TempDirs.deleteRecursively(root.resolve(n))
    }
    entries.filter(_.startsWith(".compact_tmp_")).foreach(n =>
      TempDirs.deleteRecursively(root.resolve(n)))
  }
}
