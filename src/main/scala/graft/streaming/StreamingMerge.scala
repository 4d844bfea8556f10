package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import graft.model.Post
import graft.operators.Merge

/**
 * Structured-Streaming face of the engine (SURVEY.md §2.10): the reference
 * is a scheduled micro-batch incremental pipeline (GitHub cron daemon,
 * .github/workflows/daemon.yml); its exact analogs here:
 *
 *  - state store        -> the cache table MERGEd per micro-batch in
 *                          [[foreachBatchMerge]] (reference: per-site post
 *                          cache, core/mod.rs:19-23,269-333);
 *  - upsert w/ change detection -> [[Merge.mergeEntries]] inside
 *                          foreachBatch (mod.rs:336-385);
 *  - stateful dedup     -> [[dedupByIdStream]] via mapGroupsWithState
 *                          keyed by (site_id, id);
 *  - event-time windows -> [[windowedEventCounts]] with watermark;
 *  - triggers           -> Trigger.AvailableNow = one daemon run.
 */
object StreamingMerge {

  /**
   * Micro-batch incremental merge: each arriving batch of crawled posts is
   * MERGEd into the persistent cache snapshot (update-mode semantics: the
   * changed rows carry a stamped updated_at). Returns the running query;
   * the cache lives at `cacheDir` as the snapshot the next batch reads.
   */
  def foreachBatchMerge(
      posts: DataFrame, // streaming DataFrame of Post rows
      cacheDir: String,
      checkpointDir: String,
      now: () => Timestamp): org.apache.spark.sql.streaming.StreamingQuery = {
    posts.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val cache = readCacheOrEmpty(spark, cacheDir)
        val merged = Merge.mergeEntries(cache, batch.toDF(), now()).posts
        // snapshot-commit the new cache version, then swap it in
        val tmp = cacheDir + s".v$batchId"
        merged.write.mode("overwrite").parquet(tmp)
        swapSnapshot(spark, cacheDir, tmp, batchId.toString)
      }
      .start()
  }

  /**
   * Snapshot-commit: swap the freshly-written `tmp` snapshot into `dir`.
   * The OLD snapshot is renamed ASIDE (never deleted before the new one is
   * in place): a crash mid-swap leaves either the old snapshot live or a
   * recoverable `.old` sibling — never silently-empty state (the reference
   * only treats NotFound as first-run, core/mod.rs read_cache).
   */
  private[graft] def swapSnapshot(
      spark: SparkSession, dir: String, tmp: String, tag: String): Unit = {
    val dst = new org.apache.hadoop.fs.Path(dir)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val aside = new org.apache.hadoop.fs.Path(dir + s".old$tag")
    // rename returns false (not an exception) on several FileSystems —
    // every step must be CHECKED or a failed commit followed by the aside
    // delete would destroy the only snapshot copy
    if (fs.exists(dst))
      require(fs.rename(dst, aside), s"snapshot swap: could not set aside $dir")
    if (!fs.rename(new org.apache.hadoop.fs.Path(tmp), dst)) { // commit point
      if (fs.exists(aside)) fs.rename(aside, dst) // restore the old snapshot
      throw new IllegalStateException(s"snapshot swap: could not commit $tmp -> $dir")
    }
    if (fs.exists(aside)) fs.delete(aside, true) // cleanup after commit
    ()
  }

  /**
   * Read the cache snapshot; ONLY a missing path maps to the empty cache
   * (first run). Corruption / permission / IO errors propagate, and a
   * missing cache with `.old*` swap leftovers (mid-swap crash) fails loudly
   * instead of silently restarting history from empty.
   */
  private[graft] def readCacheOrEmpty(spark: SparkSession, cacheDir: String): DataFrame =
    readSnapshotOr(spark, cacheDir)(graft.crawl.Pipeline.emptyCache(spark))

  /** Generic snapshot read with the narrow first-run semantics above. The
    * path is probed rather than a failed read caught: a failed analysis
    * also reaches the session's query listeners, which report it as an
    * error of their own. A snapshot that holds data files reads with
    * `empty`'s schema, so no job infers it; one without any reads
    * schemaless and fails analysis rather than pass for a first run. */
  private[graft] def readSnapshotOr(spark: SparkSession, dir: String)(
      empty: => DataFrame): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) {
      if (holdsDataFiles(fs, path)) spark.read.schema(empty.schema).parquet(dir)
      else spark.read.parquet(dir)
    } else {
      val leftovers = fs.globStatus(new org.apache.hadoop.fs.Path(dir + ".old*"))
      require(leftovers == null || leftovers.isEmpty,
        s"cache $dir missing but swap leftovers exist " +
          s"(${Option(leftovers).toSeq.flatten.map(_.getPath).mkString(", ")}): " +
          "recover the .old snapshot instead of restarting from empty")
      empty
    }
  }

  /** Whether `dir` holds a file a Spark read would scan: one whose path
    * below `dir` has no `_` or `.` component (markers, checksums and
    * uncommitted task output do). */
  private def holdsDataFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Boolean =
    fs.listStatus(dir).exists { st =>
      val name = st.getPath.getName
      !name.startsWith("_") && !name.startsWith(".") &&
        (st.isFile || holdsDataFiles(fs, st.getPath))
    }

  final case class SeenKey(site_id: String, id: String)
  final case class SeenState(content_hash: Long)
  final case class PostEvent(site_id: String, id: String, event: String, title: String)

  /**
   * Stateful streaming dedup-and-update keyed by (site_id, id) —
   * mapGroupsWithState analog of merge_entries' created/updated/no-op
   * decision (content identity = trimmed-content hash per post.rs:50-56).
   */
  def dedupByIdStream(posts: Dataset[Post]): Dataset[PostEvent] = {
    import posts.sparkSession.implicits._
    posts.groupByKey(p => SeenKey(p.site_id, p.id))
      .mapGroupsWithState[SeenState, PostEvent](GroupStateTimeout.NoTimeout) {
        (key: SeenKey, rows: Iterator[Post], state: GroupState[SeenState]) =>
          val post = rows.toSeq.maxBy(_.created_at.getTime)
          val h = (post.title + "\u0000" + post.content.trim).hashCode.toLong
          val event =
            if (!state.exists) "post_created"
            else if (state.get.content_hash == h) "post_unchanged"
            else "post_updated"
          state.update(SeenState(h))
          PostEvent(key.site_id, key.id, event, post.title)
      }
  }

  /**
   * Event-time windowed aggregation with watermark (the reference's
   * calendar-range/event-time analog): counts + value sums per
   * (window, event_type).
   */
  def windowedEventCounts(events: DataFrame, windowLen: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("value_sum"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("value_sum"))
}
