package graft.operators

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * The merge/upsert core of the engine — a faithful, distributed
 * re-expression of the reference's `merge_entries`
 * (packages/ssufid/src/core/mod.rs:336-385) and
 * `merge_calendar_entries` (mod.rs:397-437).
 *
 * Reference semantics reproduced exactly (unit-tested against the ported
 * scenario of mod.rs:640-794):
 *  - old posts are ordered by `created_at` (stable), forming insertion
 *    ranks 1..n per site;
 *  - new posts are processed in `created_at` order (stable by arrival seq);
 *  - id absent in old        -> INSERT at the end (event `post_created`);
 *  - id present, contents_eq -> keep the old row untouched;
 *  - id present, changed, new.updated_at set -> REPLACE with new row
 *    (keeps its own updated_at), at the old row's rank;
 *  - id present, changed, new.updated_at unset -> REPLACE with new row but
 *    PRESERVE old.created_at and stamp updated_at = `now` (injected batch
 *    timestamp — the reference's nondeterministic `OffsetDateTime::now` is
 *    made deterministic here), at the old row's rank (event `post_updated`).
 *
 * Scale design (100 TB cache, small per-batch crawl):
 *  - the exact merge is ONE full-outer shuffle join keyed by
 *    (site_id, id), then one site exchange for the post-join rank
 *    windows;
 *  - [[mergeEntriesIncremental]] avoids rewriting the untouched cache: the
 *    (small) new batch's key set is broadcast as a join filter, only the
 *    touched slice of the cache enters the join, the rest is passed
 *    through unchanged — at 10^10 rows this turns a full-cache shuffle
 *    into a broadcast semi/anti join.
 *
 * Both inputs must carry the post schema (graft.model.Post + site_id);
 * `old` may carry a `rank` column (insertion order from the previous
 * snapshot) — if absent, ranks are derived from (created_at, id).
 */
object Merge {

  final case class MergeResult(posts: DataFrame, events: DataFrame)

  /** Reference contents-equality as a Column (post.rs:50-56): trimmed id,
    * trimmed title, exact category, trimmed content. */
  def contentsEq(o: String => Column, n: String => Column): Column =
    (trim(o("id")) <=> trim(n("id"))) &&
      (trim(o("title")) <=> trim(n("title"))) &&
      (o("category") <=> n("category")) &&
      (trim(o("content")) <=> trim(n("content")))

  private val postCols = Seq("site_id", "id", "url", "author", "title", "description",
    "category", "created_at", "updated_at", "thumbnail", "content", "attachments", "metadata")

  /**
   * Exact merge. `newDf` needs an arrival-order column `seq` (0-based order
   * within the batch; pagination order (page, row) flattened) — the
   * reference's stable sort tiebreaker. Emits posts (+`rank`) and a
   * `post_created`/`post_updated` event table. Inserts are ranked after the
   * per-site max of `oldDf.rank`, or after `rankBase` when given: one
   * `(site_id, rank_base)` row per site, a site without a row starting at 0.
   */
  def mergeEntries(oldDf: DataFrame, newDf: DataFrame, now: Timestamp,
      stageResult: Boolean = false, rankBase: Option[DataFrame] = None): MergeResult = {
    val spark = oldDf.sparkSession

    val oldRanked =
      if (oldDf.columns.contains("rank")) oldDf
      else oldDf.withColumn("rank",
        row_number().over(Window.partitionBy("site_id").orderBy(col("created_at"), col("id"))))

    // Arrival-order tiebreaker: callers pass `seq` (crawl order). The
    // fallback derives it from explicit content columns — NEVER from
    // partition order (monotonically_increasing_id would silently break
    // the engine-wide determinism contract for created_at ties).
    val newSeq =
      if (newDf.columns.contains("seq")) newDf
      else newDf.withColumn("seq", xxhash64(col("site_id"), col("id")))

    val o = oldRanked.select(
      (postCols :+ "rank").map(c => col(c).as(s"o_$c")): _*)
    // inserts only come from the new side, so the base rides on its rows
    val newBased = rankBase.fold(newSeq)(b =>
      newSeq.join(broadcast(b.select("site_id", "rank_base")), Seq("site_id"), "left"))
    val n = newBased.select((postCols ++ Seq("seq") ++ rankBase.map(_ => "rank_base"))
      .map(c => col(c).as(s"n_$c")): _*)

    val joined = o.join(n,
      o("o_site_id") === n("n_site_id") && o("o_id") === n("n_id"), "full_outer")

    val oc: String => Column = f => col(s"o_$f")
    val nc: String => Column = f => col(s"n_$f")
    val isInsert = oc("id").isNull
    val eq = contentsEq(oc, nc)
    val isUpdate = oc("id").isNotNull && nc("id").isNotNull && !eq

    // Per-site max old rank to append inserts after all existing rows.
    val siteKey = coalesce(oc("site_id"), nc("site_id"))
    val maxOldRank = coalesce(
      if (rankBase.isDefined) nc("rank_base")
      else max(oc("rank")).over(Window.partitionBy(siteKey)),
      lit(0L))
    // Inserts keep the new batch's stable order after the old block:
    // running count of inserts in new-batch order, created_at then arrival
    // (nulls — old-only rows — sort first and contribute 0). Ordering by
    // the new side's own columns needs no ranking exchange before the join.
    val wIns = Window.partitionBy(siteKey)
      .orderBy(nc("created_at").asc_nulls_first, nc("seq").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val insertRank = maxOldRank + sum(when(isInsert, 1L).otherwise(0L)).over(wIns)

    def pick(f: String): Column = f match {
      case "created_at" =>
        when(isInsert, nc(f))
          .when(isUpdate, oc("created_at")) // preserved unless new has own updated_at
          .otherwise(oc(f))
      case "updated_at" =>
        when(isInsert, nc(f))
          .when(isUpdate, coalesce(nc("updated_at"), lit(now)))
          .otherwise(oc(f))
      case _ =>
        when(isInsert || isUpdate, nc(f)).otherwise(oc(f))
    }

    // When new carries its own updated_at, it replaces wholesale — including
    // created_at (reference mod.rs:361-371).
    val createdAt = when(isUpdate && nc("updated_at").isNotNull, nc("created_at"))
      .otherwise(pick("created_at"))

    val merged0 = joined.select(
      (postCols.map {
        case "created_at" => createdAt.as("created_at")
        case f            => pick(f).as(f)
      } :+
        when(isInsert, insertRank).otherwise(oc("rank")).cast("long").as("rank") :+
        when(isInsert, lit("post_created"))
          .when(isUpdate, lit("post_updated"))
          .otherwise(lit(null).cast("string")).as("_event")): _*)
    // stageResult: materialize the joined/window'd merge ONCE (lazily, on
    // first consumer) so posts and events don't each re-run the full-outer
    // join + three windows — the one-crawl-many-consumers daemon shape.
    val merged = if (stageResult) merged0.localCheckpoint(eager = false) else merged0

    val events = merged.filter(col("_event").isNotNull)
      .select(col("site_id"), col("_event").as("event"), col("id").as("post_id"),
        col("title"), col("url"))
    MergeResult(merged.drop("_event"), events)
  }

  /**
   * Incremental merge for huge caches: only cache rows whose (site_id, id)
   * appears in the new batch enter the join; everything else is passed
   * through untouched. The new batch is staged once and its key set
   * broadcast (it is per-run crawl output: bounded, small relative to the
   * cache).
   */
  def mergeEntriesIncremental(oldDf: DataFrame, newDf: DataFrame, now: Timestamp): MergeResult = {
    // staged: the key set below and the merge join both read the batch,
    // and each would otherwise re-run the crawl fetch underneath it
    val batch = newDf.localCheckpoint(eager = false)
    // a semi/anti join never multiplies its left rows, so the broadcast
    // key set needs no distinct (and no aggregate exchange)
    val keys = batch.select("site_id", "id")
    val touched = oldDf.join(broadcast(keys), Seq("site_id", "id"), "left_semi")
    val untouched = oldDf.join(broadcast(keys), Seq("site_id", "id"), "left_anti")
    // Insert ranks start after the per-site max over the FULL cache, not
    // just its touched rows: an insert gets siteMax + k, and a kept or
    // updated row keeps its own rank
    val maxRanks = oldDf.groupBy("site_id").agg(max("rank").cast("long").as("rank_base"))
    // staged: the daemon checkpoints the posts and then the events, and
    // each would otherwise re-run the whole join and its windows
    val r = mergeEntries(touched, batch, now, stageResult = true, rankBase = Some(maxRanks))
    MergeResult(untouched.select(r.posts.columns.map(col): _*).unionByName(r.posts), r.events)
  }

  /** The cache's canonical per-site layout: ONE exchange keyed by site_id,
    * then a (rank, id) sort inside each site. Each site is whole in one
    * partition, so a partitioned write emits one file per site, and the
    * rows' order is a pure function of the logical state.
    * [[graft.sinks.Feeds]] renders from this layout without a shuffle. */
  def clusterBySite(posts: DataFrame): DataFrame =
    posts.repartition(col("site_id"))
      .sortWithinPartitions(col("site_id"), col("rank"), col("id"))

  /** Newest-first top-K per site (reference mod.rs:142-147: `.rev().take(k)`). */
  def topKPerSite(posts: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("site_id").orderBy(col("rank").desc)
    posts.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .drop("_rn")
  }

  /**
   * Calendar replace-in-range merge (mod.rs:397-437): keep old entries
   * OUTSIDE [start, end]; take new entries (all inside the range), upsert
   * by id (later arrival wins); result ordered by (starts_at, id).
   * This is a dynamic-partition-overwrite on the event-time range: with a
   * date-partitioned state table only in-range partitions are rewritten.
   */
  def mergeCalendarReplaceInRange(
      oldDf: DataFrame, newDf: DataFrame, start: Timestamp, end: Timestamp): DataFrame =
    calendarReplaceInRange(oldDf, newDf, start, end).orderBy(col("starts_at"), col("id"))

  /** [[mergeCalendarReplaceInRange]]'s rows without its global order. */
  def calendarReplaceInRange(
      oldDf: DataFrame, newDf: DataFrame, start: Timestamp, end: Timestamp): DataFrame = {
    val dedupNew =
      if (newDf.columns.contains("seq")) {
        val w = Window.partitionBy("id").orderBy(col("seq").desc)
        newDf.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
          .drop("_rn", "seq")
      } else newDf.dropDuplicates("id")
    // Old survivors: outside the range AND not superseded by a same-id new
    // entry (the reference upserts by id even across the range boundary).
    val keptOld = oldDf.filter(!col("starts_at").between(lit(start), lit(end)))
      .join(dedupNew.select("id"), Seq("id"), "left_anti")
    keptOld.unionByName(dedupNew.select(keptOld.columns.map(col): _*))
  }

  /** Calendar output filter (mod.rs:258-266): in-range, newest-first. */
  def calendarInRange(df: DataFrame, start: Timestamp, end: Timestamp): DataFrame =
    df.filter(col("starts_at").between(lit(start), lit(end)))
      .orderBy(col("starts_at").desc, col("id").desc)
}
