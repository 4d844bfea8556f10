package graft.operators

import java.sql.Timestamp
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}
import graft.model.Post

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
 * Scale design (100 TB cache, small per-batch crawl): [[mergeEntries]] is
 * ONE full-outer shuffle join keyed by (site_id, id) plus one site
 * exchange for its rank windows; the daemon's [[mergeBySite]] is the
 * reference's sequential pass, one per site behind ONE site_id exchange,
 * over only the crawled sites' cache partitions.
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
   * per-site max of `oldDf.rank`.
   */
  def mergeEntries(oldDf: DataFrame, newDf: DataFrame, now: Timestamp): MergeResult = {
    val oldRanked =
      if (oldDf.columns.contains("rank")) oldDf
      else oldDf.withColumn("rank",
        row_number().over(Window.partitionBy("site_id").orderBy(col("created_at"), col("id"))))

    val o = oldRanked.select(
      (postCols :+ "rank").map(c => col(c).as(s"o_$c")): _*)
    val n = withSeq(newDf).select((postCols :+ "seq").map(c => col(c).as(s"n_$c")): _*)

    val joined = o.join(n,
      o("o_site_id") === n("n_site_id") && o("o_id") === n("n_id"), "full_outer")

    val oc: String => Column = f => col(s"o_$f")
    val nc: String => Column = f => col(s"n_$f")
    val isInsert = oc("id").isNull
    val eq = contentsEq(oc, nc)
    val isUpdate = oc("id").isNotNull && nc("id").isNotNull && !eq

    // Per-site max old rank to append inserts after all existing rows.
    val siteKey = coalesce(oc("site_id"), nc("site_id"))
    val maxOldRank = coalesce(max(oc("rank")).over(Window.partitionBy(siteKey)), lit(0L))
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

    result(joined.select(
      (postCols.map {
        case "created_at" => createdAt.as("created_at")
        case f            => pick(f).as(f)
      } :+
        when(isInsert, insertRank).otherwise(oc("rank")).cast("long").as("rank") :+
        when(isInsert, lit("post_created"))
          .when(isUpdate, lit("post_updated"))
          .otherwise(lit(null).cast("string")).as("_event")): _*))
  }

  /**
   * [[mergeEntries]]' result for `cache` rows with their `rank` and a
   * `batch` unique on (site_id, id), as the reference computes it: ONE
   * site_id exchange takes both, a sort puts each site's batch rows (null
   * rank) before its cache rows in (rank, id) order, and one pass per site
   * buffers the batch, streams the cache rows through, each kept or
   * replaced at its rank, then appends the unmatched batch rows. The output
   * is the cache's layout, each site whole in one partition in (rank, id)
   * order: a partitioned write emits one file per site with bytes that are
   * a function of the logical state, and [[graft.sinks.Feeds]] renders it
   * without a shuffle. It is staged (an eager localCheckpoint), which also
   * cuts its lineage to `cache`: the caller may overwrite what it read.
   */
  def mergeBySite(cache: DataFrame, batch: DataFrame, now: Timestamp): MergeResult = {
    val side = (df: DataFrame, rank: Column, seq: Column) =>
      df.select(postCols.map(col) :+ rank.cast("long").as("rank") :+ seq.cast("long").as("seq"): _*)
    val sides = side(withSeq(batch), lit(null), col("seq"))
      .unionByName(side(cache, col("rank"), lit(null)))
      .repartition(col("site_id"))
      .sortWithinPartitions(col("site_id"), col("rank"), col("id"))
    result(sides
      .mapPartitions { (in: Iterator[Row]) =>
        val rows = in.buffered
        Iterator.continually(rows).takeWhile(_.hasNext).flatMap(mergeSite(_, now))
      }(Encoders.row(StructType(sides.schema.init).add("_event", StringType)))
      // the pass hides its output order from the planner: this sort finds
      // the rows in order and declares it, so the cache write adds none
      .sortWithinPartitions(col("site_id"), col("rank"), col("id"))
      .localCheckpoint())
  }

  // a pass row holds the post's fields, then `rank`, then `seq` or `_event`
  private val Seq(siteIx, idIx, titleIx, categoryIx, createdIx, updatedIx, contentIx) =
    Seq("site_id", "id", "title", "category", "created_at", "updated_at", "content")
      .map(postCols.indexOf)
  private val rankIx = postCols.size

  /** The merge of the site at the head of `rows`, which it consumes. */
  private def mergeSite(rows: BufferedIterator[Row], now: Timestamp): Iterator[Row] = {
    val site = rows.head.getString(siteIx)
    def inSite = rows.hasNext && rows.head.getString(siteIx) == site
    // the site's batch rows that no cache row has matched yet
    val batch = mutable.LinkedHashMap.empty[String, Row]
    while (inSite && rows.head.isNullAt(rankIx)) {
      val n = rows.next()
      require(batch.put(n.getString(idIx), n).isEmpty, s"batch repeats $site/${n.getString(idIx)}")
    }
    var lastRank = 0L
    def out(r: Row, rank: Long, ev: String): Array[Any] =
      Array.tabulate(rankIx + 2)(i => if (i < rankIx) r.get(i) else if (i == rankIx) rank else ev)
    val cached = Iterator.continually(rows).takeWhile(_ => inSite).map(_.next()).map { o =>
      lastRank = o.getLong(rankIx)
      new GenericRow(batch.remove(o.getString(idIx)) match {
        case Some(n) if !Post.contentsEq(o.getString(idIx), o.getString(titleIx),
            o.getSeq[String](categoryIx), o.getString(contentIx))(n.getString(idIx),
            n.getString(titleIx), n.getSeq[String](categoryIx), n.getString(contentIx)) =>
          val v = out(n, lastRank, "post_updated")
          // a new row without its own updated_at keeps the old created_at
          // and is stamped `now` (reference mod.rs:361-371)
          if (n.isNullAt(updatedIx)) { v(createdIx) = o.get(createdIx); v(updatedIx) = now }
          v
        case _ => out(o, lastRank, null)
      })
    }
    // `++` takes its right side by name: the inserts are ordered, as the
    // exact merge orders them, and ranked once the cache rows have gone by
    cached ++ batch.values.toSeq
      .sortBy(n => (Option(n.getTimestamp(createdIx)), n.getLong(rankIx + 1)))
      .iterator.zipWithIndex
      .map { case (n, k) => new GenericRow(out(n, lastRank + k + 1, "post_created")) }
  }

  /** Arrival-order tiebreaker: callers pass `seq` (crawl order). The
    * fallback derives it from explicit content columns — NEVER from
    * partition order (monotonically_increasing_id would silently break
    * the engine-wide determinism contract for created_at ties). */
  private def withSeq(newDf: DataFrame): DataFrame =
    if (newDf.columns.contains("seq")) newDf
    else newDf.withColumn("seq", xxhash64(col("site_id"), col("id")))

  /** Posts and their events from merged rows that carry `_event`. */
  private def result(merged: DataFrame): MergeResult =
    MergeResult(merged.drop("_event"), merged.filter(col("_event").isNotNull)
      .select(col("site_id"), col("_event").as("event"), col("id").as("post_id"),
        col("title"), col("url")))

  /** Newest-first top-K per site (reference mod.rs:142-147: `.rev().take(k)`)
    * of posts laid out as [[mergeBySite]] leaves them: each site's last `k`
    * rows, in rank order. One narrow pass keeps them with the deque
    * [[graft.sinks.Feeds.perSite]] uses, so no exchange or sort runs. */
  def newestPerSite(clustered: DataFrame, k: Int): DataFrame = {
    val siteIx = clustered.schema.fieldIndex("site_id")
    clustered.mapPartitions { (in: Iterator[Row]) =>
      val rows = in.buffered
      Iterator.continually(rows).takeWhile(_.hasNext && k > 0).flatMap { rs =>
        val site = rs.head.getString(siteIx)
        val newest = new java.util.ArrayDeque[Row](k + 1)
        while (rs.hasNext && rs.head.getString(siteIx) == site) {
          newest.addLast(rs.next())
          if (newest.size > k) newest.removeFirst()
        }
        newest.iterator.asScala
      }
    }(Encoders.row(clustered.schema))
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
    // The anti-join probes the new ids as they come: dedup keeps each id,
    // so deduplicating them first would only add an aggregation.
    val keptOld = oldDf.filter(!col("starts_at").between(lit(start), lit(end)))
      .join(newDf.select("id"), Seq("id"), "left_anti")
    keptOld.unionByName(dedupNew.select(keptOld.columns.map(col): _*))
  }

  /** Calendar output filter (mod.rs:258-266): in-range, newest-first. */
  def calendarInRange(df: DataFrame, start: Timestamp, end: Timestamp): DataFrame =
    df.filter(col("starts_at").between(lit(start), lit(end)))
      .orderBy(col("starts_at").desc, col("id").desc)
}
