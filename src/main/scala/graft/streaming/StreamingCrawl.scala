package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.crawl.{Crawl, FrontierKey, Sso, SyntheticWeb}

/**
 * The crawl's wave loop as a SELF-FEEDING Structured Streaming query
 * (SURVEY.md §2.10: the reference daemon is a scheduled micro-batch loop —
 * here the loop itself is the stream):
 *
 *  - the FRONTIER is a watched parquet directory: the seed wave is written
 *    first, and every micro-batch appends the links it DISCOVERS back into
 *    the same directory — the file source picks them up as the next
 *    trigger's input, so the breadth expansion drives itself;
 *  - each micro-batch canonicalizes + robots-filters + seen-filters its
 *    slice (the seen set is a parquet state table swapped per batch,
 *    exactly like [[StreamingMerge.foreachBatchMerge]]'s cache), fetches
 *    with the batch crawl's two expansion kernels (SSO bootstrap
 *    included), and APPENDS the fetched posts to the output table;
 *  - `query.processAllAvailable()` drains until the frontier stops
 *    growing — the streaming analog of "crawl until the frontier is empty".
 *
 * Politeness note: the virtual per-host clock is a per-WAVE artifact of the
 * batch scheduler; the streaming flavor leaves pacing to the live fetch
 * executor (ThrottledFetch) and asserts equality on the CONTENT outcomes:
 * the posts and the url_hash seen set match the batch crawl exactly
 * (StreamingCrawlSpec).
 */
object StreamingCrawl {

  private val reqSchema = StructType(Seq(
    StructField("url", StringType), StructField("site_id", StringType),
    StructField("kind", StringType), StructField("page", IntegerType),
    StructField("row", IntegerType), StructField("depth", IntegerType)))

  final case class Result(posts: DataFrame, seen: DataFrame, batches: Long)

  def run(spark: SparkSession, cfg: Crawl.Config, workDir: String): Result = {
    import spark.implicits._
    val frontierDir = s"$workDir/frontier"
    val postsDir = s"$workDir/posts"
    val seenDir = s"$workDir/seen"
    val checkpoint = s"$workDir/checkpoint"

    // seed wave: the same deterministic seed list the batch crawl uses
    Crawl.seeds(spark, cfg).toDF()
      .write.mode("overwrite").parquet(frontierDir)

    val scale = cfg.scale; val limit = cfg.limitPerSite; val rev = cfg.rev
    val probe = cfg.probePagination
    var batches = 0L

    val query = spark.readStream.schema(reqSchema).parquet(frontierDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val s = batch.sparkSession
        import s.implicits._
        batches += 1
        // key + robots Disallow (the batch crawl's key kernel, over the
        // URL this frontier carries) + in-batch dedup + seen filter
        val keyed = batch.toDF()
          .select(col("url"), col("site_id"), col("kind"), col("page"), col("row"),
            col("depth"), inline(FrontierKey.url_key(col("url"))))
          .dropDuplicates("url_hash")
        // same first-run semantics as the batch cache: ONLY a cleanly
        // missing path is empty — a missing dir WITH `.old` swap leftovers
        // (crash inside the swap below, then checkpoint resume)
        // fails loudly instead of silently restarting the seen set from
        // empty and re-fetching history into the append-mode posts dir
        val seen = StreamingMerge.readSnapshotOr(s, seenDir)(
          Seq.empty[Long].toDF("url_hash"))
        val fresh = keyed.join(seen, Seq("url_hash"), "left_anti")
          .select("url_hash", "url", "site_id", "kind", "page", "row", "depth")
          .cache()
        // the batch crawl's two expansion kernels, each one pass over the
        // cached slice
        val reqs = fresh
          .select("url", "site_id", "kind", "page", "row", "depth")
          .as[SyntheticWeb.Req]
        reqs.mapPartitions(it =>
            Crawl.postsPartition(it, scale, limit, rev, Sso.partitionSessions(() => ())))
          .map(_._1).toDF()
          .write.mode("append").parquet(postsDir)
        // discovered links feed the WATCHED directory -> next micro-batch
        val links = reqs.mapPartitions(it => Crawl.linksPartition(it, scale, limit, rev, probe,
          Sso.partitionSessions(() => ()))).toDF()
        if (!links.isEmpty) links.write.mode("append").parquet(frontierDir)
        // seen-state swap: the same checked rename-aside commit as
        // foreachBatchMerge's cache, so old state is never deleted before
        // the new one is in place
        val tmp = seenDir + ".next"
        seen.unionByName(fresh.select("url_hash")).write.mode("overwrite").parquet(tmp)
        StreamingMerge.swapSnapshot(s, seenDir, tmp, batchId.toString)
        fresh.unpersist()
        ()
      }
      .start()
    query.processAllAvailable() // drains: re-checks after each batch's appends
    query.stop()

    Result(spark.read.parquet(postsDir), spark.read.parquet(seenDir), batches)
  }
}
