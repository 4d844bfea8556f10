package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

/**
 * Plan audits: the optimizations the 100 TB design depends on must be
 * visible in the physical plan, not assumed — predicate pushdown to the
 * parquet scan, column pruning, broadcast of small dimensions, and
 * whole-stage codegen over the custom kernel expressions.
 */
class PlanAuditSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("range filter is pushed down to the parquet scan (q12)") {
    val plan = planOf("q12_range_filter")
    assert(plan.contains("PushedFilters"), plan.take(500))
    assert(plan.contains("GreaterThanOrEqual(ts") || plan.contains("ts#"),
      "ts predicate must reach the scan")
  }

  test("column pruning: q31 scans only (doc_id, text)") {
    val plan = planOf("q31_token_count")
    val readSchema = "ReadSchema: struct<doc_id:bigint,text:string>"
    assert(plan.contains(readSchema), plan.linesIterator.filter(_.contains("ReadSchema"))
      .mkString("\n"))
  }

  test("small dimensions broadcast in the enrichment join (q02)") {
    val plan = planOf("q02_join_enrich")
    assert(plan.contains("BroadcastHashJoin"), "nation/region must broadcast")
    assert(!plan.contains("SortMergeJoin") ||
      plan.split("BroadcastHashJoin").length > 2,
      "no shuffle join for 25/5-row dimensions")
  }

  test("custom kernels stay inside whole-stage codegen (q14)") {
    val df = SparkEntry.queries("q14_url_canonicalize")(spark, sf)
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains("static_invoke"), "kernel must appear as StaticInvoke")
    // the projection carrying the kernel has a codegen id (not fallback)
    assert("\\(\\d+\\) Project \\[codegen id".r.findFirstIn(formatted).isDefined, formatted)
  }

  test("dedup kernels (q26/q27): shingle + minhash-band StaticInvokes, codegen'd, no string shuffle") {
    // the shingle stage itself (it sits behind q26/q27's localCheckpoint
    // barrier, so audit the projection directly): byte-level kernel as a
    // codegen'd StaticInvoke
    val shingleStage = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(graft.functions.GraftFunctions.shingle_hash64(col("text"), 3)))
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(shingleStage.contains("static_invoke") && shingleStage.contains("shingleHash64"),
      "shingle kernel must be a StaticInvoke")
    assert("\\(\\d+\\) Generate \\[codegen id".r.findFirstIn(shingleStage).isDefined ||
      "\\(\\d+\\) Project \\[codegen id".r.findFirstIn(shingleStage).isDefined, shingleStage)
    // the pair join keys on the 8-byte hash — no shingle-string column
    // survives anywhere in the q26 plan
    val q26 = SparkEntry.queries("q26_ngram_jaccard")(spark, sf).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!q26.contains("_shingle#"), "no shingle-string column in the q26 plan")
    val q27 = SparkEntry.queries("q27_minhash_lsh")(spark, sf).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    // band buckets come from the one-pass kernel (codegen proven on the
    // non-adaptive shingle stage above — AQE's pre-execution formatted
    // plan carries no codegen ids), and no 64-wide signature array or
    // band-concat string machinery remains anywhere in the plan
    assert(q27.contains("minhashBands"), "q27 band kernel")
    assert(!q27.contains("concat_ws"), "no string-concat band hashing in q27")
  }

  test("near-dup pairs (q45): tile equi-join + codegen'd cosine kernel, no nested-loop join") {
    val df = SparkEntry.queries("q45_embedding_neardup")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "the pair stage must be an equi-join keyed by tile, not an all-pairs BNLJ")
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin).*_tile".r
      .findFirstIn(plan.linesIterator.mkString(" ")).isDefined ||
      plan.linesIterator.exists(l =>
        l.matches(".*(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin).*") &&
          l.contains("_tile")),
      s"the equi-join's key list must contain _tile:\n${plan.take(2000)}")
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains("static_invoke") || formatted.contains("cosineSim"),
      "cosine must be the StaticInvoke kernel, not an interpreted HOF fold")
  }

  test("IVF ANN (q48): centroids ride as broadcast data, not plan literals, at production nlist") {
    // nlist=256 x dim=64 doubles as expression literals would put ~300 KB of
    // digits (x2: corpus assignment + query probing) into the plan and
    // codegen; as a broadcast single-row table the plan stays O(1) in nlist
    val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val df = graft.operators.Similarity.ivfTopK(
      emb, emb.filter(col("vec_id") < 3), "vec_id", "embedding",
      k = 5, nlist = 256, nprobe = 2, iters = 1)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.length < 100000, s"plan blew up (${plan.length} chars): centroid literals leaked")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      "the centroid matrix must arrive via a broadcast join")
  }

  test("DSv2 source (q46): site pruning + limit + column pruning visible in the scan") {
    val df = spark.read.format("graft.sources.WebSource")
      .option("scale", "100").option("limit_per_site", "10").load()
      .filter(col("site_id") === "biz.ssu.ac.kr")
      .select("site_id", "title").limit(5)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("sites=biz.ssu.ac.kr"), plan.take(600))
    assert(plan.contains("pushedLimit=5"), plan.take(600))
    assert(plan.contains("readColumns=site_id,title"), plan.take(600))
  }

  test("incremental daemon merge: untouched cache partitions prune at the scan and never shuffle") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-incr").toString
    (1 to 300).map(i => (s"site_${i % 3}", i.toString, s"t$i", 0L))
      .toDF("site_id", "id", "title", "rank")
      .write.partitionBy("site_id").parquet(s"$dir/cache")
    val cache = spark.read.parquet(s"$dir/cache")
    val touchedSites = Seq("site_0")
    // the untouched branch (passed through to the merged view, never
    // rewritten): partition-pruned scan, NO Exchange anywhere in its plan
    val untouched = cache.filter(!col("site_id").isin(touchedSites: _*))
    val uPlan = untouched.queryExecution.executedPlan.toString
    assert(!uPlan.contains("Exchange"), s"untouched cache side must not shuffle:\n$uPlan")
    assert(uPlan.contains("PartitionFilters") && uPlan.contains("site_0"),
      s"site filter must prune partitions at the scan:\n${uPlan.take(1200)}")
    // the touched branch scans ONLY the crawled sites' partitions: the
    // merge's shuffle is bounded by the batch, not the cache
    val touched = cache.filter(col("site_id").isin(touchedSites: _*))
    val tPlan = touched.queryExecution.executedPlan.toString
    assert(tPlan.contains("PartitionFilters") && tPlan.contains("site_0"),
      s"touched slice must partition-prune:\n${tPlan.take(1200)}")
  }

  test("daemon run: the feed, calendar-ICS and report plans sort nothing globally") {
    // every plan the run executes, by action name
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(funcName -> qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-daemon").toString
    spark.listenerManager.register(listener)
    try {
      Daemon.run(spark, Daemon.Options(out = s"$dir/out", cache = s"$dir/cache",
        limit = 10, scale = 60, include = Seq("biz.ssu.ac.kr", "ssu-academic-calendar")))
      awaitQuiet(plans.size)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val all = plans.asScala.toSeq
    val feeds = all.filter { case (_, p) => p.contains(s"$dir/out/sites") || p.contains(s"$dir/out/rss") }
    // the ICS render and the reports' merge events are the run's collects
    val collects = all.filter(_._1 == "collect")
    assert(feeds.size === 2, all.map(_._1))
    assert(collects.exists(_._2.contains("starts_at")), "the ICS collect")
    assert(collects.exists(_._2.contains("_event")), "the report collect")
    (feeds ++ collects).foreach { case (name, p) =>
      assert(!p.toLowerCase.contains("rangepartitioning"), s"$name plan:\n$p")
    }
  }

  test("containment (q60): probe broadcasts, the corpus side never sort-merge-joins") {
    val plan = planOf("q60_containment")
    // probe shingles + df-cut + denominator all ride as broadcasts: the
    // corpus scan flows map-side into the intersection join, and the only
    // exchanges left are the pair/size aggregations
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("SortMergeJoin"),
      "corpus side must not sort-merge-join:\n" + plan.take(1200))
  }

  test("sessionize (q55): one exchange feeds lag, session ids, and the session aggregate") {
    val plan = planOf("q55_sessionize")
    val n = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(n === 1, s"expected a single user_id exchange, got $n:\n" + plan.take(1200))
  }

  test("merge join keys: the MERGE shuffles on (site_id, id) exactly once per side (q04)") {
    val plan = planOf("q04_merge_upsert")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      "full-outer cache merge is a shuffle join")
    assert(plan.contains("FullOuter") || plan.contains("full_outer") ||
      plan.toLowerCase.contains("fullouter"))
  }
}
