package graft.crawl

import java.sql.Timestamp
import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSuite {
  import spark.implicits._

  test("a one-site cycle keeps an uncrawled site's rows and ranks inserts after the cache max") {
    val (crawled, other) = ("biz.ssu.ac.kr", "bioinfo.ssu.ac.kr")
    val now = Timestamp.valueOf("2026-01-15 00:00:00")
    val both = Crawl.Config(scale = 60, limitPerSite = 10, include = Seq(crawled, other))
    val cache0 = Pipeline.runDaemon(both, Crawl.run(spark, both),
      Pipeline.emptyCache(spark), now, topK = 10).cache
    // the crawled site's two newest posts leave the cache, and its ranks
    // move up so that its maximum is not its row count
    val dropped = cache0.filter(col("site_id") === crawled)
      .orderBy(col("rank").desc).limit(2).select("id").as[String].collect().toSet
    val cache = cache0
      .filter(!(col("site_id") === crawled && col("id").isin(dropped.toSeq: _*)))
      .withColumn("rank",
        when(col("site_id") === crawled, col("rank") + 1000L).otherwise(col("rank")))
      .localCheckpoint()
    val cacheMax = cache.filter(col("site_id") === crawled)
      .agg(max("rank")).as[Long].head()

    val one = both.copy(include = Seq(crawled))
    val out = Pipeline.runDaemon(one, Crawl.run(spark, one), cache, now, topK = 10)
    assert(out.touchedSites === Seq(crawled))
    assert(out.siteJson.select("site_id").as[String].collect().toSeq === Seq(crawled))

    def rows(df: DataFrame, site: String): Seq[String] =
      df.filter(col("site_id") === site)
        .select(col("rank"), col("id"), to_json(struct(df.columns.map(col): _*)))
        .orderBy("rank", "id").collect().map(_.getString(2)).toSeq
    assert(rows(cache, other).nonEmpty)
    assert(rows(out.cache, other) === rows(cache, other))

    val created = out.events.filter(col("event") === "post_created")
      .select("post_id").as[String].collect().toSet
    assert(created === dropped)
    val insertRanks = out.cache
      .filter(col("site_id") === crawled && col("id").isin(dropped.toSeq: _*))
      .select("rank").as[Long].collect().sorted.toSeq
    assert(insertRanks === Seq(cacheMax + 1, cacheMax + 2))
  }
}
