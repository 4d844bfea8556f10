package graft.operators

import java.sql.Timestamp
import graft.SparkSuite
import graft.model.Post
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class BucketedCacheSpec extends SparkSuite {
  import spark.implicits._

  private def post(id: String): Post = Post(
    s"site_${id.toInt % 4}", id, s"http://x/$id", None, s"T$id", None, Seq.empty,
    new Timestamp(Timestamp.valueOf("2026-01-01 00:00:00").getTime + id.toInt * 1000L),
    None, None, s"C$id", Seq.empty, None)

  /** Persist posts as a table hash-bucketed and sorted on the merge key:
    * a catalog read of it arrives hash-distributed on (site_id, id), so
    * the cache side of the MERGE join needs no Exchange. */
  private def writeBucketedCache(posts: DataFrame, table: String, buckets: Int): Unit =
    posts.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "site_id", "id")
      .sortBy("site_id", "id")
      .saveAsTable(table)

  test("bucketed cache table joins without an Exchange on the cache side") {
    val cache = Merge.mergeEntries(
      spark.emptyDataset[Post].toDF(),
      (1 to 200).map(i => post(i.toString)).toDF(), Timestamp.valueOf("2026-02-01 00:00:00"))
      .posts
    writeBucketedCache(cache, "graft_cache_test", buckets = 4)
    try {
      val bucketed = spark.table("graft_cache_test")
      val batch = (150 to 250).map(i => post(i.toString)).toDF()
        .repartition(4, col("site_id"), col("id"))
      val joined = bucketed.join(batch, Seq("site_id", "id"), "full_outer")
      val plan = joined.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges <= 1, s"cache side must not shuffle:\n$plan")
      // and the merge over the bucketed cache is still correct
      val merged = Merge.mergeEntries(bucketed, batch.withColumn("seq", col("id").cast("long")),
        Timestamp.valueOf("2026-02-02 00:00:00"))
      assert(merged.posts.count() === 250)
      assert(merged.events.filter(col("event") === "post_created").count() === 50)
    } finally spark.sql("DROP TABLE IF EXISTS graft_cache_test")
  }
}
