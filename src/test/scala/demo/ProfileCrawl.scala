package demo
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.GraftFunctions

object ProfileCrawl {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val sites = graft.crawl.Sites.all.filter(_.family != "calendar")
    val siteArr = sites.toArray
    val n = 3500000
    val reqs = spark.range(n).map { i =>
      val site = siteArr((i % siteArr.length).toInt)
      graft.crawl.SyntheticWeb.Req(
        graft.crawl.SyntheticWeb.postUrl(site, i / siteArr.length + 1),
        site.site_id, "post", (i % 2000).toInt, (i % 15).toInt, 2)
    }.toDF().persist()
    println("rows: " + reqs.count())
    def time(label: String)(df: org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      val c = df.count()
      println(f"$label: ${(System.nanoTime()-t0)/1e9}%.2fs ($c rows)")
    }
    val keyed = reqs
      .withColumn("canonical", GraftFunctions.url_canonicalize(col("url")))
      .withColumn("url_hash", xxhash64(col("canonical")))
      .withColumn("host", GraftFunctions.url_host(col("url")))
    time("a_canon+hash+host")(keyed)
    val wDedup = Window.partitionBy("url_hash").orderBy(col("depth"), col("site_id"), col("page"), col("row"))
    val inWave = keyed.withColumn("_rn", row_number().over(wDedup)).filter(col("_rn") === 1).drop("_rn")
    time("b_+dedup_window")(inWave)
    // bloom over a synthetic seen set of 300k hashes
    val seen = spark.range(300000).select(xxhash64(col("id")).as("url_hash")).persist()
    seen.count()
    val bloom = graft.crawl.SeenSet.buildBloom(seen, "url_hash", 300000)
    println("bloom bytes: " + bloom.length)
    val fresh = inWave.filter(!graft.crawl.SeenSet.mightContain(bloom, col("url_hash")))
    time("c_+bloom_probe")(fresh)
    val wHost = Window.partitionBy("host").orderBy(col("depth"), col("site_id"), col("page"), col("row"))
    val sched = fresh.withColumn("ready_ms", (row_number().over(wHost) - 1).cast("long"))
    time("d_+host_window")(sched)
    val rep = sched.withColumn("host_hash", xxhash64(col("host"))).withColumn("salt", pmod(col("url_hash"), lit(8)))
      .repartition(8, col("host_hash"), col("salt"))
    time("e_+repartition")(rep)
    val persisted = rep.persist()
    time("f_+persist")(persisted)
    // expand typed flatMap: every request's document and links are built,
    // the links are counted
    val exp = persisted.select("url","site_id","kind","page","row","depth").as[graft.crawl.SyntheticWeb.Req]
      .mapPartitions { it =>
        val sessionFor = graft.crawl.Sso.partitionSessions(() => ())
        it.flatMap { req =>
          val site = graft.crawl.SyntheticWeb.siteById(req.site_id)
          val s = if (site.family == "auth") Some(sessionFor(site.host)) else None
          graft.crawl.SyntheticWeb.expand(req, 1000000, 300000, 0, s)._2 } }
    time("g_expand")(exp.toDF())
    spark.stop()
  }
}
