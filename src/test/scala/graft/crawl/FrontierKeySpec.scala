package graft.crawl

import graft.SparkSuite
import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._

/** The one-parse frontier key kernel against the column shapes it
  * replaced, and link discovery against the full expansion, over the whole
  * expansion graph at both revs (traps, auth and calendar included). */
class FrontierKeySpec extends SparkSuite {
  import spark.implicits._

  // deep enough that many boards reach the every-5th-page robots traps
  private val scale = 600L
  private val limit = 200L

  /** The replaced keying: two hashes over the string kernels, a broadcast
    * robots join for the delay and a Disallow lambda over the path. */
  private def referenceKeys(frontier: org.apache.spark.sql.DataFrame) = {
    val robots = Robots.fleetRules.map(r => (r.host, r.crawl_delay_ms, r.disallow))
      .toDF("host", "crawl_delay_ms", "disallow")
    frontier
      .withColumn("host", GraftFunctions.url_host(col("url")))
      .join(broadcast(robots), Seq("host"), "left")
      .select(col("site_id"), col("kind"), col("page"), col("row"),
        xxhash64(GraftFunctions.url_canonicalize(col("url"))),
        xxhash64(col("host")),
        coalesce(col("crawl_delay_ms"), lit(300)),
        coalesce(!exists(col("disallow"),
          d => GraftFunctions.url_path(col("url")).startsWith(d)), lit(true)))
      .as[(String, String, Int, Int, Long, Long, Int, Boolean)].collect()
      .map(r => (r._1, r._2, r._3, r._4) -> (r._5, r._6, r._7, r._8)).toMap
  }

  test("wave_key == xxhash64(url_canonicalize), xxhash64(url_host), robots delay, Disallow verdict") {
    for (rev <- 0 to 1) {
      val frontier = ExpansionWalk(scale, limit, rev).map(_._1).toDF()
      val want = referenceKeys(frontier)
      val got = frontier.select(col("site_id"), col("kind"), col("page"), col("row"),
          FrontierKey.wave_key(col("site_id"), col("kind"), col("page"), col("row"),
            scale, rev).as("k"),
          FrontierKey.url_key(col("url")).as("u"))
        .select(col("site_id"), col("kind"), col("page"), col("row"),
          size(col("k")), get(col("k"), lit(0)).as("k0"), col("k") === col("u"))
        .select(col("site_id"), col("kind"), col("page"), col("row"), col("size(k)"),
          col("k0.url_hash"), col("k0.host_hash"), col("k0.crawl_delay_ms"), col("(k = u)"))
        .as[(String, String, Int, Int, Int, Option[Long], Option[Long], Option[Int], Boolean)]
        .collect()
      assert(got.length === want.size)
      got.foreach { case (site, kind, page, row, n, urlHash, hostHash, delay, sameAsUrlKey) =>
        val at = s"rev=$rev $site $kind page=$page row=$row"
        val (wHash, wHost, wDelay, allowed) = want((site, kind, page, row))
        assert(sameAsUrlKey, s"$at: url_key differs from wave_key")
        if (!allowed) assert(n === 0, s"$at: disallowed URL got a key")
        else {
          assert(n === 1, at)
          assert((urlHash.get, hostHash.get, delay.get) === ((wHash, wHost, wDelay)), at)
        }
      }
      val disallowed = want.values.count(!_._4)
      assert(disallowed > 10, s"rev=$rev: only $disallowed robots traps in the walk")
      assert(want.keys.map(_._1).toSet.size === Sites.all.size)
    }
  }

  test("inline(wave_key) evaluates the kernel once per row, filters included") {
    val walk = ExpansionWalk(scale, limit, 0).map(_._1)
    val frontier = walk.toDF().drop("url")
    val keyed = frontier.select(col("site_id"), col("kind"), col("page"), col("row"),
        col("depth"), inline(FrontierKey.wave_key(col("site_id"), col("kind"),
          col("page"), col("row"), scale, 0)))
      // the seen-probe's filter shape: a predicate over the generated columns
      .filter(col("url_hash") =!= 0L && col("crawl_delay_ms") > 0)
    val plan = keyed.queryExecution.executedPlan.toString
    assert("waveKey".r.findAllIn(plan).size === 1, plan)
    // the robots traps are the walk's only disallowed rows
    assert(keyed.count() === walk.count(r => !SyntheticWeb.isTrap(r.url)))
    // the wave's seen probe: each branch of its union keys its own rows once
    val seen = Seq(1L, 2L).toDF("url_hash")
    val bloom = SeenSet.buildBloom(seen, "url_hash", 2)
    val probed = SeenSet.filterNewProbe(keyed, seen, "url_hash",
      Some(SeenSet.mightContain(bloom, col("url_hash"))))
    val probedPlan = probed.queryExecution.executedPlan.toString
    assert("waveKey".r.findAllIn(probedPlan).size === 2, probedPlan)
  }

  test("a wave's keyed stage and its stage-out read generate the same code at every (scale, rev)") {
    // the whole-stage code of every query of a two-site crawl that calls
    // a URL kernel
    def kernelStages(scale: Long, rev: Int): Set[String] =
      wholeStageCode(Crawl.run(spark, Crawl.Config(scale = scale, limitPerSite = 20,
        rev = rev, include = Seq("biz.ssu.ac.kr", "bioinfo.ssu.ac.kr"))))
        .filter(b => b.contains("waveKey(") || b.contains("rebuildUrl("))
    val a = kernelStages(1000, 0)
    assert(a.exists(_.contains("waveKey(")) && a.exists(_.contains("rebuildUrl(")), a.size)
    assert(a === kernelStages(60, 1))
  }

  // expand takes a list page's links from links(), so this pins the post
  // branch and the SSO check; the list branch is pinned by the crawl's
  // recorded counts (WaveCountsSpec) and fingerprints
  test("links(req) == expand(req)._2 over the expansion graph") {
    for (rev <- 0 to 1) {
      var posts = 0
      ExpansionWalk(scale, limit, rev).foreach { case (req, session) =>
        // traps are robots-dropped before any fetch, so never expanded
        if (!SyntheticWeb.isTrap(req.url)) {
          val (post, links) = SyntheticWeb.expand(req, scale, limit, rev, session)
          assert(SyntheticWeb.links(req, scale, limit, rev, session) === links,
            s"rev=$rev ${req.site_id} ${req.kind} page=${req.page} row=${req.row}")
          assert(post.isDefined === (req.kind == "post"))
          if (post.isDefined) posts += 1
        }
      }
      assert(posts > 500, s"rev=$rev: only $posts post pages walked")
    }
    // links keeps expand's SSO check: an auth-family page needs a session
    val site = SyntheticWeb.siteById("path.ssu.ac.kr")
    intercept[IllegalStateException] {
      SyntheticWeb.links(SyntheticWeb.Req(SyntheticWeb.listUrl(site, 1), site.site_id,
        "list", 1, 0, 0), scale, limit, 0)
    }
  }
}
