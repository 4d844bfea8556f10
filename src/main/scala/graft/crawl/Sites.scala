package graft.crawl

/**
 * The site fleet: the 54 plugins registered in the reference
 * (packages/cli/src/main.rs:128-190 — 53 post + 1 calendar), with their
 * crawl family (the pagination/URL grammar they use, SURVEY.md §2.1) and
 * politeness delay (reference precedent: 300 ms fixed sleep in the
 * wordpress family, plugins/common/src/common/wordpress/mod.rs:146; other
 * families fetch without delay — here every host gets a robots-style
 * crawl-delay so the politeness engine is exercised everywhere).
 *
 * Post counts are Zipf-skewed over the fleet (hot hosts!) and scaled by
 * the generator's `scale` parameter — the skew is what the salted
 * politeness queue and AQE skew handling exist for.
 */
final case class Site(
    site_id: String,      // plugin IDENTIFIER
    host: String,         // politeness bucket key
    base_url: String,
    family: String,       // gnuboard|wordpress|ssucatch|offset|cursor|api|lz|auth
    page_size: Int,
    crawl_delay_ms: Int,
    zipf_rank: Int)       // 1 = hottest

object Sites {

  private def gnu(id: String, board: String, rank: Int): Site = {
    val host = id.split("/")(0)
    Site(id, host, s"https://$host/bbs/board.php?bo_table=$board", "gnuboard", 15, 100, rank)
  }

  /** 53 post sites (registry order) + calendar. */
  val all: Seq[Site] = {
    val gnuIds = Seq(
      "accounting.ssu.ac.kr", "actx.ssu.ac.kr", "chem.ssu.ac.kr", "chilan.ssu.ac.kr",
      "cse.ssu.ac.kr/bachelor", "cse.ssu.ac.kr/graduate", "cse.ssu.ac.kr/employment",
      "docs.ssu.ac.kr", "eco.ssu.ac.kr", "englan.ssu.ac.kr", "ensb.ssu.ac.kr",
      "finance.ssu.ac.kr", "france.ssu.ac.kr", "gerlan.ssu.ac.kr", "gtrade.ssu.ac.kr",
      "history.ssu.ac.kr", "iise.ssu.ac.kr", "itrans.ssu.ac.kr", "japanstu.ssu.ac.kr",
      "korlan.ssu.ac.kr", "law.ssu.ac.kr", "lawyer.ssu.ac.kr", "lifelongedu.ssu.ac.kr",
      "masscom.ssu.ac.kr", "math.ssu.ac.kr", "mysoongsil.ssu.ac.kr", "philo.ssu.ac.kr",
      "physics.ssu.ac.kr", "politics.ssu.ac.kr", "pubad.ssu.ac.kr", "sec.ssu.ac.kr",
      "sls.ssu.ac.kr", "sports.ssu.ac.kr", "sw.ssu.ac.kr/bachelor", "sw.ssu.ac.kr/graduate")
    val gnus = gnuIds.zipWithIndex.map { case (id, i) =>
      gnu(id, s"board_${id.split('/').last.take(6)}_$i", i + 10)
    }
    val others = Seq(
      Site("bioinfo.ssu.ac.kr", "bioinfo.ssu.ac.kr", "https://bioinfo.ssu.ac.kr/notice",
        "wordpress", 10, 300, 5),
      Site("soar.ssu.ac.kr", "soar.ssu.ac.kr", "https://soar.ssu.ac.kr/notice",
        "wordpress", 10, 300, 6),
      Site("scatch.ssu.ac.kr", "scatch.ssu.ac.kr", "https://scatch.ssu.ac.kr/공지사항",
        "ssucatch", 15, 200, 1), // hottest host — the skew fixture
      Site("biz.ssu.ac.kr", "biz.ssu.ac.kr", "https://biz.ssu.ac.kr/bbs/bbs_list.php?code=notice",
        "offset", 10, 150, 2),
      Site("chemeng.ssu.ac.kr", "chemeng.ssu.ac.kr", "http://chemeng.ssu.ac.kr/bbs/list.php",
        "offset", 10, 150, 7),
      Site("ee.ssu.ac.kr", "ee.ssu.ac.kr", "http://ee.ssu.ac.kr/sub/sub05_02.php",
        "offset", 10, 150, 8),
      Site("inso.ssu.ac.kr", "inso.ssu.ac.kr", "http://inso.ssu.ac.kr/sub/sub04_01.php",
        "offset", 10, 150, 9),
      Site("infocom.ssu.ac.kr", "infocom.ssu.ac.kr",
        "http://infocom.ssu.ac.kr/kor/notice/undergraduate.php", "offset", 10, 150, 3),
      Site("materials.ssu.ac.kr", "materials.ssu.ac.kr",
        "https://materials.ssu.ac.kr/bbs/board.php?tbl=bbs51", "offset", 10, 150, 45),
      Site("ssudorm.ssu.ac.kr", "ssudorm.ssu.ac.kr",
        "https://ssudorm.ssu.ac.kr:444/SShostel/mall_main.php?viewform=B0001_noticeboard_list",
        "offset", 15, 150, 46),
      Site("ssfilm.ssu.ac.kr", "ssfilm.ssu.ac.kr", "http://ssfilm.ssu.ac.kr/notice/index",
        "cursor", 10, 150, 47),
      Site("media.ssu.ac.kr", "media.ssu.ac.kr", "https://media.ssu.ac.kr/board/notices",
        "api", 20, 100, 48),
      Site("mediamba.ssu.ac.kr", "mediamba.ssu.ac.kr", "https://mediamba.ssu.ac.kr/board/notice",
        "api", 20, 100, 49),
      Site("oasis.ssu.ac.kr", "oasis.ssu.ac.kr",
        "https://oasis.ssu.ac.kr/library-services/bulletin/notice", "api", 20, 100, 50),
      Site("startup.ssu.ac.kr", "startup.ssu.ac.kr", "https://startup.ssu.ac.kr/board/notice",
        "api", 20, 100, 51),
      Site("stu.ssu.ac.kr", "stu.ssu.ac.kr", "https://stu.ssu.ac.kr/notice",
        "api", 20, 100, 52),
      Site("study.ssu.ac.kr", "study.ssu.ac.kr", "https://study.ssu.ac.kr/community/notice_list.do",
        "lz", 10, 150, 53),
      Site("path.ssu.ac.kr", "path.ssu.ac.kr", "https://path.ssu.ac.kr/ptfol/imng/icmpActWait.do",
        "auth", 10, 150, 4))
    gnus ++ others :+
      Site("ssu-academic-calendar", "scatch.ssu.ac.kr",
        "https://scatch.ssu.ac.kr/학사일정", "calendar", 12, 200, 54)
  }

  require(all.size == 54, s"expected 54 sites, got ${all.size}")

  /**
   * Zipf-skewed post count per site at a given scale:
   * n_posts(site) = ceil(scale / zipf_rank). At scale=30000 the hottest
   * host gets 30000 posts while rank-54 gets ~555 — a 54x skew.
   */
  def postCount(site: Site, scale: Long): Long =
    math.max(1L, math.ceil(scale.toDouble / site.zipf_rank).toLong)

  /** Fleet selection (reference pre-task pruning, cli macros.rs:46-113):
    * empty include = all sites; exclude always wins. Registry order kept.
    * An unknown id fails rather than silently select nothing. */
  def selected(include: Seq[String], exclude: Seq[String]): Seq[Site] = {
    val unknown = (include ++ exclude).filterNot(id => all.exists(_.site_id == id))
    require(unknown.isEmpty, s"unknown site id: ${unknown.mkString(", ")}")
    all.filter(s => (include.isEmpty || include.contains(s.site_id)) &&
      !exclude.contains(s.site_id))
  }
}
