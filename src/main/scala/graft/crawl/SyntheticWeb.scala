package graft.crawl

import java.sql.Timestamp
import graft.model.{Attachment, Post}

/**
 * Deterministic synthetic web: a pure function of (seed, scale, rev) that
 * realizes the reference's URL grammars (SURVEY.md §2.1 S1-S9) as a
 * closed link graph the frontier scheduler can crawl without network.
 *
 *  - list pages expand to post links (page_size per page) + the next list
 *    page, exactly the reference's sequential pagination walk
 *    (gnuboard mod.rs:84-147);
 *  - post pages yield one interleaved text+media document (Post with
 *    media markers; span decomposition via [[graft.operators.Spans]]);
 *  - `rev` models content drift between crawl runs: every post with
 *    id % 17 == 0 changes content at a higher rev (drives the
 *    post_updated merge path); posts with id % 23 == 0 appear only at
 *    rev >= 1 (drives post_created on re-crawl).
 *
 * Everything below is a pure function of its arguments — crawls are
 * byte-identical across parallelism levels and re-runs (the north-rule
 * acceptance needs identical order + seen set at N and 4N).
 */
object SyntheticWeb {

  final case class Req(
      url: String, site_id: String, kind: String, // list | post
      page: Int, row: Int, depth: Int)

  val siteById: Map[String, Site] = Sites.all.map(s => s.site_id -> s).toMap

  private def sep(base: String): String = if (base.contains("?")) "&" else "?"

  /** List-page URL for page p (1-based) — per-family grammar. */
  def listUrl(site: Site, p: Int): String = site.family match {
    case "gnuboard"  => s"${site.base_url}&page=$p"
    case "wordpress" => s"${site.base_url}/page/$p"
    case "ssucatch"  => s"${site.base_url}${sep(site.base_url)}paged=$p"
    case "offset"    => s"${site.base_url}${sep(site.base_url)}offset=${(p - 1) * site.page_size}"
    case "cursor"    => s"${site.base_url}${sep(site.base_url)}LastNoticeIndex=${(p - 1) * site.page_size}"
    case "api"       => s"${site.base_url}/api/board?page=$p&size=${site.page_size}"
    case "lz"        => s"${site.base_url}${sep(site.base_url)}page=$p"
    case "auth"      => s"${site.base_url}${sep(site.base_url)}pageIndex=$p"
    case "calendar"  => s"${site.base_url}${sep(site.base_url)}years=${2024 + p}"
    case f           => throw new IllegalArgumentException(f)
  }

  /** Post URL for post n (1-based, newest = highest) — per-family grammar. */
  def postUrl(site: Site, n: Long): String = site.family match {
    case "gnuboard"  => s"${site.base_url}&wr_id=$n"
    case "wordpress" => s"${site.base_url}/?slug=post-$n"
    case "ssucatch"  => s"${site.base_url}${sep(site.base_url)}slug=notice-$n"
    case "offset"    => s"${site.base_url}${sep(site.base_url)}idx=$n"
    case "cursor"    => s"${site.base_url}/view${sep("x")}no=$n"
    case "api"       => s"${site.base_url}/api/post?id=$n"
    case "lz" =>
      val b64 = java.util.Base64.getEncoder.encodeToString(n.toString.getBytes("UTF-8"))
      s"${site.base_url.replace("notice_list.do", "notice_view.do")}${sep(site.base_url)}sbSeq=$b64"
    case "auth"      => s"${site.base_url}${sep(site.base_url)}encSddpbSeq=enc$n"
    case "calendar"  => s"${site.base_url}${sep(site.base_url)}event=$n"
    case f           => throw new IllegalArgumentException(f)
  }

  // --- deterministic content ------------------------------------------------

  /** Exposed for oracle generation (the word list is fixture config —
    * SparkEntry's q44 DuckDB replay embeds it as a literal). */
  private[graft] def vocabWords: Seq[String] = vocab.toSeq

  private val vocab: Array[String] = Array(
    "수강신청", "장학금", "공지", "안내", "모집", "신청", "변경", "학사", "일정", "프로그램",
    "notice", "announcement", "deadline", "schedule", "apply", "update", "seminar",
    "lecture", "course", "registration", "scholarship", "dormitory", "campus", "exam",
    "winter", "spring", "summer", "fall", "semester", "credit", "online", "offline")

  /** xxhash64-compatible cheap mixer for content generation (pure). */
  private def mix(x: Long, y: Long): Long = {
    var h = x ^ (y * -7046029254386353131L)
    h ^= h >>> 30; h *= -4658895280553007687L
    h ^= h >>> 27; h *= -7723592293110705685L
    h ^ (h >>> 31)
  }

  /** Does this post's content change at rev >= 1? */
  def changesAtRev1(n: Long): Boolean = n % 17 == 0
  /** How many of the posts 1..total a list walk shows at `rev`: the ids
    * with id % 23 == 0 exist only at rev >= 1. */
  def visibleCount(total: Long, rev: Int): Long =
    if (rev >= 1) total else total - total / 23

  /**
   * Fetch a post page -> one interleaved document. The content interleaves
   * text runs with media markers; thumbnail + attachments mirror the
   * reference post shape (gnuboard mod.rs:150-232).
   */
  def fetchPost(site: Site, n: Long, rev: Int, seed: Long): Post = {
    val effRev = if (changesAtRev1(n) && rev >= 1) 1 else 0
    val h0 = mix(mix(seed, site.site_id.hashCode.toLong), n * 31 + effRev)
    val nTokens = 20 + (math.abs(h0) % 60).toInt
    // single-pass body build: at crawl scale fetchPost runs millions of
    // times per wave, so the body is written straight into one
    // StringBuilder (no intermediate word collection / joins) — the
    // emitted bytes are identical to the naive take/drop/mkString form
    def word(i: Int): String = vocab((math.abs(mix(h0, i.toLong)) % vocab.length).toInt)
    val hasImage = math.abs(h0) % 3 == 0
    val hasAttach = math.abs(h0) % 4 == 0
    val imgRef = s"https://${site.host}/files/img_$n.jpg"
    val attRef = s"https://${site.host}/files/doc_$n.hwp"
    val content = {
      val mid = nTokens / 2
      val sb = new StringBuilder(nTokens * 9 + 64)
      var i = 0
      while (i < mid) {
        if (i > 0) sb.append(' ')
        sb.append(word(i)); i += 1
      }
      if (hasImage) sb.append(" <img src=\"").append(imgRef).append("\">")
      while (i < nTokens) {
        sb.append(' ').append(word(i)); i += 1
      }
      if (effRev == 1) sb.append(" [개정판 rev1]")
      sb.toString
    }
    // created_at: deterministic recent-past timestamp, newest post = latest
    val base = Timestamp.valueOf("2026-01-01 00:00:00").getTime
    val created = new Timestamp(base + n * 60000L + (site.zipf_rank * 1000L))
    Post(
      site_id = site.site_id,
      id = n.toString,
      url = postUrl(site, n),
      author = if (math.abs(h0) % 5 == 0) None else Some(s"작성자${math.abs(h0) % 50}"),
      title = s"[${site.site_id}] ${word(0)} ${word(1)} #$n",
      description = None,
      category = if (n % 9 == 0) Seq("공지") else Seq.empty,
      created_at = created,
      updated_at = None,
      thumbnail = if (hasImage) Some(imgRef) else None,
      content = content,
      attachments = if (hasAttach)
        Seq(Attachment(attRef, Some(s"doc_$n.hwp"), Some("application/x-hwp"))) else Seq.empty,
      metadata = None)
  }

  /**
   * Deterministic academic-calendar YEAR PAGE — real month-block HTML in
   * the exact shape the reference's year pages have (the structure
   * [[graft.parse.CalendarParser.parseYearPage]] expects; fixture shape
   * from ssu-academic-calendar lib.rs:384-553): `#calendar` with
   * `div[id^=calendar]` month blocks, `span.font-size-50` month labels,
   * `ul.tb > li` event rows whose date column exercises every range
   * dialect — single day, same-month range, cross-month day-only end
   * (`MM.DD ~ DD`), and a cross-YEAR December range.
   */
  def calendarYearHtml(year: Int, scale: Long): String = {
    val sb = new StringBuilder(s"""<div id="calendar"><h4>${year}년</h4>""")
    (1 to 12).foreach { m =>
      val h = mix(mix(scale, year.toLong), m.toLong)
      val nEvents = 1 + (math.abs(h) % 3).toInt // 1..3 per month
      val items = (0 until nEvents).map { k =>
        val hk = mix(h, k.toLong)
        val day = 1 + (math.abs(hk) % 20).toInt // 1..21 (room for ranges)
        val title = {
          val w1 = vocab((math.abs(mix(hk, 1L)) % vocab.length).toInt)
          val w2 = vocab((math.abs(mix(hk, 2L)) % vocab.length).toInt)
          s"${year}학년도 $w1 $w2 ($m-$k)"
        }
        val date = (m, k % 3) match {
          case (12, 0) => f"12.28 (월) ~ 01.${1 + (math.abs(hk) % 5).toInt}%02d (일)" // cross-year
          case (_, 0)  => f"$m%02d.$day%02d"                                          // single day
          case (_, 1)  => f"$m%02d.$day%02d ~ $m%02d.${day + 5}%02d"                  // same-month
          case _       => f"$m%02d.$day%02d ~ ${math.max(1, day - 1)}%02d"            // cross-month
        }
        val body =
          if (k % 2 == 0) s"""<a href="/academic-event-$m-$k">$title</a>"""
          else title
        s"""<li><div class="row"><div class="col-12 text-primary">$date</div>""" +
          s"""<div class="col-12">$body</div></div></li>"""
      }.mkString
      val mm = f"$m%02d"
      sb.append(
        s"""<div id="calendar$year$mm" class="row"><div class="col">""" +
          s"""<div class="grid text-center"><span>$year</span>""" +
          s"""<span class="h1 font-size-50">$m </span></div></div>""" +
          s"""<div class="col"><div class="grid"><ul class="tb">$items</ul></div></div></div>""")
    }
    sb.append("</div>").toString
  }

  /**
   * Expand one request: list pages yield post links (newest-first within
   * the page, exactly the board ordering) + the next page while the
   * per-site `limit` budget allows (reference limit pushdown: per-page
   * take(remain) + stop, gnuboard mod.rs:92-108); post pages yield docs.
   */
  def expand(req: Req, scale: Long, limit: Long, rev: Int,
      session: Option[Sso.Session] = None): (Option[Post], Seq[Req]) =
    if (req.kind == "post") {
      val site = siteById(req.site_id)
      authorize(site, session)
      (Some(fetchPost(site, parsePostId(req.url, site), rev, Crawl.DefaultSeed)), Seq.empty)
    } else (None, links(req, scale, limit, rev, session))

  /** The links of one request: exactly `expand(req)._2`, without building
    * the document — a post page links nothing, so link discovery never
    * needs to fetch one. */
  def links(req: Req, scale: Long, limit: Long, rev: Int,
      session: Option[Sso.Session] = None): Seq[Req] = {
    val site = siteById(req.site_id)
    authorize(site, session)
    req.kind match {
      case "list" =>
        val total0 = Sites.postCount(site, scale)
        val wanted = math.min(visibleCount(total0, rev), limit)
        val pageStart = (req.page - 1).toLong * site.page_size
        val remain = wanted - pageStart
        if (remain <= 0) Seq.empty
        else {
          // newest-first: page 1 lists ids total..total-pageSize+1
          val onPage = math.min(site.page_size.toLong, remain)
          val ids = (0L until onPage).map { r => idAt(total0, pageStart + r, rev) }
          val posts = ids.zipWithIndex.map { case (n, r) =>
            Req(postUrl(site, n), site.site_id, "post", req.page, r, req.depth + 1)
          }
          val next =
            if (pageStart + onPage < wanted)
              Seq(Req(listUrl(site, req.page + 1), site.site_id, "list",
                req.page + 1, 0, req.depth))
            else Seq.empty
          // every 5th page links a robots-disallowed trap (the frontier's
          // Disallow filter must drop these before scheduling)
          val traps =
            if (req.page % 5 == 0)
              Seq(Req(trapUrl(site, req.page), site.site_id, "post", req.page,
                trapRow(site), req.depth + 1))
            else Seq.empty
          posts ++ traps ++ next
        }
      case "post" => Seq.empty
      case k => throw new IllegalArgumentException(k)
    }
  }

  // the auth family (ssupath) requires a bootstrapped SSO session for
  // EVERY fetch (S8, sso.rs:26-92) — unauthenticated requests fail like
  // the live site's 302-to-login would
  private def authorize(site: Site, session: Option[Sso.Session]): Unit =
    if (site.family == "auth") Sso.authorize(session, site.host)

  /** The id listed at 0-based position `pos` (newest-first over the full
    * population 1..total), skipping ids % 23 == 0 when rev == 0
    * (closed form: the q-th non-multiple of 23 is q + (q-1)/22).
    * Shared by the crawl's list walk AND the DSv2 source so both enumerate
    * the exact same visible posts. */
  def idAt(total: Long, pos: Long, rev: Int): Long =
    if (rev >= 1) total - pos
    else {
      val q = visibleCount(total, rev) - pos // 1-indexed rank from the bottom
      q + (q - 1) / 22
    }

  /** The robots trap a list page links rides the frontier as a "post" row
    * one past the page's last real row: this sentinel row and [[trapUrl]]
    * are the trap's whole encoding, shared by discovery ([[expand]]) and
    * the coordinate rebuild ([[UrlGrammar]]). */
  def trapRow(site: Site): Int = site.page_size
  def trapUrl(site: Site, page: Int): String =
    s"https://${site.host}/private/trap?id=$page"

  def isTrap(url: String): Boolean = url.contains("/private/")

  /** Inverse of [[postUrl]] — recover the post id from a discovered URL. */
  def parsePostId(url: String, site: Site): Long = site.family match {
    case "gnuboard"  => graft.functions.UrlKernel.queryParam(url, "wr_id").toLong
    case "wordpress" => graft.functions.UrlKernel.queryParam(url, "slug").stripPrefix("post-").toLong
    case "ssucatch"  => graft.functions.UrlKernel.queryParam(url, "slug").stripPrefix("notice-").toLong
    case "offset"    => graft.functions.UrlKernel.queryParam(url, "idx").toLong
    case "cursor"    => graft.functions.UrlKernel.queryParam(url, "no").toLong
    case "api"       => graft.functions.UrlKernel.queryParam(url, "id").toLong
    case "lz" =>
      new String(java.util.Base64.getDecoder.decode(
        graft.functions.UrlKernel.queryParam(url, "sbSeq")), "UTF-8").toLong
    case "auth"      => graft.functions.UrlKernel.queryParam(url, "encSddpbSeq").stripPrefix("enc").toLong
    case "calendar"  => graft.functions.UrlKernel.queryParam(url, "event").toLong
    case f           => throw new IllegalArgumentException(f)
  }
}
