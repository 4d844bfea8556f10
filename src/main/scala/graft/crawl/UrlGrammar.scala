package graft.crawl

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * URL synthesis from frontier coordinates — the inverse direction of
 * [[SyntheticWeb.parsePostId]].
 *
 * Every URL the crawl ever schedules is produced by a per-site grammar
 * from (site_id, kind, page, row): list pages by [[SyntheticWeb.listUrl]],
 * post pages by [[SyntheticWeb.postUrl]] over [[SyntheticWeb.idAt]], and
 * the robots-trap links by [[SyntheticWeb.trapUrl]] (the reference plugins
 * work the same way — gnuboard/wordpress/ssucatch URLs are built from
 * (board, page, post-id), never free-form). The frontier therefore does
 * not need to SHUFFLE or PERSIST the URL string between waves: the
 * 8-byte coordinates are the row identity, and this kernel re-materializes
 * the string at the consumption edges (the [[FrontierKey]] kernel and the
 * read of the wave stage-out) — the same recompute-don't-carry
 * treatment `canonical` and `host` already get (guide §2.3/§8: shuffle
 * keys and metadata, recompute/move heavy strings at the edge; per-row
 * CPU is not the contended resource, shuffle and parquet bytes are).
 *
 * Byte-exactness vs the discovery-time URL is pinned by a CrawlSpec
 * walk of the full expansion graph at both revs (including traps, the
 * base64 lz family, auth, and calendar year pages).
 */
object UrlGrammar {

  /** The exact discovered URL of a frontier row. */
  def url(siteId: String, kind: String, page: Int, row: Int, scale: Long, rev: Int): String = {
    val site = SyntheticWeb.siteById(siteId)
    if (kind == "list")
      SyntheticWeb.listUrl(site, page)
    else if (row == SyntheticWeb.trapRow(site)) // the every-5th-page robots trap
      SyntheticWeb.trapUrl(site, page)
    else {
      val total0 = Sites.postCount(site, scale)
      val n = SyntheticWeb.idAt(total0,
        (page - 1).toLong * site.page_size + row, rev)
      SyntheticWeb.postUrl(site, n)
    }
  }

  /** [[url]] over Spark's string type (the [[rebuild_url]] kernel). */
  def rebuildUrl(siteId: UTF8String, kind: UTF8String, page: Int, row: Int,
      scale: Long, rev: Int): UTF8String =
    UTF8String.fromString(url(siteId.toString, kind.toString, page, row, scale, rev))

  /** Codegen'd column form (StaticInvoke — no UDF serialization). */
  def rebuild_url(siteId: Column, kind: Column, page: Column, row: Column,
      scale: Long, rev: Int): Column =
    ColumnBridge.column(StaticInvoke(UrlGrammar.getClass, StringType,
      "rebuildUrl",
      Seq(ColumnBridge.expression(siteId), ColumnBridge.expression(kind),
        ColumnBridge.expression(page), ColumnBridge.expression(row),
        ColumnBridge.expression(lit(scale)), ColumnBridge.expression(lit(rev))),
      inputTypes = Seq(StringType, StringType, IntegerType, IntegerType,
        LongType, IntegerType)))
}
