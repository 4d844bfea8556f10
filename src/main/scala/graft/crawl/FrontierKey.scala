package graft.crawl

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.UrlKernel

/**
 * The key of a frontier row, from ONE parse of its URL:
 *  - `url_hash`: the seen-set key, `xxhash64(url_canonicalize(url))`;
 *  - `host_hash`: the politeness bucket, `xxhash64(url_host(url))` (the
 *    hash seed itself when the URL has no authority, as for a null host);
 *  - `crawl_delay_ms`: the host's robots Crawl-delay ([[Robots.fleetRules]]),
 *    [[DefaultDelayMs]] for a host without rules;
 *  - no key at all when the URL's path starts with one of the host's
 *    Disallow prefixes.
 *
 * Hashes are Spark's `xxhash64` with its seed 42, so they equal what the
 * built-in would compute over the kernel columns. The kernel returns an
 * array of zero or one struct: applied through `inline`, one call per row
 * both computes the key and drops a disallowed row. (A struct result with a
 * `Filter` on one of its fields would be evaluated again once Catalyst
 * pushes the filter below the projection.)
 */
object FrontierKey {

  val DefaultDelayMs = 300
  private val Seed = 42L

  private val KeyType = ArrayType(StructType(Seq(
    StructField("url_hash", LongType, nullable = false),
    StructField("host_hash", LongType, nullable = false),
    StructField("crawl_delay_ms", IntegerType, nullable = false))), containsNull = false)

  private lazy val rulesByHost: Map[String, Robots.Rules] =
    Robots.fleetRules.map(r => r.host -> r).toMap

  private val Disallowed: ArrayData = new GenericArrayData(Array.empty[Any])

  private def hash(s: String): Long = XXH64.hashUTF8String(UTF8String.fromString(s), Seed)

  /** The key of one URL (the core both kernels share). */
  private def ofUrl(url: String): ArrayData = {
    val p = UrlKernel.parse(url.trim)
    val host = UrlKernel.hostOf(p)
    val rules = if (host == null) None else rulesByHost.get(host)
    if (rules.exists(_.disallow.exists(d => p.path.startsWith(d)))) Disallowed
    else new GenericArrayData(Array[Any](InternalRow(
      hash(UrlKernel.canonical(p)),
      if (host == null) Seed else hash(host),
      rules.fold(DefaultDelayMs)(_.crawl_delay_ms))))
  }

  def urlKey(url: UTF8String): ArrayData = ofUrl(url.toString)

  /** The key of a frontier row: its URL is rebuilt from the grammar
    * coordinates ([[UrlGrammar.url]]) and parsed once. */
  def waveKey(siteId: UTF8String, kind: UTF8String, page: Int, row: Int,
      web: WebVersion): ArrayData =
    ofUrl(UrlGrammar.url(siteId.toString, kind.toString, page, row, web.scale, web.rev))

  /** `array<struct<url_hash, host_hash, crawl_delay_ms>>` of a URL column. */
  def url_key(url: Column): Column =
    ColumnBridge.column(StaticInvoke(FrontierKey.getClass, KeyType, "urlKey",
      Seq(ColumnBridge.expression(url)), inputTypes = Seq(StringType)))

  /** [[url_key]] of the URL a frontier row's coordinates rebuild to. */
  def wave_key(siteId: Column, kind: Column, page: Column, row: Column,
      scale: Long, rev: Int): Column =
    ColumnBridge.column(StaticInvoke(FrontierKey.getClass, KeyType, "waveKey",
      UrlGrammar.coordinates(siteId, kind, page, row, scale, rev),
      inputTypes = UrlGrammar.CoordinateTypes))
}
