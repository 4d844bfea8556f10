package graft.functions

/**
 * Pure URL kernel: canonicalization + RFC 3986 relative resolution.
 *
 * This is the seed of the crawl engine's URL-seen set: every frontier URL is
 * canonicalized, then hashed (xxhash64) into the partitioned seen-set.
 * Reference behaviors generalized here:
 *  - relative resolution against a page URL (`Url::join` call sites, e.g.
 *    plugins/biz/src/lib.rs:179-187, plugins/materials/src/lib.rs:231-238,
 *    plugins/ssu-academic-calendar/src/lib.rs:178-184);
 *  - query-param identity (`wr_id`/`slug`/`idx` extraction — the post key is
 *    a function of the canonical URL's query).
 *
 * Canonical form (documented contract, fixture-tested):
 *  - scheme and host lowercased; userinfo preserved; trailing `.` kept;
 *  - default ports stripped (http:80, https:443, ftp:21);
 *  - path dot-segments removed (RFC 3986 §5.2.4); empty path -> "/";
 *  - query parameters stably sorted by raw "k=v" text (duplicates kept);
 *    empty query dropped;
 *  - fragment dropped.
 *
 * All functions are total: malformed input is returned in a best-effort
 * normalized form, never thrown on (a crawler must not die on a bad href).
 */
object UrlKernel {

  private def defaultPort(scheme: String): Int = scheme match {
    case "http"  => 80
    case "https" => 443
    case "ftp"   => 21
    case _       => -1
  }

  /** Split "scheme://authority/path?query#frag" without java.net.URI (total). */
  private[graft] final case class Parts(
      scheme: String, authority: String, path: String, query: String, fragment: String) {
    def render(withFragment: Boolean = true): String = {
      val sb = new StringBuilder
      if (scheme.nonEmpty) { sb.append(scheme).append(':') }
      if (authority != null) { sb.append("//").append(authority) }
      sb.append(path)
      if (query != null) sb.append('?').append(query)
      if (withFragment && fragment != null) sb.append('#').append(fragment)
      sb.toString
    }
  }

  /** Length of the scheme when `url` starts with `scheme:`, else -1. The
    * same split as the regex `^([A-Za-z][A-Za-z0-9+.-]*):(.*)$` under
    * `matches()`: a letter, then letters, digits, `+`, `.` or `-` up to the
    * first `:`, and no line terminator after it (the regex's `.` rejects
    * them). Scanned by hand: the regex was nearly half of a parse's CPU. */
  private def schemeEnd(url: String): Int = {
    val colon = url.indexOf(':')
    if (colon < 1 || !isAsciiLetter(url.charAt(0))) return -1
    var i = 1
    while (i < colon) {
      val c = url.charAt(i)
      if (!(isAsciiLetter(c) || (c >= '0' && c <= '9') || c == '+' || c == '.' || c == '-'))
        return -1
      i += 1
    }
    i = colon + 1
    while (i < url.length) {
      val c = url.charAt(i)
      if (c == '\n' || c == '\r' || c == '\u0085' || c == '\u2028' || c == '\u2029') return -1
      i += 1
    }
    colon
  }

  private def isAsciiLetter(c: Char): Boolean = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  private[graft] def parse(url: String): Parts = {
    val colon = schemeEnd(url)
    val scheme = if (colon < 0) "" else url.substring(0, colon)
    var rest = if (colon < 0) url else url.substring(colon + 1)
    var fragment: String = null
    val hashIdx = rest.indexOf('#')
    if (hashIdx >= 0) { fragment = rest.substring(hashIdx + 1); rest = rest.substring(0, hashIdx) }
    var query: String = null
    val qIdx = rest.indexOf('?')
    if (qIdx >= 0) { query = rest.substring(qIdx + 1); rest = rest.substring(0, qIdx) }
    var authority: String = null
    var path = rest
    if (rest.startsWith("//")) {
      val after = rest.substring(2)
      val slash = after.indexOf('/')
      if (slash >= 0) { authority = after.substring(0, slash); path = after.substring(slash) }
      else { authority = after; path = "" }
    }
    Parts(scheme, authority, path, query, fragment)
  }

  /** RFC 3986 §5.2.4 remove_dot_segments. */
  private[functions] def removeDotSegments(path: String): String = {
    val out = new scala.collection.mutable.ArrayBuffer[String]()
    var in = path
    while (in.nonEmpty) {
      if (in.startsWith("../")) in = in.substring(3)
      else if (in.startsWith("./")) in = in.substring(2)
      else if (in.startsWith("/./")) in = "/" + in.substring(3)
      else if (in == "/.") in = "/"
      else if (in.startsWith("/../")) { in = "/" + in.substring(4); if (out.nonEmpty) out.remove(out.length - 1) }
      else if (in == "/..") { in = "/"; if (out.nonEmpty) out.remove(out.length - 1) }
      else if (in == "." || in == "..") in = ""
      else {
        val start = if (in.startsWith("/")) 1 else 0
        val next = in.indexOf('/', start)
        val (seg, rest) = if (next >= 0) (in.substring(0, next), in.substring(next)) else (in, "")
        out += seg
        in = rest
      }
    }
    out.mkString
  }

  private def splitAuthority(auth: String): (String, String, Int) = {
    // returns (userinfo-or-null, host, port-or--1)
    val at = auth.lastIndexOf('@')
    val (user, hostPort) = if (at >= 0) (auth.substring(0, at), auth.substring(at + 1)) else (null, auth)
    // IPv6 literal [..]:port
    if (hostPort.startsWith("[")) {
      val close = hostPort.indexOf(']')
      if (close >= 0) {
        val host = hostPort.substring(0, close + 1)
        val rest = hostPort.substring(close + 1)
        val port = if (rest.startsWith(":") && rest.length > 1) rest.substring(1).toIntOption.getOrElse(-1) else -1
        return (user, host, port)
      }
    }
    val colon = hostPort.lastIndexOf(':')
    if (colon >= 0 && hostPort.substring(colon + 1).forall(_.isDigit) && colon + 1 < hostPort.length)
      (user, hostPort.substring(0, colon), hostPort.substring(colon + 1).toIntOption.getOrElse(-1))
    else (user, hostPort, -1)
  }

  /** Canonical URL string; see object doc for the contract. */
  def canonicalize(url: String): String =
    if (url == null) null else canonical(parse(url.trim))

  /** [[canonicalize]] of an already-parsed (trimmed) URL. */
  private[graft] def canonical(p: Parts): String = {
    val scheme = p.scheme.toLowerCase
    val authority =
      if (p.authority == null) null
      else {
        val (user, host, port) = splitAuthority(p.authority)
        val sb = new StringBuilder
        if (user != null) sb.append(user).append('@')
        sb.append(host.toLowerCase)
        if (port >= 0 && port != defaultPort(scheme)) sb.append(':').append(port)
        sb.toString
      }
    val path0 = removeDotSegments(p.path)
    val path = if (authority != null && path0.isEmpty) "/" else path0
    val query =
      if (p.query == null || p.query.isEmpty) null
      else p.query.split("&", -1).filter(_.nonEmpty).sorted.mkString("&") match {
        case "" => null
        case q  => q
      }
    Parts(scheme, authority, path, query, null).render(withFragment = false)
  }

  /** Path component of a URL ("" when absent). */
  def path(url: String): String = {
    if (url == null) return null
    parse(url.trim).path
  }

  /** Host of a URL (lowercased), or null when there is no authority. */
  def host(url: String): String =
    if (url == null) null else hostOf(parse(url.trim))

  /** [[host]] of an already-parsed (trimmed) URL. */
  private[graft] def hostOf(p: Parts): String =
    if (p.authority == null) null
    else splitAuthority(p.authority)._2.toLowerCase

  /**
   * RFC 3986 §5.2 reference resolution (the behavior of rust-url's
   * `Url::join` for the shapes the reference uses: absolute refs,
   * scheme-relative, root-relative, relative, query-only, fragment-only).
   */
  def resolve(base: String, ref: String): String = {
    if (base == null || ref == null) return null
    val b = parse(base.trim)
    val r = parse(ref.trim)
    val t =
      if (r.scheme.nonEmpty) r.copy(path = removeDotSegments(r.path))
      else if (r.authority != null) Parts(b.scheme, r.authority, removeDotSegments(r.path), r.query, r.fragment)
      else if (r.path.isEmpty) {
        val q = if (r.query != null) r.query else b.query
        Parts(b.scheme, b.authority, b.path, q, r.fragment)
      } else if (r.path.startsWith("/"))
        Parts(b.scheme, b.authority, removeDotSegments(r.path), r.query, r.fragment)
      else {
        val merged =
          if (b.authority != null && b.path.isEmpty) "/" + r.path
          else {
            val slash = b.path.lastIndexOf('/')
            if (slash >= 0) b.path.substring(0, slash + 1) + r.path else r.path
          }
        Parts(b.scheme, b.authority, removeDotSegments(merged), r.query, r.fragment)
      }
    t.render()
  }

  /** Extract one query parameter (first occurrence), URL-decoded; null if absent. */
  def queryParam(url: String, key: String): String = {
    if (url == null || key == null) return null
    val p = parse(url)
    if (p.query == null) return null
    p.query.split("&", -1).iterator
      .map { kv =>
        val eq = kv.indexOf('=')
        if (eq >= 0) (kv.substring(0, eq), kv.substring(eq + 1)) else (kv, "")
      }
      .collectFirst { case (k, v) if k == key => urlDecode(v) }
      .orNull
  }

  private def urlDecode(s: String): String =
    try java.net.URLDecoder.decode(s, java.nio.charset.StandardCharsets.UTF_8)
    catch { case _: IllegalArgumentException => s }
}
