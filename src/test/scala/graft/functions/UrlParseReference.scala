package graft.functions

/** The regex form of [[UrlKernel.parse]]'s scheme split: the parity
  * reference of the hand scan that replaced it. */
object UrlParseReference {

  private val SchemeRe = "^([A-Za-z][A-Za-z0-9+.-]*):(.*)$".r

  def parse(url: String): UrlKernel.Parts = {
    var rest = url
    var scheme = ""
    rest match {
      case SchemeRe(s, r) => scheme = s; rest = r
      case _              =>
    }
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
    UrlKernel.Parts(scheme, authority, path, query, fragment)
  }
}
