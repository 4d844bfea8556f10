package graft.parse

import scala.collection.mutable

/**
 * Minimal, tolerant HTML parser + CSS-selector subset — the offline
 * replacement for the reference's `scraper` crate (no jsoup in this
 * zero-egress environment; SURVEY.md §7 "HTML parsing without jsoup").
 *
 * Supported selector grammar (everything the reference's selector table
 * uses, FIXTURES.md §2): `tag`, `#id`, `.class`, `tag.c1.c2`, `[attr]`,
 * `[attr=v]`, `[attr^=v]`, `[attr*=v]`, compound (`td.td_name.sv_use`),
 * descendant (` `), child (`>`).
 *
 * Parsing is tolerant: unclosed tags, unquoted attributes, void elements,
 * stray close tags and comments are all accepted (a crawler must not die
 * on bad markup — reference precedent: drop-malformed-row-with-warn, P15).
 */
object Html {

  final class Node(
      val tag: String, // "" for text nodes and the document root "#root"
      val attrs: Map[String, String],
      var children: Vector[Node],
      val textContent: String) {

    def isText: Boolean = tag.isEmpty

    def attr(name: String): Option[String] = attrs.get(name)

    def id: Option[String] = attr("id")

    def classes: Set[String] =
      attr("class").map(_.split("\\s+").filter(_.nonEmpty).toSet).getOrElse(Set.empty)

    /** All text under this node, space-joined and whitespace-normalized. */
    def text: String = {
      val sb = new StringBuilder
      def walk(n: Node): Unit = {
        if (n.isText) { sb.append(n.textContent); sb.append(' ') }
        n.children.foreach(walk)
      }
      walk(this)
      graft.functions.TextKernel.normalizeWs(sb.toString)
    }

    /** Serialize this element (tag + attrs + children) back to HTML. */
    def outerHtml: String = {
      if (isText) return escape(textContent)
      val sb = new StringBuilder
      sb.append('<').append(tag)
      attrs.foreach { case (k, v) => sb.append(' ').append(k).append("=\"")
        .append(escape(v)).append('"') }
      if (children.isEmpty && Void(tag)) sb.append('>')
      else sb.append('>').append(innerHtml).append("</").append(tag).append('>')
      sb.toString
    }

    def innerHtml: String = children.map(_.outerHtml).mkString

    def elements: Vector[Node] = children.filter(!_.isText)

    /** All descendant elements in document order. */
    def descendants: Vector[Node] = {
      val out = Vector.newBuilder[Node]
      def walk(n: Node): Unit = n.elements.foreach { c => out += c; walk(c) }
      walk(this)
      out.result()
    }

    def select(selector: String): Vector[Node] = Selector.parse(selector).run(this)

    def selectFirst(selector: String): Option[Node] = select(selector).headOption
  }

  private def escape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private val Void = Set("img", "br", "hr", "input", "meta", "link", "area",
    "base", "col", "embed", "source", "track", "wbr")
  private val RawText = Set("script", "style")

  def parse(html: String): Node = {
    val root = new Node("#root", Map.empty, Vector.empty, "")
    if (html == null) return root
    val stack = mutable.Stack[(Node, mutable.ArrayBuffer[Node])]()
    stack.push((root, mutable.ArrayBuffer.empty))
    var i = 0
    val n = html.length

    def closeTop(): Unit = {
      val (node, kids) = stack.pop()
      val closed = new Node(node.tag, node.attrs, kids.toVector, "")
      stack.top._2 += closed
    }

    while (i < n) {
      val lt = html.indexOf('<', i)
      if (lt < 0) {
        val t = html.substring(i)
        if (t.trim.nonEmpty) stack.top._2 += new Node("", Map.empty, Vector.empty, unescape(t))
        i = n
      } else {
        if (lt > i) {
          val t = html.substring(i, lt)
          if (t.trim.nonEmpty) stack.top._2 += new Node("", Map.empty, Vector.empty, unescape(t))
        }
        if (html.startsWith("<!--", lt)) {
          val end = html.indexOf("-->", lt)
          i = if (end < 0) n else end + 3
        } else if (html.startsWith("<!", lt) || html.startsWith("<?", lt)) {
          val end = html.indexOf('>', lt)
          i = if (end < 0) n else end + 1
        } else if (html.startsWith("</", lt)) {
          val end = html.indexOf('>', lt)
          val name = html.substring(lt + 2, if (end < 0) n else end).trim.toLowerCase
          // pop until matching open tag (tolerate strays)
          if (stack.exists(_._1.tag == name)) {
            while (stack.top._1.tag != name) closeTop()
            closeTop()
          }
          i = if (end < 0) n else end + 1
        } else {
          val end = html.indexOf('>', lt)
          if (end < 0) { i = n }
          else {
            val raw = html.substring(lt + 1, end)
            val selfClose = raw.endsWith("/")
            val body = if (selfClose) raw.dropRight(1) else raw
            val (name, attrs) = parseTag(body)
            if (name.nonEmpty) {
              if (selfClose || Void(name)) {
                stack.top._2 += new Node(name, attrs, Vector.empty, "")
                i = end + 1
              } else if (RawText(name)) {
                val close = html.indexOf(s"</$name", end)
                i = if (close < 0) n else html.indexOf('>', close) + 1
              } else {
                // HTML implicit-close rules: <p><p>, <li><li>, <td><td>,
                // <th><th>, <tr><tr> auto-close the open sibling
                val AutoClose = Set("p", "li", "td", "th", "tr", "option")
                if (AutoClose(name) && stack.top._1.tag == name) closeTop()
                stack.push((new Node(name, attrs, Vector.empty, ""), mutable.ArrayBuffer.empty))
                i = end + 1
              }
            } else i = end + 1
          }
        }
      }
    }
    while (stack.size > 1) closeTop()
    val (_, kids) = stack.pop()
    new Node("#root", Map.empty, kids.toVector, "")
  }

  private def parseTag(body: String): (String, Map[String, String]) = {
    val s = body.trim
    if (s.isEmpty || !s.head.isLetter) return ("", Map.empty)
    var i = 0
    while (i < s.length && (s(i).isLetterOrDigit || s(i) == '-')) i += 1
    val name = s.substring(0, i).toLowerCase
    val attrs = mutable.LinkedHashMap.empty[String, String]
    while (i < s.length) {
      while (i < s.length && s(i).isWhitespace) i += 1
      val start = i
      while (i < s.length && !s(i).isWhitespace && s(i) != '=') i += 1
      if (i > start) {
        val key = s.substring(start, i).toLowerCase
        while (i < s.length && s(i).isWhitespace) i += 1
        if (i < s.length && s(i) == '=') {
          i += 1
          while (i < s.length && s(i).isWhitespace) i += 1
          if (i < s.length && (s(i) == '"' || s(i) == '\'')) {
            val q = s(i); i += 1
            val vEnd = s.indexOf(q, i)
            val v = if (vEnd < 0) s.substring(i) else s.substring(i, vEnd)
            attrs(key) = unescape(v)
            i = if (vEnd < 0) s.length else vEnd + 1
          } else {
            val vStart = i
            while (i < s.length && !s(i).isWhitespace) i += 1
            attrs(key) = unescape(s.substring(vStart, i))
          }
        } else attrs(key) = ""
      } else i += 1
    }
    (name, attrs.toMap)
  }

  private def unescape(s: String): String =
    if (!s.contains('&')) s
    else s.replace("&amp;", "&").replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&#39;", "'").replace("&nbsp;", " ")

  // ---- selector engine ----------------------------------------------------

  private[parse] final case class Simple(
      tag: Option[String], id: Option[String], classes: Seq[String],
      attrTests: Seq[(String, String, String)]) { // (attr, op, value); op in {"", "=", "^=", "*="}
    def matches(n: Node): Boolean =
      !n.isText &&
        tag.forall(_ == n.tag) &&
        id.forall(v => n.id.contains(v)) &&
        classes.forall(n.classes.contains) &&
        attrTests.forall { case (a, op, v) =>
          n.attr(a) match {
            case None => false
            case Some(actual) => op match {
              case ""   => true
              case "="  => actual == v
              case "^=" => actual.startsWith(v)
              case "*=" => actual.contains(v)
              case _    => false
            }
          }
        }
  }

  private[parse] final case class Selector(parts: Seq[(Simple, Boolean)]) {
    // parts: (simple, isChildCombinator) — first part's combinator is ignored
    def run(rootNode: Node): Vector[Node] = {
      var current: Vector[Node] = rootNode.descendants.filter(parts.head._1.matches)
      parts.tail.foreach { case (simple, isChild) =>
        current = current.flatMap { n =>
          val cands = if (isChild) n.elements else n.descendants
          cands.filter(simple.matches)
        }.distinct
      }
      current
    }
  }

  private[parse] object Selector {
    private val cache = new java.util.concurrent.ConcurrentHashMap[String, Selector]()

    def parse(sel: String): Selector =
      cache.computeIfAbsent(sel, s => doParse(s))

    private def doParse(sel: String): Selector = {
      // tokenize on combinators, normalizing "a > b" vs "a>b"
      val tokens = mutable.ArrayBuffer.empty[(String, Boolean)]
      var isChild = false
      sel.trim.split("\\s+").foreach {
        case ">" => isChild = true
        case tok if tok.nonEmpty =>
          var t = tok
          while (t.startsWith(">")) { isChild = true; t = t.substring(1).trim }
          if (t.contains(">")) {
            val pieces = t.split(">")
            pieces.zipWithIndex.foreach { case (p, idx) =>
              if (p.nonEmpty) { tokens += ((p, if (idx == 0) isChild else true)) }
            }
            isChild = false
          } else if (t.nonEmpty) { tokens += ((t, isChild)); isChild = false }
        case _ =>
      }
      Selector(tokens.toSeq.map { case (t, child) => (parseSimple(t), child) })
    }

    private def parseSimple(token: String): Simple = {
      var rest = token
      var tag: Option[String] = None
      var id: Option[String] = None
      val classes = mutable.ArrayBuffer.empty[String]
      val attrs = mutable.ArrayBuffer.empty[(String, String, String)]
      // leading tag
      val m = "^[a-zA-Z][a-zA-Z0-9-]*".r.findFirstIn(rest)
      m.foreach { t => tag = Some(t.toLowerCase); rest = rest.substring(t.length) }
      while (rest.nonEmpty) {
        rest.head match {
          case '#' =>
            val end = rest.indexWhere(c => c == '.' || c == '[' || c == '#', 1)
            val v = if (end < 0) rest.substring(1) else rest.substring(1, end)
            id = Some(v); rest = if (end < 0) "" else rest.substring(end)
          case '.' =>
            val end = rest.indexWhere(c => c == '.' || c == '[' || c == '#', 1)
            val v = if (end < 0) rest.substring(1) else rest.substring(1, end)
            classes += v; rest = if (end < 0) "" else rest.substring(end)
          case '[' =>
            val close = rest.indexOf(']')
            val inner = rest.substring(1, if (close < 0) rest.length else close)
            rest = if (close < 0) "" else rest.substring(close + 1)
            val (a, op, v) =
              if (inner.contains("^=")) { val Array(x, y) = inner.split("\\^=", 2); (x, "^=", y) }
              else if (inner.contains("*=")) { val Array(x, y) = inner.split("\\*=", 2); (x, "*=", y) }
              else if (inner.contains("=")) { val Array(x, y) = inner.split("=", 2); (x, "=", y) }
              else (inner, "", "")
            attrs += ((a.trim, op, v.trim.stripPrefix("'").stripSuffix("'")
              .stripPrefix("\"").stripSuffix("\"")))
          case _ => rest = rest.substring(1)
        }
      }
      Simple(tag, id, classes.toSeq, attrs.toSeq)
    }
  }
}
