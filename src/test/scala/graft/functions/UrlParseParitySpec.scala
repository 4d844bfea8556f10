package graft.functions

import org.scalatest.funsuite.AnyFunSuite

class UrlParseParitySpec extends AnyFunSuite {

  // scheme characters, URL delimiters, whitespace, non-ASCII (incl. a
  // surrogate pair's halves) and the five line terminators the regex's `.`
  // rejects
  private val alphabet: Array[Char] =
    ("aZh" + "09" + "+.-" + ":/?#@[]%" + " \t" + "éß한\uD83D\uDE00" +
      "\n\r\u0085\u2028\u2029").toCharArray

  test("hand-scanned scheme split equals the regex reference on 10^6 random strings") {
    val rnd = new scala.util.Random(20261018L)
    val schemes = Seq("http", "HTTPS", "a+b.c-d", "x1")
    var withScheme = 0
    var n = 0
    while (n < 1000000) {
      val len = rnd.nextInt(16)
      val sb = new StringBuilder
      // half the inputs start with a real scheme, so both outcomes of the
      // scan are exercised deep into the string
      if (rnd.nextBoolean()) sb.append(schemes(rnd.nextInt(schemes.size))).append(':')
      var i = 0
      while (i < len) { sb.append(alphabet(rnd.nextInt(alphabet.length))); i += 1 }
      val s = sb.toString
      val got = UrlKernel.parse(s)
      assert(got === UrlParseReference.parse(s), s"input ${s.map(_.toInt).mkString(",")}")
      if (got.scheme.nonEmpty) withScheme += 1
      n += 1
    }
    assert(withScheme > 100000, s"only $withScheme inputs split a scheme")
  }

  test("hand-scanned scheme split: edge cases") {
    Seq("", ":", "a:", "1a:b", "a1+.-:x", "a:b:c", "a:\n", "a\n:b", "ab:c\u2028",
      "ab:c\u000Bd", "é:x", "a é:x", "http://h/p?q#f", "//h/p", "a:b\r\n")
      .foreach(s => assert(UrlKernel.parse(s) === UrlParseReference.parse(s), s))
  }
}
