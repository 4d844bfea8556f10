package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/**
 * UTF8String-typed static wrappers for the pure kernels, shaped for
 * Catalyst `StaticInvoke` (stays inside whole-stage codegen: the generated
 * Java calls these statics directly — no UDF serialization, no codegen
 * fallback, null propagation handled by `propagateNull`).
 */
object Kernels {
  private def s(u: UTF8String): String = if (u == null) null else u.toString
  private def u(v: String): UTF8String = if (v == null) null else UTF8String.fromString(v)
  private def emptyStrings: ArrayData = new GenericArrayData(Array.empty[UTF8String])

  /**
   * The one tokenizer of the text kernels: the non-empty tokens of `text`
   * as UTF-8 byte arrays. `lower` splits `UTF8String.toLowerCase` on Java
   * `\s+` (the `filter(split(lower(t), '\\s+'), x -> length(x) > 0)`
   * column shape, [[graft.operators.Dedup.tokens]]); otherwise the text is
   * split on single spaces with its bytes kept (`split(t, ' ')`, same
   * filter). `qualityGate` and `bpeSegment` scan the lowered string in
   * place instead, and `simhash64` lowercases the Java string.
   */
  private def tokens(text: UTF8String, lower: Boolean): Array[Array[Byte]] = {
    val raw = if (lower) text.toLowerCase.toString.split("\\s+") else text.toString.split(" ")
    var m = 0
    var i = 0
    while (i < raw.length) { if (raw(i).nonEmpty) m += 1; i += 1 }
    val toks = new Array[Array[Byte]](m)
    m = 0; i = 0
    while (i < raw.length) {
      if (raw(i).nonEmpty) { toks(m) = raw(i).getBytes(StandardCharsets.UTF_8); m += 1 }
      i += 1
    }
    toks
  }

  /** The one gram writer: space-joins token ranges into a byte buffer the
    * caller reuses for every gram of a row (grown when a gram outgrows it). */
  private final class GramWriter {
    var buf = new Array[Byte](256)

    /** Writes tokens [lo, hi) space-joined into `buf`; returns the length. */
    def write(toks: Array[Array[Byte]], lo: Int, hi: Int): Int = {
      var len = hi - lo - 1
      var k = lo
      while (k < hi) { len += toks(k).length; k += 1 }
      if (len > buf.length) buf = new Array[Byte](len * 2)
      var p = 0
      k = lo
      while (k < hi) {
        if (k > lo) { buf(p) = ' '.toByte; p += 1 }
        System.arraycopy(toks(k), 0, buf, p, toks(k).length); p += toks(k).length
        k += 1
      }
      len
    }

    /** A copy of the first `len` bytes of `buf` as a string. */
    def string(len: Int): UTF8String = UTF8String.fromBytes(java.util.Arrays.copyOf(buf, len))
  }

  private val hexDigits = "0123456789abcdef".toCharArray

  /** The first `nHex` lowercase hex digits of the md5 of `buf[0, len)`:
    * `substring(md5(g), 1, nHex)`. */
  private def md5HexPrefix(md: MessageDigest, buf: Array[Byte], len: Int,
      nHex: Int): Array[Char] = {
    md.update(buf, 0, len)
    val dig = md.digest()
    val cs = new Array[Char](nHex)
    var c = 0
    while (c < nHex) {
      val b = dig(c / 2)
      cs(c) = hexDigits(if (c % 2 == 0) (b >> 4) & 0xF else b & 0xF)
      c += 1
    }
    cs
  }

  def urlCanonicalize(x: UTF8String): UTF8String = u(UrlKernel.canonicalize(s(x)))
  def urlHost(x: UTF8String): UTF8String = u(UrlKernel.host(s(x)))
  def urlPath(x: UTF8String): UTF8String = u(UrlKernel.path(s(x)))
  def urlResolve(b: UTF8String, r: UTF8String): UTF8String = u(UrlKernel.resolve(s(b), s(r)))
  def urlQueryParam(x: UTF8String, k: UTF8String): UTF8String = u(UrlKernel.queryParam(s(x), s(k)))

  def slugify(x: UTF8String): UTF8String = u(TextKernel.slugify(s(x)))
  def stripParens(x: UTF8String): UTF8String = u(TextKernel.stripParens(s(x)))
  def normalizeWs(x: UTF8String): UTF8String = u(TextKernel.normalizeWs(s(x)))
  def normalizeText(x: UTF8String): UTF8String = u(TextKernel.normalizeText(s(x)))
  def normalizeDashes(x: UTF8String): UTF8String = u(TextKernel.normalizeDashes(s(x)))
  def icsEscape(x: UTF8String): UTF8String = u(TextKernel.icsEscape(s(x)))
  def icsFold(x: UTF8String): UTF8String = u(TextKernel.icsFold(s(x)))
  def mimeGuess(x: UTF8String): UTF8String = u(TextKernel.mimeGuess(s(x)))
  def descFallback(x: UTF8String): UTF8String = u(TextKernel.descriptionFallback(s(x)))
  def lzDecompressUtf16(x: UTF8String): UTF8String = u(LzString.decompressFromUtf16(s(x)))
  def lzCompressUtf16(x: UTF8String): UTF8String = u(LzString.compressToUtf16(s(x)))
  def lexicalToHtml(x: UTF8String): UTF8String = u(Lexical.render(s(x)))

  /** First-match text for a CSS selector over an HTML fragment. */
  def htmlText(html: UTF8String, sel: UTF8String): UTF8String =
    if (html == null || sel == null) null
    else u(graft.parse.Html.parse(html.toString).selectFirst(sel.toString)
      .map(_.text).orNull)

  /** First-match attribute value for a CSS selector over an HTML fragment. */
  def htmlAttr(html: UTF8String, sel: UTF8String, attr: UTF8String): UTF8String =
    if (html == null || sel == null || attr == null) null
    else u(graft.parse.Html.parse(html.toString).selectFirst(sel.toString)
      .flatMap(_.attr(attr.toString)).orNull)

  /**
   * Distinct word-n-gram shingle hashes straight from the text bytes: the
   * values are EXACTLY `xxhash64(concat_ws(' ', slice(tokens, i, n)))`
   * over `array_distinct`'d shingles (XXH64, seed 42, over the same UTF-8
   * bytes; first-occurrence order) — but computed with ONE reused byte
   * buffer instead of materializing millions of shingle strings through
   * tokenize/slice/concat column expressions. The shingle stage is the
   * shared hot path of the n-gram Jaccard and MinHash-LSH dedup operators.
   */
  def shingleHash64(text: UTF8String, n: Int): ArrayData = {
    if (text == null) return new GenericArrayData(Array.empty[Long])
    val toks = tokens(text, lower = true)
    if (toks.length < n) return new GenericArrayData(Array.empty[Long])
    val count = toks.length - n + 1
    val seen = new java.util.HashSet[java.lang.Long](count * 2)
    val out = new Array[Long](count)
    var nOut = 0
    val g = new GramWriter
    var i = 0
    while (i < count) {
      val len = g.write(toks, i, i + n)
      val h = XXH64.hashUnsafeBytes(g.buf, Platform.BYTE_ARRAY_OFFSET, len, 42L)
      if (seen.add(h)) { out(nOut) = h; nOut += 1 }
      i += 1
    }
    new GenericArrayData(if (nOut == count) out else java.util.Arrays.copyOf(out, nOut))
  }

  /**
   * PQ subspace encoder: per subspace s, the index of the FIRST centroid
   * minimizing the L2² distance to subvector s — bit-identical to the
   * `zip_with(svs, cb, argmin over aggregate(zip_with((a-b)*(a-b))))`
   * HOF chain (same left-to-right double accumulation, same first-min
   * tie-break via exact equality), which interpreted m*ksub*dsub lambda
   * frames per row. svs: array<array<double>>; cb:
   * array<array<array<double>>>; returns array<int>.
   */
  def pqEncode(svs: ArrayData, cb: ArrayData): ArrayData = {
    val m = svs.numElements()
    val out = new Array[Int](m)
    var s0 = 0
    while (s0 < m) {
      val sv = svs.getArray(s0)
      val cents = cb.getArray(s0)
      val dsub = sv.numElements()
      val k = cents.numElements()
      var best = Double.NaN
      var bestIdx = 0
      var c = 0
      while (c < k) {
        val cent = cents.getArray(c)
        var acc = 0.0
        var i = 0
        while (i < dsub) {
          val d = sv.getDouble(i) - cent.getDouble(i)
          acc += d * d
          i += 1
        }
        // first strict improvement wins = array_position of array_min;
        // Double.compare orders NaN largest, matching Spark's ordering
        if (c == 0 || java.lang.Double.compare(acc, best) < 0) { best = acc; bestIdx = c }
        c += 1
      }
      out(s0) = bestIdx
      s0 += 1
    }
    new GenericArrayData(out)
  }

  /** Reconstructed squared norm of a PQ code: Σ_s Σ_d cb[s][code_s][d]²
    * with the HOF chain's exact nesting (inner fold per subspace, outer
    * fold over subspaces). */
  def pqReconNorm2(codes: ArrayData, cb: ArrayData): Double = {
    val m = codes.numElements()
    var outer = 0.0
    var s0 = 0
    while (s0 < m) {
      val cent = cb.getArray(s0).getArray(codes.getInt(s0))
      var inner = 0.0
      var i = 0
      while (i < cent.numElements()) {
        val x = cent.getDouble(i)
        inner += x * x
        i += 1
      }
      outer += inner
      s0 += 1
    }
    outer
  }

  /** Per-query ADC dot tables: tab[s][c] = <qsv_s, cb[s][c]> with
    * left-to-right accumulation — the zip_with/transform/aggregate chain
    * as one pass. Returns array<array<double>>. */
  def pqDotTables(qsvs: ArrayData, cb: ArrayData): ArrayData = {
    val m = qsvs.numElements()
    val out = new Array[ArrayData](m)
    var s0 = 0
    while (s0 < m) {
      val sv = qsvs.getArray(s0)
      val cents = cb.getArray(s0)
      val dsub = sv.numElements()
      val k = cents.numElements()
      val tab = new Array[Double](k)
      var c = 0
      while (c < k) {
        val cent = cents.getArray(c)
        var acc = 0.0
        var i = 0
        while (i < dsub) { acc += sv.getDouble(i) * cent.getDouble(i); i += 1 }
        tab(c) = acc
        c += 1
      }
      out(s0) = new GenericArrayData(tab)
      s0 += 1
    }
    new GenericArrayData(out.asInstanceOf[Array[Any]])
  }

  /** ADC score: Σ_s tabs[s][codes[s]] in subspace order (the
    * aggregate(zip_with(element_at)) fold as one pass). */
  def pqAdc(codes: ArrayData, tabs: ArrayData): Double = {
    val m = codes.numElements()
    var acc = 0.0
    var s0 = 0
    while (s0 < m) { acc += tabs.getArray(s0).getDouble(codes.getInt(s0)); s0 += 1 }
    acc
  }

  /** Stopword list of the quality gate — MUST stay in sync with
    * `TextAnalysis.stopwords` and the q54/q92 oracle SQL (parity-pinned in
    * DedupSimilaritySpec's kernel-vs-column test). */
  private val qualityStopwords = {
    val set = new java.util.HashSet[String]()
    Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")
      .foreach(set.add)
    set
  }

  /** Spark `round(x, 6)` for doubles: string-valued BigDecimal, HALF_UP —
    * the exact RoundBase semantics (Scala BigDecimal(d) == valueOf(d)). */
  private def round6(d: Double): Double =
    if (d.isInfinite || d.isNaN) d
    else java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /**
   * One-pass quality-envelope gate — value-identical to the
   * `TextAnalysis.qualityFeatures`-struct filter (token-count bounds,
   * punct-ratio cap, stopword-ratio floor, mean-word-length band), which
   * after SimplifyExtractValueOps decomposition re-tokenized the document
   * TEN times per row in an interpreted (CodegenFallback HOF) filter.
   * Semantics mirrored exactly: tokens = `filter(split(lower(text),
   * '\s+'), len > 0)` with code-point lengths; punct = count of Java
   * `[\p{Punct}]` chars of the RAW text; every ratio passes through
   * Spark's `round(x, 6)` before comparison; zero tokens carry
   * mean_word_len = 0.0 exactly like the reference struct (failing the
   * default 2.0 floor, but admissible under a permissive floor <= 0).
   */
  def qualityGate(text: UTF8String, minTokens: Int, maxTokens: Int,
      maxPunctRatio: Double, minStopwordRatio: Double,
      minMeanWordLen: Double, maxMeanWordLen: Double): Boolean = {
    val rawStr = text.toString
    val lower = text.toLowerCase.toString
    // tokenize once: maximal runs of non-[Java \s] chars of the LOWERED
    // string (split("\\s+") + nonEmpty filter semantics)
    var nTok = 0
    var sumLen = 0L
    var stop = 0
    var i = 0
    val L = lower.length
    while (i < L) {
      def isWs(c: Char): Boolean =
        c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
      if (!isWs(lower.charAt(i))) {
        val start = i
        while (i < L && !isWs(lower.charAt(i))) i += 1
        nTok += 1
        sumLen += lower.codePointCount(start, i)
        val tokLen = i - start
        if (tokLen >= 1 && tokLen <= 4 &&
            qualityStopwords.contains(lower.substring(start, i))) stop += 1
      } else i += 1
    }
    if (nTok < minTokens || nTok > maxTokens) return false
    // punct count over the RAW text (ASCII [\p{Punct}]; single code units)
    var punct = 0
    var nChars = 0
    i = 0
    while (i < rawStr.length) {
      val c = rawStr.charAt(i)
      if ((c >= '!' && c <= '/') || (c >= ':' && c <= '@') ||
          (c >= '[' && c <= '`') || (c >= '{' && c <= '~')) punct += 1
      if (!Character.isLowSurrogate(c)) nChars += 1
      i += 1
    }
    val punctRatio = round6(punct.toDouble / math.max(nChars, 1).toDouble)
    if (punctRatio > maxPunctRatio) return false
    val stopRatio = round6(stop.toDouble / math.max(nTok, 1).toDouble)
    if (stopRatio < minStopwordRatio) return false
    // zero tokens: the reference struct computes mean_word_len = 0.0 (the
    // when(nTok > 0, …).otherwise(0.0) branch), so a permissive
    // minMeanWordLen <= 0 admits empty documents — mirror that exactly
    // rather than short-circuiting on nTok == 0
    val mean = if (nTok > 0) round6(sumLen.toDouble / nTok.toDouble) else 0.0
    mean >= minMeanWordLen && mean <= maxMeanWordLen
  }

  /**
   * Adjacent word n-grams as strings (all occurrences, document order):
   * value-identical to `transform(sequence(...), i -> concat_ws(' ',
   * element_at(tokens, i+1..i+n)))` over whitespace-tokenized lowercase
   * text, but one linear pass over the bytes. The column formulation is
   * O(len²) per document — Catalyst's CollapseProject inlines the
   * tokenize expression into every `element_at` call site, so each gram
   * position re-splits the whole document (measured 9.5 s → sub-second at
   * sf0.1 for the bigram LM count).
   */
  def wordNgrams(text: UTF8String, n: Int): ArrayData = {
    if (text == null) return emptyStrings
    val toks = tokens(text, lower = true)
    if (toks.length < n) return emptyStrings
    // a 1-gram is its token, whose bytes this row owns: wrap, not copy
    if (n == 1) return new GenericArrayData(toks.map(UTF8String.fromBytes))
    val out = new Array[UTF8String](toks.length - n + 1)
    val g = new GramWriter
    var i = 0
    while (i < out.length) { out(i) = g.string(g.write(toks, i, i + n)); i += 1 }
    new GenericArrayData(out)
  }

  /**
   * One-pass per-document repetition stats `[n_tokens, n_distinct, top_c,
   * n_bigrams, n_distinct_bi]` over whitespace-tokenized lowercase text —
   * value-identical to exploding `tokens` / `word_ngrams(2)` and
   * re-aggregating by doc id (distinctness compares UTF-8 bytes, exactly
   * the exploded groupBy's UTF8String equality), but computed within the
   * row: the stats are per-document, so the explode → two keyed
   * aggregations → join shape paid four exchanges for counts a linear
   * scan of the row produces directly.
   */
  def repetitionStats(text: UTF8String): ArrayData = {
    if (text == null) return new GenericArrayData(Array[Long](0L, 0L, 0L, 0L, 0L))
    val toks = tokens(text, lower = true)
    val m = toks.length
    // UTF8String keys: byte-domain equality, matching the exploded
    // groupBy (Java String equality differs on unpaired surrogates)
    val tokCounts = new java.util.HashMap[UTF8String, Long](m * 2)
    var topC = 0L
    var i = 0
    while (i < m) {
      val k = UTF8String.fromBytes(toks(i))
      val c = tokCounts.getOrDefault(k, 0L) + 1L
      tokCounts.put(k, c)
      if (c > topC) topC = c
      i += 1
    }
    var nBi = 0L
    var nDistinctBi = 0L
    if (m >= 2) {
      val biSet = new java.util.HashSet[UTF8String](m * 2)
      val g = new GramWriter
      i = 0
      while (i < m - 1) { biSet.add(g.string(g.write(toks, i, i + 2))); i += 1 }
      nBi = (m - 1).toLong
      nDistinctBi = biSet.size.toLong
    }
    new GenericArrayData(Array[Long](m.toLong, tokCounts.size.toLong, topC, nBi, nDistinctBi))
  }

  /**
   * Winnowing fingerprints (Schleimer et al. 2003) in ONE linear pass:
   * value-identical to
   * `array_distinct(transform(sequence(1, greatest(m-w+1, 1)), j ->
   *   array_min(slice(transform(grams, g -> substring(md5(g), 1, 15)), j, w))))`
   * over the word-k-gram strings of whitespace-tokenized lowercase text —
   * but the column formulation materializes every gram string, every md5
   * hex string, and a fresh w-slice array per window; this computes the
   * same 15-hex-char window minima with one digest per gram and a sliding
   * compare (measured 11.3 s -> sub-second for q86 at sf0.1).
   */
  def winnowFps(text: UTF8String, k: Int, w: Int): ArrayData = {
    if (text == null) return emptyStrings
    val toks = tokens(text, lower = true)
    if (toks.length < k) return emptyStrings
    val count = toks.length - k + 1
    val md = MessageDigest.getInstance("MD5")
    val g = new GramWriter
    val hashes = new Array[String](count)
    var i = 0
    while (i < count) {
      val len = g.write(toks, i, i + k)
      hashes(i) = new String(md5HexPrefix(md, g.buf, len, 15))
      i += 1
    }
    val windows = math.max(count - w + 1, 1)
    val seen = new java.util.LinkedHashSet[String]()
    var j = 0
    while (j < windows) {
      var mn = hashes(j)
      var x = j + 1
      val end = math.min(j + w, count)
      while (x < end) { if (hashes(x).compareTo(mn) < 0) mn = hashes(x); x += 1 }
      seen.add(mn)
      j += 1
    }
    val out = new Array[UTF8String](seen.size)
    val it = seen.iterator()
    i = 0
    while (it.hasNext) { out(i) = UTF8String.fromString(it.next()); i += 1 }
    new GenericArrayData(out)
  }

  /**
   * Portable md5-MinHash band keys in ONE linear pass: value-identical to
   * the column formulation
   * `transform(sequence(0, bands-1), b -> concat_ws('',
   *    slice(array(sig_0..sig_{perms-1}), b*rows+1, rows)))` where
   * `sig_p = array_min(transform(shingles, s -> substring(md5(s), 1+5p, 5)))`
   * over the distinct word-n-gram shingles of lowercase text — but the
   * column chain materializes every shingle string, every 32-hex md5, six
   * window arrays and a signature array per document, and Catalyst's
   * InferFiltersFromGenerate duplicates the whole chain into a vacuous
   * `size(bands) > 0` filter under the band explode (measured 4x on q89's
   * corpus side). One md5 per DISTINCT-VALUE-irrelevant gram (duplicate
   * grams can't change a min), six sliding 5-hex-char minima, `bands`
   * concatenated keys. Empty/short docs return an empty array (the
   * explode drops them — same rows as the chain after its size filter).
   */
  def md5MinhashBands(text: UTF8String, n: Int, perms: Int,
      bands: Int): ArrayData = {
    // the kernel is SQL-registered, so it must validate its own window
    // geometry: perms > 6 would read past the 16-byte md5 digest, and
    // bands that don't divide perms would silently drop signature minima
    // (or, with rows = 0, emit identical empty keys that degenerate a
    // band join into a cross product)
    if (n < 1 || perms < 1 || perms * 5 > 32 || bands < 1 || bands > perms ||
        perms % bands != 0)
      throw new IllegalArgumentException(
        s"md5_minhash_bands: need n >= 1, 1 <= perms <= 6 (5-hex-char md5 " +
        s"windows), and bands dividing perms; got n=$n perms=$perms bands=$bands")
    if (text == null) return emptyStrings
    val toks = tokens(text, lower = true)
    if (toks.length < n) return emptyStrings
    val count = toks.length - n + 1
    val md = MessageDigest.getInstance("MD5")
    val g = new GramWriter
    // running per-permutation minima over 5-hex-char md5 windows
    val mins = Array.fill(perms)(null: String)
    var i = 0
    while (i < count) {
      val len = g.write(toks, i, i + n)
      val hex = md5HexPrefix(md, g.buf, len, 5 * perms)
      var q = 0
      while (q < perms) {
        val w = new String(hex, 5 * q, 5)
        if (mins(q) == null || w.compareTo(mins(q)) < 0) mins(q) = w
        q += 1
      }
      i += 1
    }
    val rows = perms / bands
    val out = new Array[UTF8String](bands)
    var b = 0
    while (b < bands) {
      val sb = new java.lang.StringBuilder(5 * rows)
      var r = 0
      while (r < rows) { sb.append(mins(b * rows + r)); r += 1 }
      out(b) = UTF8String.fromString(sb.toString)
      b += 1
    }
    new GenericArrayData(out)
  }

  /**
   * Sliding-window chunk strings with stride (the training-sample
   * extractor: overlapping context windows over a document's tokens).
   * Window i covers tokens [i·stride, i·stride + size); emission stops
   * with the first window that covers the document end (so no window is a
   * strict suffix-subset of its predecessor), and that last window may be
   * short. With stride == size this is the non-overlapping span-grain
   * chunker (`chunk_text`). Same linear-pass rationale as [[wordNgrams]]
   * (the slice/concat_ws column formulation re-walks the token array per
   * chunk); token bytes are preserved (no lowercasing — samples keep their
   * text).
   */
  def chunkTextStride(text: UTF8String, size: Int, stride: Int): ArrayData = {
    if (text == null || size < 1 || stride < 1) return emptyStrings
    val toks = tokens(text, lower = false)
    val m = toks.length
    if (m == 0) return emptyStrings
    // stop once a window's end reaches the document end: with stride <
    // size, later starts would emit strict suffix-subsets of the previous
    // window (duplicate training samples). The last window is the first
    // whose [start, start+size) covers the tail. Starts must also stay
    // below m: with stride > size the cover-the-tail count alone would
    // schedule an empty window past the last token.
    val nWinCover = if (m <= size) 1 else (m - size + stride - 1) / stride + 1
    val out = new Array[UTF8String](math.min((m - 1) / stride + 1, nWinCover))
    val g = new GramWriter
    var w = 0
    while (w < out.length) {
      val start = w * stride
      out(w) = g.string(g.write(toks, start, math.min(start + size, m)))
      w += 1
    }
    new GenericArrayData(out)
  }

  /** Adjacent symbol pairs of a symbol array, as "l r" strings (BPE pair
    * statistics; word-internal only — callers explode per word type). */
  def bpePairs(syms: ArrayData)
      : ArrayData = {
    val n = if (syms == null) 0 else syms.numElements()
    if (n < 2) return new GenericArrayData(
      Array.empty[UTF8String])
    val out = new Array[UTF8String](n - 1)
    var i = 0
    while (i < n - 1) {
      out(i) = UTF8String.concat(syms.getUTF8String(i),
        UTF8String.fromString(" "), syms.getUTF8String(i + 1))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** One BPE merge applied to a symbol array: every non-overlapping
    * left-to-right occurrence of (l, r) becomes the concatenation l+r —
    * the reference semantics of the original BPE algorithm (Sennrich et
    * al. 2016), where "aaa" under merge (a,a) yields ["aa","a"]. */
  def bpeMergeStep(syms: ArrayData,
      l: UTF8String, r: UTF8String)
      : ArrayData = {
    val n = if (syms == null) 0 else syms.numElements()
    if (n == 0) return new GenericArrayData(
      Array.empty[UTF8String])
    val out = new Array[UTF8String](n)
    var nOut = 0
    var i = 0
    while (i < n) {
      if (i < n - 1 && syms.getUTF8String(i).equals(l) &&
          syms.getUTF8String(i + 1).equals(r)) {
        out(nOut) = UTF8String.concat(l, r); nOut += 1; i += 2
      } else {
        out(nOut) = syms.getUTF8String(i); nOut += 1; i += 1
      }
    }
    new GenericArrayData(
      if (nOut == n) out else java.util.Arrays.copyOf(out, nOut))
  }

  /**
   * Full BPE re-segmentation of a document in ONE pass: tokenize
   * (lowercase whitespace split — the `Dedup.tokens` semantics), split
   * each word into code-point symbols + `</w>`, replay the merge list in
   * rank order with [[bpeMergeStep]]'s exact non-overlapping
   * left-to-right semantics, and flatten — value-identical to the
   * `transform(tokens, …)` + `numMerges` nested `transform(acc,
   * bpe_merge_step)` + `flatten` HOF chain (parity spec in BpeSpec),
   * which interpreted every lambda frame per word per merge.
   */
  def bpeSegment(text: UTF8String,
      ls: ArrayData,
      rs: ArrayData)
      : ArrayData = {
    val lower = text.toLowerCase.toString
    val nMerges = ls.numElements()
    val mL = new Array[String](nMerges)
    val mR = new Array[String](nMerges)
    var k = 0
    while (k < nMerges) {
      mL(k) = ls.getUTF8String(k).toString
      mR(k) = rs.getUTF8String(k).toString
      k += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[UTF8String]()
    var syms = new Array[String](16)
    var i = 0
    val L = lower.length
    while (i < L) {
      def isWs(c: Char): Boolean =
        c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
      if (isWs(lower.charAt(i))) i += 1
      else {
        val start = i
        while (i < L && !isWs(lower.charAt(i))) i += 1
        // code-point symbols + </w>
        var n = 0
        var p = start
        while (p < i) {
          val cp = lower.codePointAt(p)
          val w = Character.charCount(cp)
          if (n == syms.length) syms = java.util.Arrays.copyOf(syms, n * 2)
          syms(n) = lower.substring(p, p + w)
          n += 1
          p += w
        }
        if (n == syms.length) syms = java.util.Arrays.copyOf(syms, n * 2)
        syms(n) = "</w>"
        n += 1
        // replay merges in rank order, non-overlapping left-to-right
        k = 0
        while (k < nMerges) {
          val l = mL(k); val r = mR(k)
          var src = 0
          var dst = 0
          while (src < n) {
            if (src < n - 1 && syms(src) == l && syms(src + 1) == r) {
              syms(dst) = l + r; src += 2
            } else {
              syms(dst) = syms(src); src += 1
            }
            dst += 1
          }
          n = dst
          k += 1
        }
        var j = 0
        while (j < n) { out += UTF8String.fromString(syms(j)); j += 1 }
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** splitmix64 finalizer — cheap full-avalanche 64-bit mixer. */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /**
   * One-pass MinHash band buckets over a document's shingle-hash array:
   * the `numBands * rowsPerBand` per-seed minima via the standard two-hash
   * construction `h_i = h1 + i * h2` (Cohen et al.; one mixer pair per
   * shingle, two ALU ops per seed), folded into one bucket hash per band.
   * Replaces `numBands * rowsPerBand` separate array traversals (each an
   * allocated intermediate array + per-element xxhash) and the
   * string-concat band hashing with a single static call per document.
   * An empty shingle array yields the MaxValue-minima buckets — all empty
   * documents collide everywhere and are then rejected by the exact-Jaccard
   * verify, matching the column-fold semantics it replaces.
   */
  def minhashBands(shingleHashes: ArrayData,
      numBands: Int, rowsPerBand: Int): ArrayData = {
    val numHashes = numBands * rowsPerBand
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = shingleHashes.numElements()
    var i = 0
    while (i < n) {
      val h = shingleHashes.getLong(i)
      val h1 = mix64(h)
      val h2 = mix64(h ^ 0x71D67FFFEDA60000L) | 1L // odd => all seeds distinct
      var j = 0
      var m = h1
      while (j < numHashes) {
        if (m < mins(j)) mins(j) = m
        m += h2
        j += 1
      }
      i += 1
    }
    val buckets = new Array[Long](numBands)
    var b = 0
    while (b < numBands) {
      var acc = mix64(b.toLong)
      var r = 0
      while (r < rowsPerBand) {
        acc = mix64(acc ^ mins(b * rowsPerBand + r))
        r += 1
      }
      buckets(b) = acc
      b += 1
    }
    new GenericArrayData(buckets)
  }

  /**
   * All `tables` random-hyperplane LSH signatures of a vector in ONE pass:
   * output(t) packs `bits` sign bits of dot products against pseudo-random
   * planes. VALUE-IDENTICAL to the column construction it replaces
   * (`aggregate(zip_with(vec, sequence(...), x*comp))` per bit per table,
   * where comp = xxhash64(plane:int, dim:int, seed:long) / Long.MaxValue
   * and seed = t*7919+13): the hash chain (seed 42, int/int/long lanes)
   * and the left-to-right accumulation order are reproduced exactly, so
   * buckets match bit-for-bit. Cost per row: d*bits*(tables+1) ALU hashes
   * in a tight loop — no per-bit array allocation, no interpreted HOF
   * folds (tables*bits of them, each re-walking the vector).
   */
  def hyperplaneSigs(vec: ArrayData,
      bits: Int, tables: Int): ArrayData = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val d = vec.numElements()
    val dots = new Array[Double](tables * bits)
    var i = 0
    while (i < d) {
      val x = vec.getDouble(i)
      var p = 0
      while (p < bits) {
        // xxhash64(lit(plane), i, lit(seed)) = chained XXH64 with seed 42:
        // int lane (plane), int lane (dim), long lane (table seed)
        val h2 = XXH64.hashInt(i, XXH64.hashInt(p, 42L))
        var t = 0
        while (t < tables) {
          val comp = XXH64.hashLong(t * 7919L + 13L, h2).toDouble / Long.MaxValue.toDouble
          dots(t * bits + p) += x * comp
          t += 1
        }
        p += 1
      }
      i += 1
    }
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var sig = 0L
      var p = 0
      while (p < bits) {
        if (dots(t * bits + p) >= 0) sig |= (1L << p)
        p += 1
      }
      out(t) = sig
      t += 1
    }
    new GenericArrayData(out)
  }

  /** FNV-1a 64-bit over UTF-8 bytes — deterministic token hash for simhash. */
  private def fnv64(t: String): Long = {
    var h = -3750763034362895579L // FNV offset basis
    var i = 0
    val bytes = t.getBytes(StandardCharsets.UTF_8)
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xFFL)
      h *= 1099511628211L // FNV prime
      i += 1
    }
    h
  }

  /**
   * Cosine similarity over two equal-length double arrays in ONE pass with
   * three accumulators. The accumulation order (left-to-right element fold,
   * then `sqrt(na) * sqrt(nb)`, then the division) is bit-identical to the
   * `aggregate(zip_with(...))` column fold it replaces — and therefore to
   * the DuckDB oracle's `list_cosine_similarity` at 6 dp. One static call
   * per PAIR instead of three interpreted higher-order folds (each of which
   * allocated an intermediate array per pair) — this is the hot kernel of
   * the all-pairs / candidate-verify similarity stages.
   * Arrays must be null-element-free; the shorter length wins (zip_with
   * would null-pad, but all callers guarantee equal dims).
   */
  def cosineSim(a: ArrayData,
      b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /**
   * Micro-unit quantization of a double vector: `q_i = floor(x_i * 10^6 +
   * 0.5)` as long (round-half-up in exact double arithmetic, identical in
   * every IEEE-754 engine). The integer domain makes downstream k-means
   * centroid math ENGINE-EXACT: floor-div means and squared-L2 distances
   * are pure 64-bit integer expressions, so a SQL oracle reproduces the
   * clustering bit-for-bit — no float-accumulation-order hazards. DuckDB
   * mirror: `list_transform(v, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000
   * + 0.5) AS BIGINT))`.
   */
  def quantizeVec(vec: ArrayData)
      : ArrayData = {
    val n = vec.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = math.floor(vec.getDouble(i) * 1000000.0 + 0.5).toLong
      i += 1
    }
    new GenericArrayData(out)
  }

  /**
   * Exact squared L2 distance between equal-length long vectors. With
   * micro-unit inputs (|q| <= ~10^7) a 64-dim sum stays far below 2^63 —
   * overflow-free by construction at embedding scale.
   */
  def l2sqQ(a: ArrayData,
      b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = a.getLong(i) - b.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  /**
   * 64-bit SimHash over lowercase whitespace tokens: per-bit vote of each
   * token's FNV-1a hash; sign of the vote decides the output bit. It
   * lowercases the Java `String` (not the `UTF8String` the shared
   * [[tokens]] lowers), so it keeps its own split: the two lowerings can
   * differ, and with them the hash values.
   */
  def simhash64(text: UTF8String): Long = {
    if (text == null) return 0L
    val votes = new Array[Int](64)
    text.toString.toLowerCase.split("\\s+").foreach { t =>
      if (t.nonEmpty) {
        val h = fnv64(t)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}

/**
 * User-facing column functions of the graft engine (the custom scalar
 * surface from SURVEY.md §2.11). All are pure, deterministic, and
 * codegen-friendly via `StaticInvoke`; `url_hash` composes the built-in
 * `xxhash64` over the canonical form.
 */
object GraftFunctions {

  private val K = Kernels.getClass
  private val longs = ArrayType(LongType, containsNull = false)
  private val strings = ArrayType(StringType, containsNull = false)
  private val arrL = ArrayType(LongType)
  private val arrD = ArrayType(DoubleType)
  private val arrArrD = ArrayType(arrD)
  private val arrArrArrD = ArrayType(arrArrD)
  private val arrI = ArrayType(IntegerType)

  /** The one `StaticInvoke` builder: Kernels method `fn` with its return
    * and input types. Each kernel's signature is written down once, in
    * [[sqlFunctions]] or, for a kernel with no SQL name, in its Column
    * function. */
  private def kernel(fn: String, out: DataType, in: DataType*): Seq[Expression] => Expression =
    args => StaticInvoke(K, out, fn, args.take(in.size), inputTypes = in)

  private def call(build: Seq[Expression] => Expression, args: Column*): Column =
    ColumnBridge.column(build(args.map(ColumnBridge.expression)))

  /** The Column twin of SQL function `name`: its builder, so both routes
    * build equal expressions. */
  private def sql(name: String, args: Column*): Column = call(sqlBuilders(name), args: _*)
  private lazy val sqlBuilders = sqlFunctions.toMap

  def url_canonicalize(c: Column): Column = sql("url_canonicalize", c)
  def url_host(c: Column): Column = sql("url_host", c)
  def url_path(c: Column): Column = sql("url_path", c)
  def url_resolve(base: Column, ref: Column): Column = sql("url_resolve", base, ref)
  def url_query_param(c: Column, key: Column): Column = sql("url_query_param", c, key)
  /** 64-bit identity of a URL in the seen-set: xxhash64 of the canonical form. */
  def url_hash(c: Column): Column = xxhash64(url_canonicalize(c))

  def slugify(c: Column): Column = sql("graft_slugify", c)
  def strip_parens(c: Column): Column = sql("strip_parens", c)
  def normalize_ws(c: Column): Column = sql("normalize_ws", c)
  /** NFC + ROOT-locale lowercase + whitespace collapse + trim (dedup keying). */
  def normalize_text(c: Column): Column = sql("normalize_text", c)
  def normalize_dashes(c: Column): Column = sql("normalize_dashes", c)
  def ics_escape(c: Column): Column = sql("ics_escape", c)
  def ics_fold(c: Column): Column = sql("ics_fold", c)
  def mime_guess(c: Column): Column = sql("mime_guess", c)
  def desc_fallback(c: Column): Column = sql("desc_fallback", c)
  def lz_decompress_utf16(c: Column): Column = sql("lz_decompress_utf16", c)
  def lz_compress_utf16(c: Column): Column = sql("lz_compress_utf16", c)
  def lexical_to_html(c: Column): Column = sql("lexical_to_html", c)
  def html_text(html: Column, selector: Column): Column = sql("html_text", html, selector)
  def html_attr(html: Column, selector: Column, attr: Column): Column =
    call(kernel("htmlAttr", StringType, StringType, StringType, StringType), html, selector, attr)
  /** 64-bit SimHash of a text column (token-level, FNV-1a votes). */
  def simhash64(c: Column): Column = sql("simhash64", c)

  /** Distinct word-n-gram shingle hashes of a text column (array<bigint>,
    * value-identical to hashing the shingle strings) — codegen'd kernel. */
  def shingle_hash64(text: Column, n: Int): Column = sql("shingle_hash64", text, lit(n))

  /** Adjacent word n-grams of a text column as strings (array<string>,
    * all occurrences in document order) — linear-pass codegen'd kernel. */
  def word_ngrams(text: Column, n: Int): Column = sql("word_ngrams", text, lit(n))

  /** One-pass per-document repetition stats `[n_tokens, n_distinct, top_c,
    * n_bigrams, n_distinct_bi]` (array<bigint>) — codegen'd kernel,
    * value-identical to the exploded tokens / word_ngrams(2) aggregations
    * (see Kernels.repetitionStats; parity spec in SpanDedupPiiSpec). */
  def repetition_stats(text: Column): Column =
    call(kernel("repetitionStats", longs, StringType), text)

  /** One-pass quality-envelope gate (boolean) — value-identical to the
    * qualityFeatures-struct predicate (see Kernels.qualityGate; parity
    * spec in DedupSimilaritySpec). */
  def quality_gate(text: Column, minTokens: Int, maxTokens: Int,
      maxPunctRatio: Double, minStopwordRatio: Double,
      minMeanWordLen: Double, maxMeanWordLen: Double): Column =
    call(kernel("qualityGate", BooleanType, StringType, IntegerType, IntegerType,
        DoubleType, DoubleType, DoubleType, DoubleType),
      text, lit(minTokens), lit(maxTokens), lit(maxPunctRatio), lit(minStopwordRatio),
      lit(minMeanWordLen), lit(maxMeanWordLen))

  /** Sliding-window chunk strings with stride (array<string>) —
    * linear-pass codegen'd kernel for overlapping context windows. */
  def chunk_text_stride(text: Column, size: Int, stride: Int): Column =
    sql("chunk_text_stride", text, lit(size), lit(stride))

  /** Fixed-token-count chunk strings of a text column (array<string>):
    * the span-grain chunker, [[chunk_text_stride]] with stride == size. */
  def chunk_text(text: Column, chunkSize: Int): Column =
    chunk_text_stride(text, chunkSize, chunkSize)

  /** Portable md5-MinHash band keys of a text column (array<string>,
    * one key per band) — linear-pass codegen'd kernel, value-identical to
    * the substring(md5(shingle)) column chain (and to its DuckDB replay). */
  def md5_minhash_bands(text: Column, n: Int, perms: Int, bands: Int): Column =
    sql("md5_minhash_bands", text, lit(n), lit(perms), lit(bands))

  /** Winnowing fingerprints of a text column (array<string> of 15-hex-char
    * md5-prefix window minima) — linear-pass codegen'd kernel. */
  def winnow_fps(text: Column, k: Int, w: Int): Column = sql("winnow_fps", text, lit(k), lit(w))

  /** Adjacent "l r" symbol-pair strings of an array<string> column —
    * codegen'd kernel for BPE pair statistics. */
  def bpe_pairs(syms: Column): Column =
    call(kernel("bpePairs", strings, ArrayType(StringType)), syms)

  /** Full BPE re-segmentation (tokenize -> char symbols + </w> -> replay
    * merges in rank order -> flatten) as ONE kernel pass — value-identical
    * to the nested transform(bpe_merge_step) HOF chain (BpeSpec parity). */
  def bpe_segment(text: Column, merges: Seq[(String, String)]): Column =
    call(kernel("bpeSegment", strings, StringType, ArrayType(StringType), ArrayType(StringType)),
      text, lit(merges.map(_._1).toArray), lit(merges.map(_._2).toArray))

  /** One BPE merge (l, r) -> l+r applied non-overlapping left-to-right
    * over an array<string> symbol column — codegen'd kernel. */
  def bpe_merge_step(syms: Column, l: Column, r: Column): Column =
    call(kernel("bpeMergeStep", strings, ArrayType(StringType), StringType, StringType),
      syms, l, r)

  /** MinHash band-bucket hashes (array<bigint>, one per band) of a
    * shingle-hash array column — single-pass codegen'd kernel. */
  def minhash_bands(shingleHashes: Column, numBands: Int, rowsPerBand: Int): Column =
    sql("minhash_bands", shingleHashes, lit(numBands), lit(rowsPerBand))

  /** All hyperplane-LSH table signatures (array<bigint>, one packed-bits
    * signature per table) of an array<double> vector — one-pass codegen'd
    * kernel, value-identical to the per-bit HOF construction. */
  def hyperplane_sigs(vec: Column, bits: Int, tables: Int): Column =
    sql("hyperplane_sigs", vec, lit(bits), lit(tables))

  /** PQ subspace codes (array<int>) — one-pass argmin kernel over
    * (subvectors, codebook), HOF-chain value-identical. */
  def pq_encode(svs: Column, cb: Column): Column = call(
    kernel("pqEncode", ArrayType(IntegerType, containsNull = false), arrArrD, arrArrArrD), svs, cb)

  /** Reconstructed squared norm of PQ codes (double). */
  def pq_recon_norm2(codes: Column, cb: Column): Column =
    call(kernel("pqReconNorm2", DoubleType, arrI, arrArrArrD), codes, cb)

  /** Per-query ADC dot tables (array<array<double>>). */
  def pq_dot_tables(qsvs: Column, cb: Column): Column =
    call(kernel("pqDotTables", arrArrD, arrArrD, arrArrArrD), qsvs, cb)

  /** ADC score Σ_s tabs[s][codes[s]] (double). */
  def pq_adc(codes: Column, tabs: Column): Column =
    call(kernel("pqAdc", DoubleType, arrI, arrArrD), codes, tabs)

  /** Cosine similarity over two array<double> columns (codegen'd static
    * kernel; callers pre-cast float embeddings ONCE, not per pair). */
  def cosine_sim(a: Column, b: Column): Column = sql("cosine_sim", a, b)

  /** Micro-unit integer quantization of a double vector (see Kernels.quantizeVec). */
  def quantize_vec(c: Column): Column = call(kernel("quantizeVec", longs, arrD), c)

  /** Exact squared L2 distance between two long vectors (see Kernels.l2sqQ). */
  def l2sq_q(a: Column, b: Column): Column = call(kernel("l2sqQ", LongType, arrL, arrL), a, b)

  /** Every graft SQL function as (name, expression builder): the one table
    * both registration routes install — per-session [[registerAll]] and
    * the `spark.sql.extensions` route ([[graft.GraftExtensions]]) — and
    * the builders the Column twins above call. */
  private[graft] val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = {
    def str1(fn: String) = kernel(fn, StringType, StringType)
    def str2(fn: String) = kernel(fn, StringType, StringType, StringType)
    val stride = kernel("chunkTextStride", strings, StringType, IntegerType, IntegerType)
    Seq(
      "url_canonicalize" -> str1("urlCanonicalize"),
      "url_host" -> str1("urlHost"),
      "url_path" -> str1("urlPath"),
      "url_resolve" -> str2("urlResolve"),
      "url_query_param" -> str2("urlQueryParam"),
      "graft_slugify" -> str1("slugify"),
      "strip_parens" -> str1("stripParens"),
      "normalize_ws" -> str1("normalizeWs"),
      "normalize_text" -> str1("normalizeText"),
      "normalize_dashes" -> str1("normalizeDashes"),
      "ics_escape" -> str1("icsEscape"),
      "ics_fold" -> str1("icsFold"),
      "mime_guess" -> str1("mimeGuess"),
      "desc_fallback" -> str1("descFallback"),
      "lz_decompress_utf16" -> str1("lzDecompressUtf16"),
      "lz_compress_utf16" -> str1("lzCompressUtf16"),
      "lexical_to_html" -> str1("lexicalToHtml"),
      "html_text" -> str2("htmlText"),
      "simhash64" -> kernel("simhash64", LongType, StringType),
      "shingle_hash64" -> kernel("shingleHash64", longs, StringType, IntegerType),
      "word_ngrams" -> kernel("wordNgrams", strings, StringType, IntegerType),
      // chunk_text(t, n) = chunk_text_stride(t, n, n)
      "chunk_text" -> (args => stride(args.take(2) ++ args.slice(1, 2))),
      "chunk_text_stride" -> stride,
      "md5_minhash_bands" -> kernel("md5MinhashBands", strings,
        StringType, IntegerType, IntegerType, IntegerType),
      "winnow_fps" -> kernel("winnowFps", strings, StringType, IntegerType, IntegerType),
      "minhash_bands" -> kernel("minhashBands", longs, arrL, IntegerType, IntegerType),
      "hyperplane_sigs" -> kernel("hyperplaneSigs", longs, arrD, IntegerType, IntegerType),
      "cosine_sim" -> kernel("cosineSim", DoubleType, arrD, arrD),
      "cuckoo_might_contain" -> (args => CuckooMightContain(args(0), args(1))))
  }

  /** Register all graft functions for SQL use (`SELECT url_canonicalize(u) ...`). */
  def registerAll(spark: SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    sqlFunctions.foreach { case (name, builder) =>
      registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
