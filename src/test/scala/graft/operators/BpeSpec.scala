package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

/**
 * BPE merge learning vs an in-test reference implementation of the
 * original algorithm (Sennrich et al. 2016, alg. 1): count symbol pairs
 * over word types weighted by frequency, merge the argmax, repeat.
 */
class BpeSpec extends SparkSuite {
  import spark.implicits._

  /** Reference BPE on a word-frequency map; ties: count desc, pair asc. */
  private def referenceBpe(vocab: Map[String, Long], numMerges: Int)
      : Seq[(String, String)] = {
    var words: Seq[(Seq[String], Long)] =
      vocab.map { case (w, n) => (w.map(_.toString) :+ "</w>", n) }.toSeq
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    for (_ <- 0 until numMerges) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, n) <- words; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) = counts.getOrElse((syms(i), syms(i + 1)), 0L) + n
      if (counts.nonEmpty) {
        val (l, r) = counts.toSeq
          .sortBy { case ((a, b), c) => (-c, a + " " + b) }.head._1
        out += ((l, r))
        words = words.map { case (syms, n) =>
          val merged = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
              merged += (l + r); i += 2
            } else { merged += syms(i); i += 1 }
          }
          (merged.toSeq, n)
        }
      }
    }
    out.toSeq
  }

  private val corpus = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)

  test("learnMerges matches the reference algorithm on the classic corpus") {
    val wc = corpus.toSeq.toDF("word", "n")
    val got = Bpe.learnMerges(wc, 8).orderBy("rank")
      .select("left", "right").collect().map(r => (r.getString(0), r.getString(1)))
    assert(got.toSeq === referenceBpe(corpus, 8))
  }

  test("learnMerges is derived from wordCounts of raw text identically") {
    val text = corpus.flatMap { case (w, n) => Seq.fill(n.toInt)(w) }
      .mkString(" ")
    val wc = Bpe.wordCounts(Seq(text).toDF("text"), "text")
    val got = Bpe.learnMerges(wc, 5).orderBy("rank")
      .select("left", "right").collect().map(r => (r.getString(0), r.getString(1)))
    assert(got.toSeq === referenceBpe(corpus, 5))
  }

  test("applyMerges re-segments words with learned merges; unseen chars survive") {
    val wc = corpus.toSeq.toDF("word", "n")
    val merges = Bpe.learnMerges(wc, 8).orderBy("rank")
      .select("left", "right").collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val docs = Seq((1L, "newest low"), (2L, "qqq")).toDF("doc_id", "text")
    val out = Bpe.applyMerges(docs, "text", merges)
      .select("doc_id", "subwords").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    // replay the reference merges by hand over the same words
    def seg(w: String): Seq[String] = {
      var syms: Seq[String] = w.map(_.toString) :+ "</w>"
      for ((l, r) <- merges) {
        val merged = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
            merged += (l + r); i += 2
          } else { merged += syms(i); i += 1 }
        }
        syms = merged.toSeq
      }
      syms
    }
    assert(out(1L) === seg("newest") ++ seg("low"))
    assert(out(2L) === seg("qqq"))
  }

  test("bpe_segment kernel is value-identical to the nested-transform chain") {
    val wc = corpus.toSeq.toDF("word", "n")
    val merges = Bpe.learnMerges(wc, 8).orderBy("rank")
      .select("left", "right").collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val docs = (Seq(
      (1L, "newest low NEWest\tlower\nslow"), (2L, ""), (3L, "  \t \n "),
      (4L, "한글 text a😀b"), (5L, "qqq zz q"),
      (6L, "the lowest newest widest slowest")) ++
      (0 until 200).map { i =>
        val r = new scala.util.Random(i)
        (100L + i, (0 until r.nextInt(30)).map(_ =>
          (0 until r.nextInt(8) + 1).map(_ => ('a' + r.nextInt(5)).toChar).mkString)
          .mkString(" "))
      }).toDF("doc_id", "text")
    val viaKernel = Bpe.applyMerges(docs, "text", merges)
      .select("doc_id", "subwords").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val viaColumns = ColumnReferences.applyMergesColumns(docs, "text", merges)
      .select("doc_id", "subwords").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(viaKernel === viaColumns)
    // zero-merge edge: segmentation is the raw char symbols
    val noMerge = Bpe.applyMerges(docs, "text", Seq.empty)
      .select("doc_id", "subwords").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val noMergeRef = ColumnReferences.applyMergesColumns(docs, "text", Seq.empty)
      .select("doc_id", "subwords").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(noMerge === noMergeRef)
  }

  test("learnMerges stops early when no pairs remain") {
    val wc = Seq(("a", 3L)).toDF("word", "n") // "a</w>" has one pair only
    val got = Bpe.learnMerges(wc, 10).collect()
    assert(got.length === 1) // (a, </w>) then the word is a single symbol
  }
}
