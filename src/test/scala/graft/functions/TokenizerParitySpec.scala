package graft.functions

import graft.SparkSuite
import graft.operators.ColumnReferences
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.col

/** The kernels' one tokenizer splits exactly like the column shapes it
  * replaces, on the whitespace inputs where the two could part ways. */
class TokenizerParitySpec extends SparkSuite {
  import spark.implicits._

  private val texts: Seq[Option[String]] = Seq(
    "tab\tsplit", "line\nfeed", "carriage\rreturn", "vertical\u000Btab", "form\ffeed",
    "runs  of \t\n  whitespace", "  leading", "trailing \t", " \n both ends \r ",
    "", "no\u00A0break space", "line\u2028separator here", "Mixed CASE Words",
    "한국어 텍스트  분석은\t잘 된다", "lone \uD800 surrogate").map(Some(_)) :+ None

  private lazy val df = texts.zipWithIndex.toDF("t", "i")

  private def assertSame(kernel: Column, reference: Column): Unit =
    df.select(col("i"), kernel.as("k"), reference.as("r")).collect().foreach { r =>
      assert(Option(r.getSeq[String](1)) === Option(r.getSeq[String](2)),
        s"text ${texts(r.getInt(0))}")
    }

  test("word_ngrams(t, 1) == filter(split(lower(t), '\\\\s+'), x -> length(x) > 0)") {
    assertSame(GraftFunctions.word_ngrams(col("t"), 1), ColumnReferences.lowerTokens(col("t")))
  }

  test("chunk_text(t, 1) == filter(split(t, ' '), x -> length(x) > 0)") {
    assertSame(GraftFunctions.chunk_text(col("t"), 1), ColumnReferences.spaceTokens(col("t")))
  }

  test("chunk_text(t, 2) == the slice/array_join chunks of the same tokens") {
    assertSame(GraftFunctions.chunk_text(col("t"), 2),
      ColumnReferences.chunkTextColumns(col("t"), 2))
  }

  test("U+00A0 and U+2028 are not Java \\s, so they split nothing") {
    val got = df.filter(col("i").isin(10, 11))
      .select(GraftFunctions.word_ngrams(col("t"), 1)).as[Seq[String]].collect()
    assert(got.toSeq === Seq(Seq("no\u00A0break", "space"), Seq("line\u2028separator", "here")))
  }

  test("chunk_text(t, 0) is empty, as chunk_text_stride is") {
    val got = Seq("a b c").toDF("t")
      .select(GraftFunctions.chunk_text(col("t"), 0)).as[Seq[String]].head
    assert(got === Seq.empty)
  }
}
