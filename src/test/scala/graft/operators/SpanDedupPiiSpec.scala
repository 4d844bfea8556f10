package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSuite

/** Span-grain cross-corpus dedup, repetition features, PII scrubbing. */
class SpanDedupPiiSpec extends SparkSuite {
  import spark.implicits._

  test("chunkedSpanRows slices tokens into chunkSize-word spans plus one media span") {
    val docs = Seq((1L, "a b c d e", "src0"), (2L, "x", "src1"))
      .toDF("doc_id", "text", "source")
    val rows = Spans.chunkedSpanRows(docs, chunkSize = 2)
      .orderBy("doc_id", "kind", "offset")
      .as[(Long, String, String, String, Int)].collect()
    assert(rows === Seq(
      (1L, "image", null, "media://src0/1", 3),
      (1L, "text", "a b", null, 0),
      (1L, "text", "c d", null, 1),
      (1L, "text", "e", null, 2),
      (2L, "image", null, "media://src1/2", 1),
      (2L, "text", "x", null, 0)))
  }

  test("dedupSpans keeps the globally first (doc_id, offset) occurrence per payload") {
    val spans = Seq(
      (1L, "text", "dup passage", null, 0),
      (1L, "text", "unique one", null, 1),
      (2L, "text", "dup passage", null, 0), // cross-doc repeat — dropped
      (2L, "text", "dup passage", null, 1), // within-doc repeat — dropped
      (2L, "image", null, "media://a/2", 2),
      (3L, "image", null, "media://a/2", 0) // media repeats dedup on ref
    ).map { case (d, k, t, m, o) => (d, k, t, Option(m).map(_.toString).orNull, o) }
      .toDF("doc_id", "kind", "text", "media_ref", "offset")
    val kept = Spans.dedupSpans(spans)
      .select("doc_id", "kind", "offset")
      .as[(Long, String, Int)].collect().toSet
    assert(kept === Set((1L, "text", 0), (1L, "text", 1), (2L, "image", 2)))
  }

  test("dedupNestedSpans drops fully-duplicated docs and keeps offset order") {
    val docs = Seq(
      (10L, "alpha beta gamma delta", "s"),
      (11L, "alpha beta gamma delta", "s"), // same chunks as 10 — text spans all lose
      (12L, "alpha beta omega end", "s")
    ).toDF("doc_id", "text", "source")
    // media refs are per-doc unique, so drop them to exercise full-loss docs
    val textOnly = Spans.chunkedSpanRows(docs, chunkSize = 2).filter(col("kind") === "text")
    val out = Spans.dedupNestedSpans(Spans.nest(textOnly))
      .select(col("doc_id"), transform(col("spans"), s => s.getField("text")).as("texts"))
      .as[(Long, Seq[String])].collect().toMap
    assert(out === Map(
      10L -> Seq("alpha beta", "gamma delta"),
      12L -> Seq("omega end")))
  }

  test("repetitionFeatures: hand-computed fractions") {
    // tokens: the the the cat  -> n=4, distinct=2, top=3
    // bigrams: "the the","the the","the cat" -> n=3, distinct=2
    val docs = Seq((1L, "the the the cat"), (2L, "solo")).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionFeatures(docs, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Double, Double, Double)].collect()
    // fractions are round(x, 6) on the operator side — exact equality holds
    assert(out(0) === ((1L, 4L, 0.5, 0.75, 0.333333)))
    // single-token doc: no bigrams — dup_bigram_frac 0, not null/NaN
    assert(out(1) === ((2L, 1L, 0.0, 1.0, 0.0)))
  }

  test("repetitionFeatures kernel is value-identical to the exploded-aggregation shape") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val edges = Seq(
      (9001L, null), (9002L, ""), (9003L, "   \t\n\f\r "),
      (9004L, "one"), (9005L, "one two"), (9006L, "a a a a a"),
      (9007L, "  leading and   multi space  "),
      (9008L, "한국어 토큰 혼합 English words here 한국어 토큰"),
      (9009L, "MiXeD CaSe mixed case TEXT text"),
      (9010L, "a😀b c a😀b c"))
      .toDF("doc_id", "text")
    val df = corpus.unionByName(edges)
    def rows(out: org.apache.spark.sql.DataFrame) = out
      .as[(Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val viaKernel = rows(TextAnalysis.repetitionFeatures(df, "doc_id", "text"))
    val viaColumns = rows(ColumnReferences.repetitionFeaturesColumns(df, "doc_id", "text"))
    assert(viaKernel === viaColumns)
    // zero-token docs (null / empty / all-whitespace) drop in both shapes
    assert(!viaKernel.contains(9001L) && !viaKernel.contains(9002L) &&
      !viaKernel.contains(9003L))
    assert(viaKernel.contains(9004L))
  }

  test("repetitionFilter keeps clean docs, drops degenerate ones, preserves columns") {
    val docs = Seq(
      (1L, "spam spam spam spam spam", "m"),
      (2L, "a quick brown fox jumps over lazy dogs", "m")
    ).toDF("doc_id", "text", "extra")
    val kept = TextAnalysis.repetitionFilter(docs, "doc_id", "text")
    assert(kept.columns.toSeq === Seq("doc_id", "text", "extra"))
    assert(kept.select("doc_id").as[Long].collect().toSeq === Seq(2L))
  }

  test("piiScrub redacts emails then phones and counts both") {
    val df = Seq(
      "reach me at jane.doe+x@uni.ac.kr or 010-1234-5678 thanks",
      "no pii here",
      "two mails a@b.io c@d.org one phone 02-555-1234"
    ).toDF("text")
    val out = df.select(TextAnalysis.piiScrub(col("text")).as("p"))
      .select("p.clean_text", "p.n_emails", "p.n_phones")
      .as[(String, Int, Int)].collect()
    assert(out(0) === (("reach me at <EMAIL> or <PHONE> thanks", 1, 1)))
    assert(out(1) === (("no pii here", 0, 0)))
    assert(out(2) === (("two mails <EMAIL> <EMAIL> one phone <PHONE>", 2, 1)))
  }
}
