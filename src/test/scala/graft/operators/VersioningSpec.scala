package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Corpus release diff and sliding-window training-sample extraction. */
class VersioningSpec extends SparkSuite {
  import spark.implicits._

  test("corpusDiff: all four statuses, key coalesced across sides") {
    val old = Seq((1L, "same"), (2L, "before"), (4L, "gone")).toDF("id", "text")
    val neu = Seq((1L, "same"), (2L, "after"), (3L, "fresh")).toDF("id", "text")
    val out = Versioning.corpusDiff(old, neu, Seq("id"), Seq("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "unchanged", 2L -> "changed",
      3L -> "added", 4L -> "removed"))
    val sum = Versioning.diffSummary(old, neu, Seq("id"), Seq("text"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sum === Map("unchanged" -> 1L, "changed" -> 1L,
      "added" -> 1L, "removed" -> 1L))
  }

  test("corpusDiff: multi-column content digest is boundary-unambiguous") {
    val old = Seq((1L, "ab", "c")).toDF("id", "a", "b")
    val neu = Seq((1L, "a", "bc")).toDF("id", "a", "b")
    val out = Versioning.corpusDiff(old, neu, Seq("id"), Seq("a", "b")).collect()
    assert(out.head.getString(1) === "changed",
      "('ab','c') must not digest equal to ('a','bc')")
    // null content is distinct from the empty string
    val o2 = Seq((1L, Option.empty[String])).toDF("id", "a")
    val n2 = Seq((1L, Option(""))).toDF("id", "a")
    assert(Versioning.corpusDiff(o2, n2, Seq("id"), Seq("a"))
      .collect().head.getString(1) === "changed")
  }

  test("chunk_text_stride: window arithmetic, short tail, stride==size degrade") {
    val df = Seq(
      ("a b c d e f g", 0),     // 7 tokens
      ("x", 1),                 // single token
      ("", 2)                   // empty -> no windows
    ).toDF("text", "i")
    val out = df.select(col("i"),
        graft.functions.GraftFunctions.chunk_text_stride(col("text"), 4, 2).as("w"))
      .collect().map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
    // windows of 4 at stride 2 over 7 tokens: starts 0,2,4 — start 6
    // ("g") would be a strict suffix of "e f g", so emission stops with
    // the first window covering the tail
    assert(out(0) === Seq("a b c d", "c d e f", "e f g"))
    assert(out(1) === Seq("x"))
    assert(out(2) === Seq.empty)
    // stride == size equals the non-overlapping chunker
    val eq = df.select(
      graft.functions.GraftFunctions.chunk_text_stride(col("text"), 3, 3).as("a"),
      ColumnReferences.chunkTextColumns(col("text"), 3).as("b"))
      .collect()
    eq.foreach(r => assert(r.getSeq[String](0) === r.getSeq[String](1)))
    // SQL registration resolves
    df.createOrReplaceTempView("ctsdocs")
    assert(spark.sql("SELECT size(chunk_text_stride(text, 4, 2)) FROM ctsdocs WHERE i = 0")
      .as[Int].head === 3)
  }

  test("chunk_text_stride: stride > size skips gap tokens without crashing") {
    // regression: the cover-the-tail window count alone scheduled a start
    // PAST the last token when stride > size (m=2, size=1, stride=2 →
    // window start 2 == m → new Array[Byte](-1)); starts must stay < m
    val df = Seq(
      ("a b", 0),           // m=2: only start 0 is a valid window
      ("a b c d e", 1),     // m=5, size=2, stride=3: starts 0, 3
      ("a b c", 2)          // m=3, size=1, stride=2: starts 0, 2
    ).toDF("text", "i")
    val w0 = df.filter(col("i") === 0).select(
      graft.functions.GraftFunctions.chunk_text_stride(col("text"), 1, 2).as("w"))
      .as[Seq[String]].head
    assert(w0 === Seq("a"))
    val w1 = df.filter(col("i") === 1).select(
      graft.functions.GraftFunctions.chunk_text_stride(col("text"), 2, 3).as("w"))
      .as[Seq[String]].head
    assert(w1 === Seq("a b", "d e"))
    val w2 = df.filter(col("i") === 2).select(
      graft.functions.GraftFunctions.chunk_text_stride(col("text"), 1, 2).as("w"))
      .as[Seq[String]].head
    assert(w2 === Seq("a", "c"))
  }
}
