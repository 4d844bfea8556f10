package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.StringType
import GraftFunctions._

/** The Column functions and the SQL table build the same Catalyst
  * expressions: every SQL name's Column twin, for the same arguments. */
class SqlRoutesSpec extends SparkSuite {
  private val t = col("t")
  private val u = col("u")
  private def expr(c: Column) = ColumnBridge.expression(c)
  /** The Catalyst tree the session builds for a Column: its `col`/`lit`
    * nodes converted, so the call-site origins they record drop out. */
  private def catalyst(c: Column) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].expression(c)

  /** (SQL name, its Column twin applied, the same arguments as columns). */
  private val twins: Seq[(String, Column, Seq[Column])] = Seq(
    ("url_canonicalize", url_canonicalize(t), Seq(t)),
    ("url_host", url_host(t), Seq(t)),
    ("url_path", url_path(t), Seq(t)),
    ("url_resolve", url_resolve(t, u), Seq(t, u)),
    ("url_query_param", url_query_param(t, u), Seq(t, u)),
    ("graft_slugify", slugify(t), Seq(t)),
    ("strip_parens", strip_parens(t), Seq(t)),
    ("normalize_ws", normalize_ws(t), Seq(t)),
    ("normalize_text", normalize_text(t), Seq(t)),
    ("normalize_dashes", normalize_dashes(t), Seq(t)),
    ("ics_escape", ics_escape(t), Seq(t)),
    ("ics_fold", ics_fold(t), Seq(t)),
    ("mime_guess", mime_guess(t), Seq(t)),
    ("desc_fallback", desc_fallback(t), Seq(t)),
    ("lz_decompress_utf16", lz_decompress_utf16(t), Seq(t)),
    ("lz_compress_utf16", lz_compress_utf16(t), Seq(t)),
    ("lexical_to_html", lexical_to_html(t), Seq(t)),
    ("html_text", html_text(t, u), Seq(t, u)),
    ("simhash64", simhash64(t), Seq(t)),
    ("shingle_hash64", shingle_hash64(t, 3), Seq(t, lit(3))),
    ("word_ngrams", word_ngrams(t, 2), Seq(t, lit(2))),
    ("chunk_text", chunk_text(t, 4), Seq(t, lit(4))),
    ("chunk_text_stride", chunk_text_stride(t, 4, 2), Seq(t, lit(4), lit(2))),
    ("md5_minhash_bands", md5_minhash_bands(t, 3, 6, 2), Seq(t, lit(3), lit(6), lit(2))),
    ("winnow_fps", winnow_fps(t, 3, 5), Seq(t, lit(3), lit(5))),
    ("minhash_bands", minhash_bands(t, 4, 2), Seq(t, lit(4), lit(2))),
    ("hyperplane_sigs", hyperplane_sigs(t, 8, 3), Seq(t, lit(8), lit(3))),
    ("cosine_sim", cosine_sim(t, u), Seq(t, u)),
    ("cuckoo_might_contain", CuckooFunctions.cuckoo_might_contain(t, u), Seq(t, u)))

  test("the SQL table holds the 29 names, each with a Column twin") {
    val names = sqlFunctions.map(_._1)
    assert(names.size === 29)
    assert(names.distinct.size === names.size)
    assert(names.toSet === twins.map(_._1).toSet)
  }

  test("each Column twin and its SQL builder give equal expressions") {
    assert(catalyst(word_ngrams(t, 2)) !== catalyst(word_ngrams(t, 3)), "arguments compared")
    val builders = sqlFunctions.toMap
    twins.foreach { case (name, twin, args) =>
      assert(catalyst(ColumnBridge.column(builders(name)(args.map(expr)))) === catalyst(twin), name)
    }
  }

  test("chunk_text invokes chunkTextStride with the size as the stride") {
    assert(catalyst(chunk_text(t, 4)) === catalyst(chunk_text_stride(t, 4, 4)))
  }

  test("the crawl's URL wrappers build the same one-argument StaticInvoke") {
    Seq("urlCanonicalize" -> url_canonicalize _, "urlHost" -> url_host _).foreach {
      case (fn, twin) =>
        assert(catalyst(twin(t)) === catalyst(ColumnBridge.column(StaticInvoke(Kernels.getClass,
          StringType, fn, Seq(expr(t)), inputTypes = Seq(StringType)))), fn)
    }
  }
}
