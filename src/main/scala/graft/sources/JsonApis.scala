package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.GraftFunctions

/**
 * JSON-API board sources (SURVEY.md §2.1 S6, §1.6): typed response
 * envelopes parsed with `from_json` + explicit schemas — the declarative
 * Spark face of the reference's serde deserialization. Each board is its
 * envelope schema plus a row mapper over one list element; the one parse
 * is [[JsonApis.explodeEnvelope]]. Each `parseX` takes a DataFrame with
 * (site_id, body), body being the raw response text, and returns
 * flattened post rows.
 *
 * Per-family envelope shapes and date dialects follow the reference:
 *  - media/mediamba (plugins/media/src/lib.rs:96-140): boards[] with
 *    Lexical editor-state `content` (rendered via lexical_to_html) and
 *    `yyyy-MM-dd HH:mm:ss` dates;
 *  - oasis (plugins/oasis/src/lib.rs:71-210): data.list[];
 *  - startup (plugins/startup/src/lib.rs:56-159): data.content.list[],
 *    `noticeYn` Y/N flag, ISO-T datetimes;
 *  - stu (plugins/stu/src/lib.rs:76-119): data.postListResDto[],
 *    `yyyy/MM/dd HH:mm:ss`;
 *  - ssfilm (plugins/ssfilm/src/lib.rs:80-116): data_list[] with the
 *    untagged bool|string cursor `LastNoticeIndex` (parsed leniently as
 *    string);
 *  - study (plugins/study/src/lib.rs:44-124): lz-string-UTF16-compressed
 *    JSON transport, decompressed by the lz_decompress_utf16 expression.
 *
 * media, oasis and stu guard their list with a success flag: a response
 * whose flag is not true yields no rows. All timestamps are parsed then
 * KST->UTC normalized (assume_offset(+9)).
 */
object JsonApis {

  private def kstToUtc(c: Column): Column = to_utc_timestamp(c, "Asia/Seoul")

  /** The one envelope parse: `body` is parsed against `schema` into the
    * envelope `r`, `list(r)` picks the post list, each `carry` field of the
    * envelope rides along every post, and `row` maps one list element `p`
    * to output columns. Output: site_id, the carried fields, then `row(p)`;
    * the rows are exactly `explode(list(r))`'s, null list elements included.
    *
    * Plan shape: `explode` over a `from_json` child makes
    * InferFiltersFromGenerate copy the (CodegenFallback) parse into an
    * interpreted `size(..)>0 AND isnotnull(..)` filter, and nested-column
    * aliasing keeps a third copy in the extraction project — THREE parses
    * per row (measured 2.8 s -> 0.9 s at sf0.1, q39). The outer explode
    * skips that rule (it only fires for inner generates), and the
    * row-equivalence filter below references the GENERATE OUTPUT `p`, so
    * it cannot be pushed back under the generate and re-inlined: rows
    * with a null/empty list (the only ones explode_outer adds) have
    * p IS NULL and size(_l) null/0 and are dropped — exactly `explode`'s
    * row set, including null list ELEMENTS (kept: size(_l) > 0). A success
    * flag therefore goes INTO the list (`when(r.success, list)`, null when
    * the flag is not true): as a filter of its own, the optimizer would
    * copy the parse into it. */
  private def explodeEnvelope(df: DataFrame, body: Column, schema: StructType,
      list: Column => Column, carry: Seq[(String, Column => Column)] = Nil)(
      row: Column => Seq[Column]): DataFrame = {
    val r = col("r")
    val l = col("_l")
    val p = col("p")
    val kept = col("site_id") +: carry.map { case (name, _) => col(name) }
    val fields = carry.map { case (name, f) => f(r).as(name) }
    df.select(col("site_id"), from_json(body, schema).as("r"))
      .select(col("site_id") +: list(r).as("_l") +: fields: _*)
      .select(kept ++ Seq(l, explode_outer(l).as("p")): _*)
      .filter(size(l) > 0 || p.isNotNull)
      .select(kept ++ row(p): _*)
  }

  val mediaSchema: StructType = StructType(Seq(
    StructField("success", BooleanType),
    StructField("code", StringType),
    StructField("message", StringType),
    StructField("data", StructType(Seq(
      StructField("boards", ArrayType(StructType(Seq(
        StructField("id", LongType),
        StructField("title", StringType),
        StructField("isPinned", BooleanType),
        StructField("content", StringType), // Lexical editor-state JSON
        StructField("userName", StringType),
        StructField("createdAt", StringType))))),
      StructField("page", IntegerType),
      StructField("size", IntegerType),
      StructField("totalPage", IntegerType))))))

  /** media/mediamba boards -> posts; Lexical content rendered to HTML. */
  def parseMedia(df: DataFrame, baseUrl: String): DataFrame =
    explodeEnvelope(df, col("body"), mediaSchema,
      r => when(r("success"), r("data")("boards"))) { p => Seq(
        p("id").cast("string").as("id"),
        concat(lit(baseUrl), lit("/"), p("id")).as("url"),
        p("userName").as("author"),
        p("title").as("title"),
        when(p("isPinned"), array(lit("공지"))).otherwise(array().cast("array<string>"))
          .as("category"),
        kstToUtc(to_timestamp(p("createdAt"), "yyyy-MM-dd HH:mm:ss")).as("created_at"),
        GraftFunctions.lexical_to_html(p("content")).as("content"))
      }

  val oasisSchema: StructType = StructType(Seq(
    StructField("success", BooleanType),
    StructField("code", StringType),
    StructField("message", StringType),
    StructField("data", StructType(Seq(
      StructField("list", ArrayType(StructType(Seq(
        StructField("id", LongType),
        StructField("title", StringType),
        StructField("contents", StringType),
        StructField("writer", StringType),
        StructField("createdDate", StringType),
        StructField("originalImageUrl", StringType),
        StructField("fileType", StringType))))),
      StructField("totalCount", LongType),
      StructField("offset", LongType),
      StructField("max", LongType))))))

  def parseOasis(df: DataFrame, baseUrl: String): DataFrame =
    explodeEnvelope(df, col("body"), oasisSchema,
      r => when(r("success"), r("data")("list"))) { p => Seq(
        p("id").cast("string").as("id"),
        concat(lit(baseUrl), lit("/"), p("id")).as("url"),
        p("writer").as("author"),
        p("title").as("title"),
        kstToUtc(to_timestamp(p("createdDate"), "yyyy-MM-dd HH:mm:ss")).as("created_at"),
        p("originalImageUrl").as("thumbnail"),
        p("contents").as("content"))
      }

  val startupSchema: StructType = StructType(Seq(
    StructField("code", StringType),
    StructField("message", StringType),
    StructField("data", StructType(Seq(
      StructField("content", StructType(Seq(
        StructField("list", ArrayType(StructType(Seq(
          StructField("seq", LongType),
          StructField("title", StringType),
          StructField("contents", StringType),
          StructField("noticeYn", StringType),
          StructField("regDt", StringType)))))))))))))

  /** startup: Y/N flag -> bool, ISO-T datetime (lib.rs:134-135,184-194). */
  def parseStartup(df: DataFrame, baseUrl: String): DataFrame =
    explodeEnvelope(df, col("body"), startupSchema,
      r => r("data")("content")("list")) { p => Seq(
        p("seq").cast("string").as("id"),
        concat(lit(baseUrl), lit("/"), p("seq")).as("url"),
        p("title").as("title"),
        (upper(p("noticeYn")) === "Y").as("is_announcement"),
        kstToUtc(to_timestamp(p("regDt"), "yyyy-MM-dd'T'HH:mm:ss")).as("created_at"),
        p("contents").as("content"))
      }

  val stuSchema: StructType = StructType(Seq(
    StructField("isSuccess", BooleanType),
    StructField("code", StringType),
    StructField("message", StringType),
    StructField("data", StructType(Seq(
      StructField("postListResDto", ArrayType(StructType(Seq(
        StructField("postId", LongType),
        StructField("title", StringType),
        StructField("content", StringType),
        StructField("writer", StringType),
        StructField("createdAt", StringType))))))))))

  def parseStu(df: DataFrame, baseUrl: String): DataFrame =
    explodeEnvelope(df, col("body"), stuSchema,
      r => when(r("isSuccess"), r("data")("postListResDto"))) { p => Seq(
        p("postId").cast("string").as("id"),
        concat(lit(baseUrl), lit("/"), p("postId")).as("url"),
        p("writer").as("author"),
        p("title").as("title"),
        kstToUtc(to_timestamp(p("createdAt"), "yyyy/MM/dd HH:mm:ss")).as("created_at"),
        p("content").as("content"))
      }

  /** ssfilm: untagged `false | "n"` cursor — read leniently as string
    * ("false" => exhausted), keyset pagination driver-side (S5). */
  val ssfilmSchema: StructType = StructType(Seq(
    StructField("data_list", ArrayType(StructType(Seq(
      StructField("notice_index", LongType),
      StructField("notice_title", StringType),
      StructField("notice_content", StringType),
      StructField("reg_date", StringType))))),
    StructField("restCount", LongType),
    StructField("LastNoticeIndex", StringType)))

  def parseSsfilm(df: DataFrame, baseUrl: String): DataFrame =
    explodeEnvelope(df, col("body"), ssfilmSchema, r => r("data_list"),
      Seq("cursor" -> (r => r("LastNoticeIndex")))) { p => Seq(
        p("notice_index").cast("string").as("id"),
        concat(lit(baseUrl), lit("/view?no="), p("notice_index")).as("url"),
        p("notice_title").as("title"),
        kstToUtc(to_timestamp(p("reg_date"), "yyyy-MM-dd HH:mm:ss")).as("created_at"),
        p("notice_content").as("content"))
      }

  val studySchema: StructType = StructType(Seq(
    StructField("uri", StringType),
    StructField("siteCd", StringType),
    StructField("boardCd", StringType),
    StructField("paginationInfo", StructType(Seq(
      StructField("totalPageCount", IntegerType)))),
    StructField("list", ArrayType(StructType(Seq(
      StructField("sbSeq", LongType),
      StructField("title", StringType),
      StructField("userNm", StringType),
      StructField("regDt", StringType),
      StructField("fileList", ArrayType(StructType(Seq(
        StructField("fileNm", StringType),
        StructField("fileUrl", StringType)))))))))))

  /**
   * study: lz-string-UTF16-compressed transport (S7) — the body column
   * holds the compressed payload; decompression is the codegen'd
   * lz_decompress_utf16 expression, then from_json. Post URL carries the
   * base64-encoded sbSeq (study lib.rs:37-42; golden: 2945 -> Mjk0NQ==).
   */
  def parseStudy(df: DataFrame, baseUrl: String): DataFrame =
    explodeEnvelope(df, GraftFunctions.lz_decompress_utf16(col("body")), studySchema,
      r => r("list"), Seq("total_pages" -> (r => r("paginationInfo")("totalPageCount")))) {
      p => Seq(
        p("sbSeq").cast("string").as("id"),
        concat(lit(baseUrl), lit("?sbSeq="), base64(p("sbSeq").cast("string").cast("binary")))
          .as("url"),
        p("userNm").as("author"),
        p("title").as("title"),
        kstToUtc(to_timestamp(p("regDt"), "yyyy.MM.dd")).as("created_at"),
        transform(p("fileList"), f => struct(
          f.getField("fileUrl").as("url"),
          f.getField("fileNm").as("name"),
          GraftFunctions.mime_guess(f.getField("fileNm")).as("mime_type"))).as("attachments"))
    }
}
