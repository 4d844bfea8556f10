package graft.sources

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.functions.GraftFunctions

class JsonApisSpec extends SparkSuite {
  import spark.implicits._

  /** Three bodies from `template` with ID replaced by 0, 1, 2. Built from
    * `spark.range`, so the optimizer cannot constant-fold the parse away. */
  private def rangeBodies(template: String): DataFrame = {
    val Array(pre, post) = template.split("ID", 2)
    spark.range(3).select(lit("s").as("site_id"),
      concat(lit(pre), col("id").cast("string"), lit(post)).as("body"))
  }

  private def jsonParses(df: DataFrame): Int =
    df.queryExecution.optimizedPlan
      .map(_.expressions.map(_.collect { case j: JsonToStructs => j }.size).sum).sum

  private def one(site: String, body: String): DataFrame = Seq((site, body)).toDF("site_id", "body")

  test("media envelope: success flag, Lexical content render, KST dates (media lib.rs:96-140)") {
    val lexical = """{\"root\":{\"children\":[{\"type\":\"paragraph\",\"children\":[{\"type\":\"text\",\"text\":\"안내\"}]}]}}"""
    val body =
      s"""{"success":true,"code":"0","message":"ok","data":{"boards":[
         |{"id":42,"title":"공지 A","isPinned":true,"content":"$lexical",
         | "userName":"관리자","createdAt":"2024-03-22 12:00:00"}],
         |"page":1,"size":20,"totalPage":3}}""".stripMargin.replaceAll("\n", "")
    val out = JsonApis.parseMedia(
      Seq(("media.ssu.ac.kr", body)).toDF("site_id", "body"),
      "https://media.ssu.ac.kr/board/notices").collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[String]("id") === "42")
    assert(r.getAs[Seq[String]]("category") === Seq("공지"))
    assert(r.getAs[String]("content") === "<p>안내</p>")
    // 12:00 KST == 03:00 UTC
    assert(r.getAs[Timestamp]("created_at") === Timestamp.valueOf("2024-03-22 03:00:00"))
  }

  test("media envelope: success=false yields no rows") {
    val body = """{"success":false,"code":"1","message":"err","data":{"boards":[]}}"""
    assert(JsonApis.parseMedia(Seq(("m", body)).toDF("site_id", "body"), "https://m").count() === 0)
  }

  test("startup envelope: Y/N flag + ISO-T datetime (startup lib.rs:134-194)") {
    val body =
      """{"code":"0","message":"ok","data":{"content":{"list":[
        |{"seq":7,"title":"모집","contents":"<p>x</p>","noticeYn":"y","regDt":"2024-03-22T09:30:00"}]}}}"""
        .stripMargin.replaceAll("\n", "")
    val r = JsonApis.parseStartup(Seq(("startup.ssu.ac.kr", body)).toDF("site_id", "body"),
      "https://startup.ssu.ac.kr/board/notice").collect().head
    assert(r.getAs[Boolean]("is_announcement"))
    assert(r.getAs[Timestamp]("created_at") === Timestamp.valueOf("2024-03-22 00:30:00"))
  }

  test("stu envelope: yyyy/MM/dd dialect (stu lib.rs:104-105)") {
    val body =
      """{"isSuccess":true,"code":"0","message":"ok","data":{"postListResDto":[
        |{"postId":3,"title":"t","content":"c","writer":"w","createdAt":"2024/03/22 10:00:00"}]}}"""
        .stripMargin.replaceAll("\n", "")
    val r = JsonApis.parseStu(Seq(("stu", body)).toDF("site_id", "body"), "https://stu").collect().head
    assert(r.getAs[Timestamp]("created_at") === Timestamp.valueOf("2024-03-22 01:00:00"))
  }

  test("ssfilm envelope: lenient bool|string cursor (ssfilm lib.rs:80-96)") {
    val more =
      """{"data_list":[{"notice_index":10,"notice_title":"t","notice_content":"c","reg_date":"2024-03-22 10:00:00"}],
        |"restCount":5,"LastNoticeIndex":"10"}""".stripMargin.replaceAll("\n", "")
    val done =
      """{"data_list":[],"restCount":0,"LastNoticeIndex":false}"""
    val outMore = JsonApis.parseSsfilm(Seq(("s", more)).toDF("site_id", "body"), "https://s").collect()
    assert(outMore.head.getAs[String]("cursor") === "10")
    assert(JsonApis.parseSsfilm(Seq(("s", done)).toDF("site_id", "body"), "https://s").count() === 0)
  }

  test("study lz-compressed transport round-trip + base64 sbSeq URL (study lib.rs:23-42, model.rs:222-230)") {
    val payload =
      """{"uri":"/study/list","siteCd":"SSU","boardCd":"notice",
        |"paginationInfo":{"totalPageCount":7},
        |"list":[{"sbSeq":2945,"title":"스터디 공지","userNm":"kim","regDt":"2024.03.22",
        |"fileList":[{"fileNm":"안내.hwp","fileUrl":"https://study/f/1"}]}]}"""
        .stripMargin.replaceAll("\n", "")
    val compressed = graft.functions.LzString.compressToUtf16(payload)
    val r = JsonApis.parseStudy(Seq(("study", compressed)).toDF("site_id", "body"),
      "https://study.ssu.ac.kr/community/notice_view.do").collect().head
    assert(r.getAs[String]("id") === "2945")
    // reference golden: sbSeq=2945 -> base64 "Mjk0NQ=="
    assert(r.getAs[String]("url").endsWith("?sbSeq=Mjk0NQ=="))
    assert(r.getAs[Int]("total_pages") === 7)
    val att = r.getAs[Seq[org.apache.spark.sql.Row]]("attachments").head
    assert(att.getAs[String]("mime_type") === "application/x-hwp")
  }

  test("every envelope parser parses each body once: one from_json per optimized plan") {
    val parsers: Seq[(String, DataFrame => DataFrame, DataFrame)] = Seq(
      ("media", JsonApis.parseMedia(_, "https://m"), rangeBodies(
        """{"success":true,"data":{"boards":[{"id":ID,"title":"t","isPinned":false,""" +
          """"userName":"u","createdAt":"2024-03-22 12:00:00"}]}}""")),
      ("oasis", JsonApis.parseOasis(_, "https://o"), rangeBodies(
        """{"success":true,"data":{"list":[{"id":ID,"title":"t","contents":"c",""" +
          """"writer":"w","createdDate":"2024-03-22 12:00:00"}]}}""")),
      ("startup", JsonApis.parseStartup(_, "https://st"), rangeBodies(
        """{"data":{"content":{"list":[{"seq":ID,"title":"t","noticeYn":"N",""" +
          """"regDt":"2024-03-22T09:30:00"}]}}}""")),
      ("stu", JsonApis.parseStu(_, "https://stu"), rangeBodies(
        """{"isSuccess":true,"data":{"postListResDto":[{"postId":ID,"title":"t",""" +
          """"createdAt":"2024/03/22 10:00:00"}]}}""")),
      ("ssfilm", JsonApis.parseSsfilm(_, "https://s"), rangeBodies(
        """{"data_list":[{"notice_index":ID,"notice_title":"t",""" +
          """"reg_date":"2024-03-22 10:00:00"}],"LastNoticeIndex":"9"}""")),
      ("study", JsonApis.parseStudy(_, "https://study"), rangeBodies(
        """{"paginationInfo":{"totalPageCount":7},"list":[{"sbSeq":ID,"title":"t",""" +
          """"regDt":"2024.03.22"}]}""")
        .select(col("site_id"), GraftFunctions.lz_compress_utf16(col("body")).as("body"))))
    val found = parsers.map { case (name, parse, bodies) =>
      val out = parse(bodies)
      assert(out.select("id").as[String].collect().sorted.toSeq === Seq("0", "1", "2"), name)
      name -> jsonParses(out)
    }
    assert(found === parsers.map { case (name, _, _) => name -> 1 })
  }

  test("oasis envelope: data.list posts with thumbnail; success=false yields no rows (oasis lib.rs:71-210)") {
    val body =
      """{"success":true,"code":"0","message":"ok","data":{"list":[
        |{"id":5,"title":"전시","contents":"<p>c</p>","writer":"w","createdDate":"2024-03-22 12:00:00",
        | "originalImageUrl":"https://oasis/i/5.png","fileType":"image"},
        |{"id":6,"title":"t","contents":"c","writer":"w","createdDate":"2024-03-23 09:00:00"}],
        |"totalCount":2,"offset":0,"max":20}}""".stripMargin.replaceAll("\n", "")
    val out = JsonApis.parseOasis(one("oasis", body), "https://oasis.ssu.ac.kr/notice").collect()
      .sortBy(_.getAs[String]("id"))
    assert(out.map(_.getAs[String]("id")).toSeq === Seq("5", "6"))
    val r = out.head
    assert(r.getAs[String]("url") === "https://oasis.ssu.ac.kr/notice/5")
    assert(r.getAs[String]("thumbnail") === "https://oasis/i/5.png")
    assert(r.getAs[String]("author") === "w")
    assert(r.getAs[Timestamp]("created_at") === Timestamp.valueOf("2024-03-22 03:00:00"))
    assert(out(1).getAs[String]("thumbnail") === null)
    val failed = body.replace("\"success\":true", "\"success\":false")
    assert(JsonApis.parseOasis(one("oasis", failed), "https://o").count() === 0)
  }

  test("stu envelope: isSuccess=false yields no rows") {
    val body =
      """{"isSuccess":false,"code":"1","message":"err","data":{"postListResDto":[
        |{"postId":3,"title":"t","content":"c","writer":"w","createdAt":"2024/03/22 10:00:00"}]}}"""
        .stripMargin.replaceAll("\n", "")
    assert(JsonApis.parseStu(one("stu", body), "https://stu").count() === 0)
  }

  test("media and ssfilm: a null list element is a row, a missing list is none (inner explode's rows)") {
    val media =
      """{"success":true,"data":{"boards":[null,
        |{"id":1,"title":"t","isPinned":false,"userName":"u","createdAt":"2024-03-22 12:00:00"}]}}"""
        .stripMargin.replaceAll("\n", "")
    val mediaOut = JsonApis.parseMedia(one("m", media), "https://m").collect()
    assert(mediaOut.length === 2)
    assert(mediaOut.map(_.getAs[String]("id")).toSet === Set(null, "1"))
    assert(JsonApis.parseMedia(one("m", """{"success":true,"data":{"page":1}}"""), "https://m")
      .count() === 0)
    val ssfilm =
      """{"data_list":[{"notice_index":10,"notice_title":"t","reg_date":"2024-03-22 10:00:00"},
        |null],"restCount":5,"LastNoticeIndex":"10"}""".stripMargin.replaceAll("\n", "")
    val ssfilmOut = JsonApis.parseSsfilm(one("s", ssfilm), "https://s").collect()
    assert(ssfilmOut.length === 2)
    assert(ssfilmOut.map(_.getAs[String]("cursor")).toSeq === Seq("10", "10"))
    assert(ssfilmOut.map(_.getAs[String]("id")).toSet === Set("10", null))
    assert(JsonApis.parseSsfilm(one("s", """{"restCount":0,"LastNoticeIndex":false}"""), "https://s")
      .count() === 0)
  }
}
