package graft.crawl

import java.sql.Timestamp
import graft.SparkSuite
import org.apache.spark.sql.functions._

class CalendarPipelineSpec extends SparkSuite {
  import spark.implicits._

  test("calendar path: year-page parse -> replace-in-range merge -> ICS with DTEND") {
    val cache = spark.emptyDataset[graft.model.CalendarEvent].toDF()
    val (start, end) = (Timestamp.valueOf("2026-01-01 00:00:00"),
      Timestamp.valueOf("2026-12-31 23:59:59"))
    val out = Pipeline.runCalendar(spark, cache, start, end, scale = 100)

    val n = out.events.count()
    assert(n >= 12, "every month block must yield at least one parsed event")
    // stable reference-style ids, derived from PARSED (start, end) dates
    val ids = out.events.select("id").as[String].collect()
    ids.foreach(id => assert(id.startsWith("ssu-academic-calendar:"), id))
    // events carry real parsed ranges: every event has an end, and range
    // dialects produce multi-day spans
    assert(out.events.filter(col("ends_at").isNull).count() === 0)
    assert(out.events.filter(col("ends_at") > col("starts_at") + expr("INTERVAL 1 DAY"))
      .count() > 0, "range dialects must produce multi-day events")
    // cross-year December range: starts in 2026, DTEND lands in 2027
    assert(out.events.filter(year(col("ends_at")) === 2027).count() > 0,
      "the 12.28 ~ 01.xx dialect must cross the year boundary")

    // ICS document structure, with real DTEND lines
    assert(out.ics.startsWith("BEGIN:VCALENDAR"))
    assert(out.ics.contains("PRODID:-//ssufid//calendar//KO"))
    assert(out.ics.split("BEGIN:VEVENT").length - 1 === n)
    assert(out.ics.contains("\r\nDTEND:"), "parsed ranges must render DTEND")
    assert(out.ics.split("DTEND:").length - 1 === n)
    out.ics.split("\r\n").foreach(l => assert(l.getBytes("UTF-8").length <= 75))

    // distributed render == driver-side render over the same ordered items
    val items = graft.operators.Merge.calendarInRange(out.cache, start, end)
      .as[graft.model.CalendarEvent].collect().toSeq
    assert(out.ics === graft.sinks.Ics.toIcs(
      "SSU Academic Calendar", "https://scatch.ssu.ac.kr/학사일정", "학사일정", items))

    // re-run replaces in-range (idempotent): same events, no duplicates
    val out2 = Pipeline.runCalendar(spark, out.cache, start, end, scale = 100)
    assert(out2.events.count() === n)
  }
}

class GraftExtensionsSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("withExtensions exposes graft SQL functions in a fresh session") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graftbridge.{ColumnBridge, ExtensionsProbe}
    // the spark.sql.extensions route, applied to fresh SparkSessionExtensions
    val injected = ExtensionsProbe.injectedFunctions(new graft.GraftExtensions)
    val injectedNames = injected.listFunction().map(_.funcName).toSet
    // the per-session route, applied to a fresh session (built-ins only)
    val s = graft.SparkTestSession.spark.newSession()
    val registry = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    val builtins = registry.listFunction().map(_.funcName).toSet
    assert((builtins & injectedNames).isEmpty)
    graft.functions.GraftFunctions.registerAll(s)
    val registered = registry.listFunction().map(_.funcName).toSet -- builtins
    assert(injectedNames === registered)
    // the injected builders evaluate, including names the extension route
    // used to miss, and agree with the per-session registrations
    def viaExtension(name: String, arg: String): String =
      s.range(1).select(ColumnBridge.column(
        injected.lookupFunction(FunctionIdentifier(name), Seq(Literal(arg)))))
        .head().getString(0)
    assert(viaExtension("url_canonicalize", "HTTP://X.Y:80/a/../b?z=1&a=2") ===
      "http://x.y/b?a=2&z=1")
    val text = "  Ｆｕｌｌ—width   TEXT "
    assert(viaExtension("normalize_text", text) ===
      s.sql(s"SELECT normalize_text('$text')").head().getString(0))
  }
}
