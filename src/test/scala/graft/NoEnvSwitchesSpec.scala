package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every `src/main` file outside the frozen `Bench`/`Verify` harness and
  * the `BenchExtra` side instrument takes its settings from `Crawl.Config`,
  * `Daemon.Options` and call arguments only: no environment variable may
  * select a code path there, so a measured A/B loser cannot come back as a
  * hidden switch. */
class NoEnvSwitchesSpec extends AnyFunSuite {

  private def scalaFiles(under: String): Seq[Path] = {
    val walk = Files.walk(Paths.get("src/main/scala/graft", under))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  private def assertNoEnvReads(files: Seq[Path], atLeast: Int): Unit = {
    assert(files.size >= atLeast, s"source tree not found: $files")
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if Seq("SPARK_GRAFT_", "sys.env", "System.getenv").exists(line.contains)
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("graft.crawl and graft.operators read no environment switches") {
    assertNoEnvReads(Seq("crawl", "operators").flatMap(scalaFiles), atLeast = 10)
  }

  test("graft.sinks, graft.streaming and the daemon read no environment switches") {
    assertNoEnvReads(Seq("sinks", "streaming", "Daemon.scala").flatMap(scalaFiles),
      atLeast = 6)
  }

  test("graft.sources, graft.parse and graft.functions read no environment switches") {
    assertNoEnvReads(Seq("sources", "parse", "functions").flatMap(scalaFiles), atLeast = 10)
  }

  test("the scaling bench worker reads no environment switches") {
    assertNoEnvReads(scalaFiles("BenchWorker.scala"), atLeast = 1)
  }

  test("the query table, the SQL extension and graft.model read no environment switches") {
    assertNoEnvReads(Seq("SparkEntry.scala", "GraftExtensions.scala", "model")
      .flatMap(scalaFiles), atLeast = 3)
  }
}
