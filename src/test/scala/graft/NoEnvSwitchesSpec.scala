package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The crawl and operator layers take their settings from `Crawl.Config`
  * and call arguments only: no environment variable may select a code path
  * there, so a measured A/B loser cannot come back as a hidden switch. */
class NoEnvSwitchesSpec extends AnyFunSuite {
  test("graft.crawl and graft.operators read no environment switches") {
    val files: Seq[Path] = Seq("crawl", "operators").flatMap { pkg =>
      val walk = Files.walk(Paths.get("src/main/scala/graft", pkg))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(files.size >= 10, s"source tree not found: $files")
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if Seq("SPARK_GRAFT_", "sys.env", "System.getenv").exists(line.contains)
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
