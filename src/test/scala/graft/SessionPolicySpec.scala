package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source lint for the one session builder: every tool in the main
  * sources gets its session from [[graft.tools.Harness.session]], so
  * core count, shuffle partitions, time zone and UI settings cannot
  * drift apart between tools again.
  */
class SessionPolicySpec extends AnyFunSuite {
  test("only tools/Harness.scala calls SparkSession.builder()") {
    val root = Paths.get("src/main/scala")
    val helper = root.resolve("graft/tools/Harness.scala")
    val sources: Seq[Path] = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != helper).toSeq
    assert(sources.nonEmpty, s"no sources found under $root")
    val hits = for {
      p <- sources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if line.contains("SparkSession.builder")
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(hits.isEmpty,
      "call graft.tools.Harness.session instead:\n" + hits.mkString("\n"))
    assert(Files.readString(helper).contains("SparkSession.builder()"))
  }
}
