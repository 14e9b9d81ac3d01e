package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source lint for the single lineage-truncation policy: every
  * checkpoint in the main sources goes through
  * [[graft.pipeline.Lineage.truncate]], so the choice between
  * reliable and local checkpoints is made in one module.
  */
class LineagePolicySpec extends AnyFunSuite {
  test("only pipeline/Lineage.scala calls localCheckpoint or checkpoint") {
    val root = Paths.get("src/main/scala")
    val policy = root.resolve("graft/pipeline/Lineage.scala")
    val sources: Seq[Path] = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != policy).toSeq
    assert(sources.nonEmpty, s"no sources found under $root")
    val hits = for {
      p <- sources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if line.contains("localCheckpoint(") || line.contains(".checkpoint(")
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(hits.isEmpty,
      "call graft.pipeline.Lineage.truncate instead:\n" + hits.mkString("\n"))
  }
}
