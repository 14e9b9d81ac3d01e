package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source lint for the one driver-side footer read: every parquet
  * footer the main sources read goes through [[graft.Tables.footerSchema]],
  * so no caller opens a file with a reader that re-parses Hadoop's
  * default config or converts the schema differently.
  */
class FooterPolicySpec extends AnyFunSuite {
  test("only Tables.scala names ParquetFileReader or ParquetFooterReader") {
    val root = Paths.get("src/main/scala")
    val reader = root.resolve("graft/Tables.scala")
    val sources: Seq[Path] = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != reader).toSeq
    assert(sources.nonEmpty, s"no sources found under $root")
    val hits = for {
      p <- sources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if line.contains("ParquetFileReader") || line.contains("ParquetFooterReader")
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(hits.isEmpty,
      "call graft.Tables.footerSchema instead:\n" + hits.mkString("\n"))
    assert(Files.readString(reader).contains("ParquetFooterReader.readFooter("))
  }
}
