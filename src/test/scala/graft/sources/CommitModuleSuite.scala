package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The commit decision lives in one module: a layout that publishes
  * files lists a swap or a move in a [[LayoutFs.Batch]], so no main
  * source file other than `sources/LayoutFs.scala` calls `.rename(`. */
class CommitModuleSuite extends AnyFunSuite {
  test("no main source file outside LayoutFs renames a path") {
    val main = Paths.get("src/main/scala")
    assert(Files.isDirectory(main), s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    val w = Files.walk(main)
    val offenders = try w.iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => main.relativize(p).toString)
      .filter(_ != "graft/sources/LayoutFs.scala")
      .filter(rel => new String(Files.readAllBytes(main.resolve(rel)), UTF_8).contains(".rename("))
    finally w.close()
    assert(offenders.isEmpty, s"files that rename outside LayoutFs: ${offenders.sorted.mkString(", ")}")
  }
}
