package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The commit decision lives in one module: a layout that publishes
  * files lists a swap, a move or a drop in a [[LayoutFs.Batch]], so no
  * main source file other than `sources/LayoutFs.scala` calls
  * `.rename(`, and no layout writes or deletes behind the batch's back.
  * Reads live there too: a layout reads its live directories through
  * [[LayoutFs.Live]], which pins their schemas and lists their
  * part-files. */
class CommitModuleSuite extends AnyFunSuite {
  private val main = Paths.get("src/main/scala")

  private def source(rel: String): String =
    new String(Files.readAllBytes(main.resolve(rel)), UTF_8)

  test("no main source file outside LayoutFs renames a path") {
    assert(Files.isDirectory(main), s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    val w = Files.walk(main)
    val offenders = try w.iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => main.relativize(p).toString)
      .filter(_ != "graft/sources/LayoutFs.scala")
      .filter(rel => source(rel).contains(".rename("))
    finally w.close()
    assert(offenders.isEmpty, s"files that rename outside LayoutFs: ${offenders.sorted.mkString(", ")}")
  }

  test("no main source file outside LayoutFs counts part-files itself") {
    assert(Files.isDirectory(main), s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    val w = Files.walk(main)
    val offenders = try w.iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => main.relativize(p).toString)
      .filter(_ != "graft/sources/LayoutFs.scala")
      .flatMap(rel => source(rel).linesIterator.zipWithIndex
        .collect { case (line, n) if line.contains("startsWith(\"part-\")") => s"$rel:${n + 1}" })
    finally w.close()
    assert(offenders.isEmpty,
      s"part-file listings outside LayoutFs.Live.partFiles: ${offenders.sorted.mkString(", ")}")
  }

  private val layouts = Seq("EmbeddingStore", "IvfIndex", "InvertedIndex", "QueryStore", "GraphIndex", "NgramLm")
    .map(n => s"graft/sources/$n.scala")

  test("no layout writes through a Spark save mode or deletes a path itself") {
    assert(Files.isDirectory(main), s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    val offenders = for {
      rel <- layouts
      call <- Seq(".write.mode(", ".delete(")
      if source(rel).contains(call)
    } yield s"$rel: $call"
    assert(offenders.isEmpty, s"layout writes outside LayoutFs.Batch: ${offenders.mkString(", ")}")
  }

  test("no lazily deleting layout handles its tombstones directory itself") {
    assert(Files.isDirectory(main), s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    val probe = """/tombstones"|(add|drop)\("tombstones"\)""".r
    val offenders = for {
      rel <- Seq("InvertedIndex", "QueryStore", "GraphIndex").map(n => s"graft/sources/$n.scala")
      (line, n) <- source(rel).linesIterator.zipWithIndex
      if probe.findFirstIn(line).isDefined
    } yield s"$rel:${n + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      s"tombstone handling outside graft.sources.Tombstones:\n${offenders.mkString("\n")}")
  }

  /** The reads a layout makes with `spark.read` itself: each one reads a
    * batch's staged `.commit/` files, not a live directory. */
  private val stagedReads = Seq("spark.read.parquet(batch.staged(")

  test("every live-directory read of a layout pins its schema through LayoutFs.Live") {
    assert(Files.isDirectory(main), s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    val offenders = for {
      rel <- layouts
      (line, n) <- source(rel).linesIterator.zipWithIndex
      if (line.contains("spark.read") || line.contains("read.parquet(")) &&
        !stagedReads.exists(line.contains)
    } yield s"$rel:${n + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      s"layout reads outside LayoutFs.Live:\n${offenders.mkString("\n")}")
  }
}
