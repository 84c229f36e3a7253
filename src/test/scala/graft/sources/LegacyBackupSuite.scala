package graft.sources

import java.nio.file.{Files, Path => JPath}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.streaming.PercolateStream

/** Hidden backups an earlier version's lone swaps left behind — a crash
  * between the two renames of the store meta, the n-gram pointer or the
  * percolator's seen-keys sidecar — restore at the next open: each name
  * is folded into its layout's one recovery glob. */
class LegacyBackupSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Rename `root/name` to its hidden backup `.name.bak`. */
  private def crashSwap(root: JPath, name: String): Unit =
    Files.move(root.resolve(name), root.resolve(s".$name.bak"))

  private def restored(root: JPath, name: String): Boolean =
    Files.exists(root.resolve(name)) && !Files.exists(root.resolve(s".$name.bak"))

  test("a store meta left as ._graft_meta.bak restores: a prefix-less handle keeps the prefix") {
    val root = Files.createTempDirectory("graft_legacy_meta").resolve("store")
    val raw = Seq((1L, 0, Seq(0.5f, -0.25f, 0.75f)), (2L, 0, Seq(0.1f, 0.2f, -0.3f)))
      .toDF("post_id", "sequence_no", "vector")
      .withColumn("vector", col("vector").cast(ArrayType(FloatType)))
    new EmbeddingStore(spark, root.toString, numBuckets = 2, prefixDims = Some(2)).bulkLoad(raw)
    crashSwap(root, "_graft_meta")
    val reopened = new EmbeddingStore(spark, root.toString, numBuckets = 2)
    assert(reopened.withDerived(raw).columns.contains("vector_prefix"),
      "the restored meta must keep deriving vector_prefix")
    assert(restored(root, "_graft_meta"))
    assert(reopened.read().count() == 2L)
  }

  test("an n-gram pointer left as .current.bak restores: reads and the next append see it") {
    val root = Files.createTempDirectory("graft_legacy_pointer").resolve("lm")
    val lm = new NgramLm(spark, root.toString)
    lm.build(Seq((1L, "the cat sat on the mat")).toDF("doc_id", "text"), "doc_id", col("text"))
    lm.append(Seq((2L, "the dog sat on the rug")).toDF("doc_id", "text"), "doc_id", col("text"))
    crashSwap(root, "current")
    val fresh = new NgramLm(spark, root.toString)
    assert(fresh.currentVersion() == 2)
    assert(restored(root, "current"))
    crashSwap(root, "current")
    fresh.append(Seq((3L, "a cat ran")).toDF("doc_id", "text"), "doc_id", col("text"))
    assert(fresh.currentVersion() == 3, "the append must build on the restored version")
  }

  test("a percolator sidecar left as ._seen.bak restores: a re-delivered batch fires nothing") {
    val dir = Files.createTempDirectory("graft_legacy_seen")
    val docsDir = dir.resolve("docs").toString
    Seq(1L -> "sort merge spark", 2L -> "sort merge join").toDF("doc_id", "text")
      .write.parquet(docsDir)
    val clauses = Seq(("alert1", "sort", "must"), ("alert2", "join", "must"))
      .toDF("query_id", "term", "clause")
    val out = dir.resolve("out")
    def run(ckpt: String): Unit = {
      val q = PercolateStream.start(spark, docsDir, dir.resolve(ckpt).toString,
        out.toString, clauses)
      try q.processAllAvailable() finally q.stop()
    }
    run("ckpt")
    val want = spark.read.parquet(out.toString).collect().map(_.mkString("|")).sorted.toSeq
    assert(want.size == 3)
    crashSwap(out, "_seen")
    run("ckpt2") // a fresh checkpoint re-delivers every doc
    assert(spark.read.parquet(out.toString).collect().map(_.mkString("|")).sorted.toSeq == want,
      "the restored sidecar must drop every re-delivered doc")
    assert(restored(out, "_seen"))
  }
}
