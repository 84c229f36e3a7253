package graft.sources

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.TextAnalysis

/** The persisted n-gram model must be a pure I/O artifact: identical
  * scores to the recount operator, additive appends, crash-safe pointer. */
class NgramLmSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val refA = Seq(
    (1L, "the cat sat on the mat"),
    (2L, "the dog sat on the rug"),
    (3L, "a cat and a dog ran")).toDF("doc_id", "text")
  private val refB = Seq(
    (4L, "the cat ran to the dog"),
    (5L, "mats and rugs everywhere")).toDF("doc_id", "text")
  private val probe = Seq(
    (10L, "the cat sat on the rug"),
    (11L, "zork blee frotz gnip"),
    (12L, "a dog ran")).toDF("doc_id", "text")

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
      r.getDouble(3))).toSet

  test("stored-model scores are bit-identical to the recount operator") {
    val dir = Files.createTempDirectory("graft_nglm").toString
    val lm = new NgramLm(spark, s"$dir/lm")
    lm.build(refA, "doc_id", col("text"))
    assert(lm.currentVersion() == 1)
    val got = rows(lm.score(probe, "doc_id", col("text")))
    val want = rows(TextAnalysis.stupidBackoff(probe, refA, "doc_id", col("text")))
    assert(got === want, "persisted layout must be pure I/O")
  }

  test("append additivity: build(A) + append(B) == build(A ∪ B); vacuum keeps current") {
    val dir = Files.createTempDirectory("graft_nglm_app").toString
    val inc = new NgramLm(spark, s"$dir/inc")
    inc.build(refA, "doc_id", col("text"))
    inc.append(refB, "doc_id", col("text"))
    assert(inc.currentVersion() == 2)
    val full = new NgramLm(spark, s"$dir/full")
    full.build(refA.union(refB), "doc_id", col("text"))
    assert(rows(inc.score(probe, "doc_id", col("text"))) ===
      rows(full.score(probe, "doc_id", col("text"))),
      "count merge must equal a from-scratch count")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new Path(s"$dir/inc/lm".replace("/lm", ""), "inc/v=1"))
      || fs.exists(new Path(s"$dir/inc/v=1")), "old version kept until vacuum")
    inc.vacuum()
    assert(!fs.exists(new Path(s"$dir/inc/v=1")), "vacuum drops superseded versions")
    assert(fs.exists(new Path(s"$dir/inc/v=2")))
  }

  test("remove subtractivity: build(A ∪ B) + remove(B) == build(A), tables bit-equal") {
    val dir = Files.createTempDirectory("graft_nglm_rm").toString
    val lm = new NgramLm(spark, s"$dir/lm")
    lm.build(refA.union(refB), "doc_id", col("text"))
    lm.remove(refB, "doc_id", col("text"))
    assert(lm.currentVersion() == 2)
    val want = new NgramLm(spark, s"$dir/want")
    want.build(refA, "doc_id", col("text"))
    assert(rows(lm.score(probe, "doc_id", col("text"))) ===
      rows(want.score(probe, "doc_id", col("text"))),
      "subtraction must equal a from-scratch count of the survivors")
    // the stored tables themselves are equal sets (zero rows dropped)
    def table(p: String, cols: Int) = spark.read.parquet(p).collect()
      .map(r => (0 until cols).map(r.get).toSeq).toSet
    for ((t, n) <- Seq(("tri", 4), ("bi", 3), ("uni", 2)))
      assert(table(s"$dir/lm/v=2/$t", n) === table(s"$dir/want/v=1/$t", n),
        s"$t table must match a clean build")
    // remove everything: tables empty but layout still readable
    lm.remove(refA, "doc_id", col("text"))
    assert(spark.read.parquet(s"$dir/lm/v=3/uni").count() === 0)
  }

  test("maintain: calm = no-op report; crossed = stale versions dropped, scores unchanged") {
    val dir = Files.createTempDirectory("graft_nglm_maint").toString
    val lm = new NgramLm(spark, s"$dir/lm")
    lm.build(refA, "doc_id", col("text"))
    lm.append(refB, "doc_id", col("text")) // v=2 current, v=1 stale
    val want = rows(lm.score(probe, "doc_id", col("text")))
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def versions = Option(fs.globStatus(new Path(s"$dir/lm", "v=*")))
      .toSeq.flatten.map(_.getPath.getName).toSet
    // calm: 1 stale <= threshold 1 — byte-identical no-op
    val calm = lm.maintain(maxStaleVersions = 1).collect()
    assert(calm.length == 1 && !calm.head.getBoolean(3),
      "below-threshold maintain must not act")
    assert(calm.head.getDouble(1) == 1.0)
    assert(versions == Set("v=1", "v=2"))
    // crossed: threshold 0 — v=1 dropped, current intact, scores unchanged
    val acted = lm.maintain(maxStaleVersions = 0).collect()
    assert(acted.head.getBoolean(3), "over-threshold maintain must vacuum")
    assert(versions == Set("v=2"))
    assert(lm.currentVersion() == 2)
    assert(rows(lm.score(probe, "doc_id", col("text"))) === want,
      "version GC must not change the served model")
    // idempotent: nothing stale left
    assert(!lm.maintain(maxStaleVersions = 0).collect().head.getBoolean(3))
  }

  test("pointer crash recovery: a half-done swap restores at the next read") {
    val dir = Files.createTempDirectory("graft_nglm_crash").toString
    val lm = new NgramLm(spark, s"$dir/lm")
    lm.build(refA, "doc_id", col("text"))
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash between the publish swap's two renames: live pointer gone,
    // backup present, the batch committed
    CrashStates.midSwap(fs, new Path(s"$dir/lm"), "current")
    assert(lm.currentVersion() == 1, "reader must finish the pointer swap")
    assert(fs.exists(new Path(s"$dir/lm/current")))
    assert(!fs.exists(new Path(s"$dir/lm/.current.bak")))
  }

  test("snapshot: cross-location copy scores identically, versions travel, sides independent (X290)") {
    val dir = Files.createTempDirectory("graft_nglm_snap").toString
    val lm = new NgramLm(spark, s"$dir/lm")
    lm.build(refA, "doc_id", col("text"))
    lm.append(refB, "doc_id", col("text")) // two versions on disk
    val want = rows(lm.score(probe, "doc_id", col("text")))
    lm.snapshot(s"$dir/copy")
    val copy = new NgramLm(spark, s"$dir/copy")
    assert(copy.currentVersion() == lm.currentVersion())
    assert(rows(copy.score(probe, "doc_id", col("text"))) === want,
      "the copy must serve the same current version")
    // the superseded version traveled (retention contract), and a
    // vacuum on the copy leaves the source's versions alone
    copy.vacuum()
    assert(rows(lm.score(probe, "doc_id", col("text"))) === want)
    assert(rows(copy.score(probe, "doc_id", col("text"))) === want)
    intercept[IllegalArgumentException](lm.snapshot(s"$dir/copy"))
    // crash debris never blocks a retry
    val stale = new java.io.File(s"$dir/.c.snapstaging/junk")
    stale.getParentFile.mkdirs()
    java.nio.file.Files.write(stale.toPath, Array[Byte](1))
    lm.snapshot(s"$dir/c")
    assert(rows(new NgramLm(spark, s"$dir/c")
      .score(probe, "doc_id", col("text"))) === want)
    assert(!new java.io.File(s"$dir/.c.snapstaging").exists())
  }
}
