package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** Persisted Stupid-Backoff n-gram model (X167): the X154 count tables
  * — tri (w1,w2,w3,c3), bi (w1,w2,c2), uni (term,c1) — materialized as a
  * VERSIONED parquet artifact, so the reference corpus is counted once
  * and every later scoring run (and every engine restart) reads the
  * stored tables instead of recounting a 100 TB reference. Scoring is
  * [[TextAnalysis.stupidBackoffScore]] against the stored frames — the
  * SAME code path as the recount operator, so the two cannot drift
  * (suite-pinned bit-identical; oracle-gated q209 reusing q200's SQL
  * verbatim — the layout is pure I/O).
  *
  * Counts are ADDITIVE, which is what makes the model incrementally
  * maintainable: [[append]] counts only the NEW batch, outer-merges it
  * with the stored tables by summation, and writes a NEW version
  * directory — build(A) then append(B) is bit-identical to build(A ∪ B)
  * (suite-pinned). Versions are blue/green: a version directory is
  * immutable once the pointer names it, and the pointer is a one-row
  * parquet published in the same [[LayoutFs.Batch]] as the version it
  * names — so a crash leaves the old model or the new one, the pointer
  * can never read as missing (recovery runs at every read), and
  * [[vacuum]] drops every version but the current one.
  *
  * Scale shape: tables are vocabulary-sized (metadata next to the
  * corpus); the merge is three map-side-combined union-sums; scoring
  * joins are AQE-broadcast when the tables fit, shuffle-joined when they
  * don't — the [[TextAnalysis.stupidBackoff]] shape. */
final class NgramLm(spark: SparkSession, path: String) {

  private def verDir(v: Int) = s"$path/v=$v"
  private def pointerLive = new Path(path, "current")

  /** The model's one handle on its root ([[LayoutFs.Live]]): recovery
    * (a committed batch rolled forward and a backup an earlier version's
    * pointer swap left, `.current.bak`, restored, from one glob of the
    * root), reads of the live layout directories with pinned schemas,
    * memos and commits. */
  private val layout = new LayoutFs.Live(spark, path)
  import layout.fs

  /** The version the pointer currently names — memoized per instance
    * (every flip swaps in a fresh pointer directory). */
  private val versionMemo = layout.memo[Int]("current")
  def currentVersion(): Int = {
    layout.recover()
    versionMemo(layout(pointerLive.toString).head().getInt(0))
  }

  /** The three count tables from ONE tokenize pass (r22): tri, bi and
    * uni all derive from the same per-doc token arrays, so the batch is
    * tokenized once and pinned; the previous shape ran the regexp
    * tokenizer and the corpus scan three times. Callers release the
    * returned pin after the three tables are consumed. */
  private def counts(docs: DataFrame, idCol: String, text: Column) = {
    val toks = docs.select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(text).as("__toks"))
      .localCheckpoint(true)
    (TextAnalysis.trigramTriplesFromToks(toks)
      .groupBy(col("w1"), col("w2"), col("w3")).agg(count(lit(1)).as("c3")),
    TextAnalysis.bigramPairsFromToks(toks)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2")),
    toks.select(col("doc_id"),
        posexplode_outer(col("__toks")).as(Seq("pos", "term")))
      .filter(col("term").isNotNull && col("term") =!= "")
      .groupBy(col("term")).agg(count(lit(1)).as("c1")),
    toks)
  }

  /** Publish the three tables as version `v` and flip the pointer to it,
    * one committed batch; `toks` is released once the tables are
    * written. */
  private def publish(v: Int, tri: DataFrame, bi: DataFrame, uni: DataFrame,
      toks: DataFrame): Unit = {
    import spark.implicits._
    layout.commit { b =>
      b.stage(s"v=$v") { dir =>
        tri.write.parquet(s"$dir/tri")
        bi.write.parquet(s"$dir/bi")
        uni.write.parquet(s"$dir/uni")
      }
      graft.util.Pins.release(toks)
      b.stage(pointerLive.getName)(dir =>
        Seq(v).toDF("version").coalesce(1).write.parquet(dir.toString))
    }
  }

  /** Count the reference corpus and publish version 1. */
  def build(refDocs: DataFrame, idCol: String, text: Column): Unit = {
    val (tri, bi, uni, toks) = counts(refDocs, idCol, text)
    publish(1, tri, bi, uni, toks)
  }

  private def readTables(v: Int) = (
    layout(s"${verDir(v)}/tri"),
    layout(s"${verDir(v)}/bi"),
    layout(s"${verDir(v)}/uni"))

  /** Merge a NEW batch's counts into the model: count only the batch,
    * outer-sum against the stored tables, publish as the next version,
    * flip the pointer. build(A) + append(B) ≡ build(A ∪ B) — counts are
    * additive and the merge is exact integer arithmetic. The previous
    * version stays on disk (still consistent for in-flight readers)
    * until [[vacuum]]. */
  def append(docs: DataFrame, idCol: String, text: Column): Unit = {
    val v = currentVersion()
    val (dTri, dBi, dUni, toks) = counts(docs, idCol, text)
    val (sTri, sBi, sUni) = readTables(v)
    def merge(stored: DataFrame, delta: DataFrame, keys: Seq[String],
        cnt: String) =
      stored.select(keys.map(col) :+ col(cnt): _*)
        .unionByName(delta.select(keys.map(col) :+ col(cnt): _*))
        .groupBy(keys.map(col): _*).agg(sum(col(cnt)).cast("long").as(cnt))
    publish(v + 1,
      merge(sTri, dTri, Seq("w1", "w2", "w3"), "c3"),
      merge(sBi, dBi, Seq("w1", "w2"), "c2"),
      merge(sUni, dUni, Seq("term"), "c1"), toks)
  }

  /** Subtract a REMOVED batch's counts — the dual of [[append]], and
    * what additivity buys twice over: build(A ∪ B) then remove(B) is
    * bit-identical to build(A) (suite-pinned; oracle-gated q234), so a
    * takedown or retention-expiry batch leaves the reference model
    * WITHOUT recounting a 100 TB corpus. Counts the batch, outer-joins
    * against the stored tables with exact integer subtraction, drops
    * rows reaching 0, publishes as the next blue/green version.
    *
    * Contract: the batch must be (a sub-multiset of) documents whose
    * counts were previously built/appended — removing a never-counted
    * doc silently under-counts shared n-grams (the engine cannot verify
    * doc membership from count tables alone; the caller's ingest log
    * can). Versions make even that recoverable: the previous version
    * stays on disk until [[vacuum]]. */
  def remove(docs: DataFrame, idCol: String, text: Column): Unit = {
    val v = currentVersion()
    val (dTri, dBi, dUni, toks) = counts(docs, idCol, text)
    val (sTri, sBi, sUni) = readTables(v)
    def unmerge(stored: DataFrame, delta: DataFrame, keys: Seq[String],
        cnt: String) =
      stored.join(delta.withColumnRenamed(cnt, "__d"),
          keys, "left")
        .withColumn(cnt,
          (col(cnt) - coalesce(col("__d"), lit(0L))).cast("long"))
        .filter(col(cnt) > 0)
        .select(keys.map(col) :+ col(cnt): _*)
    publish(v + 1,
      unmerge(sTri, dTri, Seq("w1", "w2", "w3"), "c3"),
      unmerge(sBi, dBi, Seq("w1", "w2"), "c2"),
      unmerge(sUni, dUni, Seq("term"), "c1"), toks)
  }

  /** Score a corpus against the CURRENT stored model — the exact
    * [[TextAnalysis.stupidBackoff]] arithmetic over the stored tables. */
  def score(docs: DataFrame, idCol: String, text: Column,
      lambda: Double = 0.4): DataFrame = {
    val (tri, bi, uni) = readTables(currentVersion())
    TextAnalysis.stupidBackoffScore(docs, idCol, text, tri,
      bi.localCheckpoint(true),   // two join consumers, the X154 pins
      uni.localCheckpoint(true),  // two joins + the N/V aggregate
      lambda)
  }

  /** Drop every version directory except the current one, as one
    * committed batch. */
  def vacuum(): Unit = {
    val keep = currentVersion()
    layout.commit { b =>
      Option(fs.globStatus(new Path(path, "v=*"))).toSeq.flatten.map(_.getPath.getName)
        .filter(_ != s"v=$keep").foreach(b.drop)
    }
  }

  /** Consistent on-disk snapshot ([[LayoutFs.Live.snapshot]]) — the
    * cross-location copy the blue/green versioning alone cannot give
    * (versions protect against crashes, not against losing the
    * location). It runs after recovery; every version
    * directory travels with the pointer, so the copy serves the same
    * current version and still carries the superseded versions its
    * in-flight-reader retention contract promises (run [[vacuum]] on
    * either side independently). */
  def snapshot(targetPath: String): Unit = layout.snapshot(targetPath)

  /** Maintenance policy as code (X186, the versioned-artifact member of
    * the family: [[graft.sources.InvertedIndex.maintain]] /
    * [[graft.sources.IvfIndex.maintain]]): every [[append]]/[[remove]]
    * publishes a NEW version directory and leaves the previous one for
    * in-flight readers, so a long-running maintenance loop accretes one
    * full table set per mutation until [[vacuum]] reclaims them. Reads
    * the version listing (a file listing — never table data), runs
    * [[vacuum]] when the NON-current version count exceeds
    * `maxStaleVersions`, and returns the decision record: the observed
    * stale count, the threshold, and whether the GC ran. The threshold
    * is the caller's retention policy — how many superseded versions
    * in-flight readers may still be pinned to (a reader pins a version
    * at its own start, [[graft.streaming.SbStream.freezeTables]], so
    * retention must cover the longest-running reader's lifetime). Run
    * on the serving loop's restart path: a restart re-pins to CURRENT,
    * so everything older is reclaimable. */
  def maintain(maxStaleVersions: Int = 8): DataFrame = {
    require(maxStaleVersions >= 0,
      s"maxStaleVersions must be >= 0, got $maxStaleVersions")
    import spark.implicits._
    val keep = currentVersion()
    val stale = Option(fs.globStatus(new Path(path, "v=*"))).toSeq.flatten
      .count(_.getPath.getName.stripPrefix("v=").toInt != keep)
    val doVacuum = stale > maxStaleVersions
    if (doVacuum) vacuum()
    Seq(("vacuum", stale.toDouble, maxStaleVersions.toDouble, doVacuum))
      .toDF("action", "metric", "threshold", "acted")
  }
}
