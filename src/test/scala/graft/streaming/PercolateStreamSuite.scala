package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.TextAnalysis

/** The streaming percolator must fire exactly the batch operator's
  * matches across micro-batches, with a replayed doc never duplicating
  * an alert. */
class PercolateStreamSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docsRows = Seq(
    1L -> "sort merge spark",
    2L -> "sort merge join spark",
    3L -> "sort merge bubble spark",
    4L -> "sort merge plain",
    5L -> "sort spark join")
  private def clauses = Seq(
    ("alert1", "sort", "must"), ("alert1", "merge", "must"),
    ("alert1", "spark", "should"), ("alert1", "bubble", "must_not"),
    ("alert2", "join", "must")).toDF("query_id", "term", "clause")

  test("file-stream matches ≡ batch percolate; replayed doc fires no duplicate alert") {
    val dir = Files.createTempDirectory("graft_perc_stream").toString
    val docsDir = s"$dir/docs"
    docsRows.take(3).toDF("doc_id", "text").write.parquet(docsDir)
    val query = PercolateStream.start(spark, docsDir, s"$dir/ckpt",
      s"$dir/out", clauses)
    try {
      query.processAllAvailable()
      // second file: the rest of the corpus PLUS a re-sent doc 2 (a
      // crawler re-fetch) — the replay guard must drop it
      docsRows.drop(3).toDF("doc_id", "text")
        .union(Seq(docsRows(1)).toDF("doc_id", "text"))
        .write.mode("append").parquet(docsDir)
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.read.parquet(s"$dir/out")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val batch = TextAnalysis.percolate(docsRows.toDF("doc_id", "text"),
        "doc_id", col("text"), clauses)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(streamed.toSet == batch.toSet,
      "streamed matches must equal the batch operator's")
    assert(streamed.size == streamed.toSet.size,
      "a replayed doc must not duplicate an alert row")
    // the clause contract validates at stream START, not per batch
    intercept[IllegalArgumentException](PercolateStream.start(
      spark, docsDir, s"$dir/ckpt2", s"$dir/out2",
      Seq(("q", "x", "nope")).toDF("query_id", "term", "clause")))
  }

  test("an UPDATED doc (same id, new text) re-percolates; an unchanged replay does not") {
    val dir = Files.createTempDirectory("graft_perc_upd").toString
    val docsDir = s"$dir/docs"
    Seq(1L -> "sort merge spark").toDF("doc_id", "text").write.parquet(docsDir)
    val query = PercolateStream.start(spark, docsDir, s"$dir/ckpt",
      s"$dir/out", clauses)
    try {
      query.processAllAvailable()
      // same id, NEW content: now contains 'join' -> alert2 must fire
      Seq(1L -> "sort merge join").toDF("doc_id", "text")
        .write.mode("append").parquet(docsDir)
      query.processAllAvailable()
      // unchanged replay of the updated content: guard drops it
      Seq(1L -> "sort merge join").toDF("doc_id", "text")
        .write.mode("append").parquet(docsDir)
      query.processAllAvailable()
    } finally query.stop()
    val out = spark.read.parquet(s"$dir/out")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // v1 fires alert1 (sort+merge musts, spark should); v2 loses the
    // should match but gains alert2's 'join' must — so the update DID
    // re-percolate, and the unchanged replay added nothing
    assert(out.count(_ == ("alert1", 1L)) == 1,
      s"v1 matches alert1 exactly once: $out")
    assert(out.count(_ == ("alert2", 1L)) == 1,
      s"the updated content must fire alert2 exactly once: $out")
    assert(out.size == 2, s"no duplicate rows from the unchanged replay: $out")
  }

  test("startStored: live QueryStore — alerts appended mid-stream fire on the next batch") {
    val dir = Files.createTempDirectory("graft_perc_stored").toString
    val docsDir = s"$dir/docs"
    docsRows.take(3).toDF("doc_id", "text").write.parquet(docsDir)
    val qs = new graft.sources.QueryStore(spark, s"$dir/qs", buckets = 8)
    qs.build(clauses)
    val query = PercolateStream.startStored(spark, docsDir, s"$dir/ckpt",
      s"$dir/out", s"$dir/qs")
    try {
      query.processAllAvailable()
      // subscribe a NEW alert and unsubscribe alert2 — NO restart
      qs.append(Seq(("alert9", "plain", "must"))
        .toDF("query_id", "term", "clause"))
      qs.delete(Seq("alert2").toDF("query_id"))
      docsRows.drop(3).toDF("doc_id", "text")
        .write.mode("append").parquet(docsDir)
      query.processAllAvailable()
    } finally query.stop()
    val out = spark.read.parquet(s"$dir/out")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out.contains(("alert9", 4L, 0L)),
      s"mid-stream subscribed alert must fire on the next batch: $out")
    assert(!out.exists(r => r._1 == "alert2" && r._2 >= 4L),
      s"mid-stream unsubscribed alert must stop firing: $out")
    // batch-1 rows (pre-edit) match the frozen-mode result on docs 1-3
    val batch1 = TextAnalysis.percolate(docsRows.take(3).toDF("doc_id", "text"),
        "doc_id", col("text"), clauses)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch1.subsetOf(out.toSet))
  }

  test("startStoredScored: streamed scored matches ≡ batch percolateScored PER BATCH (X297)") {
    val dir = Files.createTempDirectory("graft_perc_scored").toString
    val docsDir = s"$dir/docs"
    val qs = new graft.sources.QueryStore(spark, s"$dir/qs", buckets = 8)
    qs.build(clauses)
    // scores are batch-relative BY DESIGN and the source triggers one
    // FILE per micro-batch, so each arrival group writes as ONE file —
    // the parity target is the batch operator run per file
    docsRows.take(3).toDF("doc_id", "text").coalesce(1).write.parquet(docsDir)
    val query = PercolateStream.startStoredScored(spark, docsDir,
      s"$dir/ckpt", s"$dir/out", s"$dir/qs")
    try {
      query.processAllAvailable()
      docsRows.drop(3).toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(docsDir)
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.read.parquet(s"$dir/out")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    def batchScored(rows: Seq[(Long, String)]) =
      qs.percolateScored(rows.toDF("doc_id", "text"), "doc_id", col("text"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
    val b1 = batchScored(docsRows.take(3))
    val b2 = batchScored(docsRows.drop(3))
    assert(streamed === (b1 ++ b2),
      "stream must equal the batch scored operator per arrival group")
    // the batch-relative contract is visible: doc 2's alert1 score in a
    // 3-doc batch need not equal its score in the full corpus
    assert(streamed.exists(_._4 > 0.0), "scores flow through the sink")
  }

  test("a micro-batch that fails after writing its match rows emits each match once on replay") {
    graft.sources.FaultyFs.install(spark)
    val dir = Files.createTempDirectory("graft_perc_replay").toString
    val docsDir = s"$dir/docs"
    docsRows.toDF("doc_id", "text").write.parquet(docsDir)
    val out = graft.sources.FaultyFs.uri(s"$dir/out")
    val plan = graft.sources.FaultyFs.plan(s"$dir/out")
    // the batch dies writing its seen-keys, after its match rows
    val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    plan.onCreate = p => if (p.toString.contains("_seen") && armed.getAndSet(false))
      throw new java.io.IOException(s"injected failure creating $p")
    try {
      val failed = PercolateStream.start(spark, docsDir, s"$dir/ckpt", out, clauses)
      try intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        failed.processAllAvailable())
      finally failed.stop()
      assert(!armed.get, "the injected failure must have fired")
      // restart from the same checkpoint: the failed batch replays
      val replay = PercolateStream.start(spark, docsDir, s"$dir/ckpt", out, clauses)
      try replay.processAllAvailable() finally replay.stop()
      val streamed = spark.read.parquet(out)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      val batch = TextAnalysis.percolate(docsRows.toDF("doc_id", "text"),
          "doc_id", col("text"), clauses)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(streamed.sorted == batch.sorted,
        "the replayed batch must emit each match row exactly once")
    } finally graft.sources.FaultyFs.drop(s"$dir/out")
  }
}
