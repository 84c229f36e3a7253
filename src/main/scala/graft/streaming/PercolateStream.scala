package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.TextAnalysis
import graft.sources.{LayoutFs, QueryStore}

/** Streaming percolation (X210 — the serving loop of X208): document
  * files stream in, each micro-batch matches against a stored-query
  * table, and the (query_id, doc_id, n_should) matches append to
  * `outDir` — the alerting/routing pipeline shape (saved searches fire
  * as the crawl lands, no document index ever built).
  *
  * Three stored-query modes:
  *  - [[start]]: a FROZEN in-memory clause frame, validated once at
  *    stream start (the [[SbStream.freezeTables]] version-pinning
  *    discipline; restart the stream to pick up edited alerts) and
  *    pinned executor-side — right for small alert sets;
  *  - [[startStored]]: a persisted [[graft.sources.QueryStore]] read
  *    LIVE per micro-batch — every batch re-lists the term-bucketed
  *    clause layout, so appended/tombstoned alerts take effect on the
  *    NEXT batch with no restart, and the membership join prunes to
  *    the batch vocabulary's buckets (the 10⁵–10⁶ stored-query scale
  *    path; X212);
  *  - [[startStoredScored]]: X212's liveness with X246's
  *    batch-relative BM25 score on every fired pair (X297).
  *
  * Replay guard (the `_seen` sidecar under `outDir`): arriving rows are
  * keyed on (doc_id, content fingerprint) — a replayed at-least-once
  * batch of an UNCHANGED doc drops before any matching work, while a
  * legitimately UPDATED document (same id, new text) re-percolates,
  * emitting match rows for its new content next to the old ones
  * (consumers see the alert history per content version; dedup on
  * (query_id, doc_id) downstream if only the latest matters). The
  * guard costs one column-pruned read of the id+fingerprint sidecar —
  * NOT a rescan of the ever-growing match output — and the sidecar
  * self-compacts when its file count passes a threshold, so per-batch
  * guard cost stays flat over the stream's life.
  *
  * Delivery: the checkpoint gives at-least-once file delivery, and each
  * micro-batch's match rows, seen-keys and sidecar compaction commit
  * as ONE [[graft.sources.LayoutFs.Batch]] on `outDir` — a batch that
  * fails before its commit leaves nothing behind, and its replay
  * matches again, so every match row lands exactly once. */
object PercolateStream {

  /** One micro-batch's percolation against pre-validated clauses —
    * public so suites (and custom foreachBatch compositions) drive the
    * exact per-batch semantics without a stream. */
  def matchBatch(batch: DataFrame, idCol: String, textCol: String,
      clauses: DataFrame, minShould: Int): DataFrame = {
    val membership = TextAnalysis.positionalPostings(
        batch.dropDuplicates(idCol), idCol, col(textCol))
      .select(col("doc_id"), col("term")).distinct()
    TextAnalysis.booleanMatchBatch(membership, clauses, minShould)
  }

  /** Frozen-clause mode: the stored-query table is validated and pinned
    * at stream start. */
  def start(
      spark: SparkSession,
      docsDir: String,
      checkpointDir: String,
      outDir: String,
      clauses: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      minShould: Int = 1,
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      : StreamingQuery = {
    val frozen = TextAnalysis.validateClauseBatch(clauses, minShould)
      .localCheckpoint(true)
    startWith(spark, docsDir, checkpointDir, outDir, idCol, textCol, schema,
      releaseOut = false) { // out reaches the STREAM-lived frozen pin
      fresh => matchBatch(fresh, idCol, textCol, frozen, minShould)
    }
  }

  /** Live stored-query mode (X212): every micro-batch percolates
    * against the CURRENT state of the persisted [[QueryStore]] — the
    * store read re-lists per batch, so alert subscribe/unsubscribe
    * (append/delete on the store) takes effect on the next batch with
    * no stream restart, and stored-clause I/O prunes to the batch
    * vocabulary's term buckets. */
  def startStored(
      spark: SparkSession,
      docsDir: String,
      checkpointDir: String,
      outDir: String,
      storePath: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      minShould: Int = 1,
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      : StreamingQuery = {
    val store = new QueryStore(spark, storePath)
    startWith(spark, docsDir, checkpointDir, outDir, idCol, textCol, schema,
      releaseOut = false) { // percolate pins nothing batch-lived
      fresh => store.percolate(fresh, idCol, col(textCol), minShould)
    }
  }

  /** Live stored-query mode with SCORED matches (X246 at the stream:
    * every fired (query, doc) pair carries its batch-relative BM25
    * score, so the alert consumer can rank a bursty batch's firings
    * instead of treating all as equal — the routing/paging decision an
    * alert fan-in actually makes). Same liveness and pruning as
    * [[startStored]]; per batch the scored percolation's staging pin
    * is released after the sink write materializes (the
    * [[graft.util.Pins]] caller-release contract — without it the pin
    * would accrete across the stream's micro-batches). Scores are
    * batch-relative by design (X246's documented semantics): the same
    * doc in a different batch can score differently. Output adds
    * `score` to the match row. */
  def startStoredScored(
      spark: SparkSession,
      docsDir: String,
      checkpointDir: String,
      outDir: String,
      storePath: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      minShould: Int = 1,
      k1: Double = 1.2,
      b: Double = 0.75,
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      : StreamingQuery = {
    val store = new QueryStore(spark, storePath)
    startWith(spark, docsDir, checkpointDir, outDir, idCol, textCol, schema,
      releaseOut = true) { // the scored staging pin is batch-lived
      fresh => store.percolateScored(fresh, idCol, col(textCol),
        minShould, k1, b)
    }
  }

  private def startWith(
      spark: SparkSession,
      docsDir: String,
      checkpointDir: String,
      outDir: String,
      idCol: String,
      textCol: String,
      schema: Option[org.apache.spark.sql.types.StructType],
      releaseOut: Boolean)(
      matcher: DataFrame => DataFrame): StreamingQuery = {
    // the output's one handle: its recovery finishes a committed batch
    // and restores a sidecar backup an earlier version's compaction swap
    // left — losing the sidecar would re-match the whole history
    val layout = new LayoutFs.Live(spark, outDir)
    spark.readStream
      .schema(schema.getOrElse(spark.read.parquet(docsDir).schema))
      .option("maxFilesPerTrigger", 1)
      .parquet(docsDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val keyed = batch.dropDuplicates(idCol)
          .withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
        layout.recover()
        val fresh = freshDocs(spark, outDir, keyed, idCol)
          .localCheckpoint(true) // consumed twice: matcher + seen append
        try {
          if (!fresh.isEmpty) {
            val out = matcher(fresh.drop("__fp"))
            layout.commit { b =>
              b.add("")(dir => out.write.parquet(dir.toString))
              stageSeen(spark, b, outDir, fresh.select(col(idCol), col("__fp")))
            }
            // a matcher may return a frame backed by a BATCH-lived pin
            // (percolateScored's staging) — release once every write
            // materialized, or pins accrete across micro-batches. Only
            // when the mode declares its pins batch-lived: release walks
            // ALL of out's reachable pins (the shared-pin rule on
            // [[graft.util.Pins.release]]), which in frozen mode would
            // kill the STREAM-lived clause pin. And only after the seen
            // write — out also reaches fresh's checkpoint.
            if (releaseOut) graft.util.Pins.release(out)
          }
        } finally graft.util.Pins.release(fresh)
      }
      .start()
  }

  private def seenDir(outDir: String) = s"$outDir/_seen"

  /** Batch rows whose (id, content fingerprint) has no seen-key yet —
    * the replay guard, probing the compact sidecar instead of the match
    * output. */
  private def freshDocs(spark: SparkSession, outDir: String,
      batch: DataFrame, idCol: String): DataFrame = {
    val fs = new Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(seenDir(outDir)))) batch
    else {
      val keys = batch.select(col(idCol), col("__fp")).distinct()
      val done = spark.read.parquet(seenDir(outDir))
        .join(broadcast(keys), Seq(idCol, "__fp"), "left_semi")
      batch.join(broadcast(done), Seq(idCol, "__fp"), "left_anti")
    }
  }

  /** Stage the batch's seen-keys in `b`: an addition to the sidecar,
    * or — once it holds `maxFiles` files — its rewrite as one distinct
    * file with the keys folded in, which keeps its file count flat. */
  private def stageSeen(spark: SparkSession, b: LayoutFs.Batch, outDir: String,
      keys: DataFrame, maxFiles: Int = 64): Unit = {
    val dir = new Path(seenDir(outDir))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nFiles = if (!fs.exists(dir)) 0 else fs.listStatus(dir)
      .count(s => s.isFile && !s.getPath.getName.startsWith("_"))
    if (nFiles < maxFiles) b.add("_seen")(d => keys.write.parquet(d.toString))
    else b.stageRows("_seen", None,
      spark.read.parquet(dir.toString).unionByName(keys).distinct().coalesce(1))
  }
}
