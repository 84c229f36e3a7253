package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.InvertedIndex

/** Streaming maintenance for the persisted inverted index (X176) — the
  * text-retrieval twin of [[EmbedPipeline.startWithIndex]]'s IVF fold:
  * document files stream in, each micro-batch folds into the
  * [[InvertedIndex]] as a batch-proportional `append`, and the index
  * serves BM25/phrase queries continuously while it grows.
  *
  * Delivery: the checkpoint gives at-least-once file delivery; exactly-
  * once ON DOC IDS comes from a replay guard — arriving ids are probed
  * against [[InvertedIndex.appendedIds]] (the doclens key set) and
  * already-ingested docs are dropped before the append, so a replayed
  * micro-batch (or a crawler re-fetching a page) never doubles a doc's
  * postings or doclens row. The guard is crash-exact because the append
  * itself is: [[InvertedIndex.append]] stages the whole batch and
  * commits it as one batch (doclens moved LAST), so a driver death anywhere
  * mid-append leaves — after the index's own recovery — either the full
  * batch (replay drops it) or none of it (replay re-appends it), never
  * postings without their doclens rows. The guard's plan is scale-shaped: the
  * CORPUS-sized side (doclens ids, a single narrow column) is probed
  * with a broadcast semi-join against the batch's ids — map-side, no
  * corpus exchange — and only the resulting batch-sized duplicate set
  * joins back. At a scale where even the narrow id-column scan per
  * batch bites, the X41 Bloom-prefilter discipline composes in front
  * of it unchanged.
  *
  * Updates and retractions are NOT this stream's job, by the index's
  * own contract: an inverted index mutates by tombstone
  * ([[InvertedIndex.delete]], X175) and re-ingesting a changed or
  * deleted doc requires a [[InvertedIndex.vacuum]] first (the tombstone
  * would mask re-appended postings). Route retractions to `delete`
  * directly; this stream is the append-only ingest leg a crawl
  * pipeline runs continuously.
  */
object IndexIngest {

  /** One micro-batch's fold: replay-guard against the index's appended
    * ids, collapse within-batch duplicate ids (arbitrary shuffle-order
    * pick, as with any distributed dedup), append what's genuinely new.
    * Public so suites (and custom foreachBatch compositions) can drive
    * the exact per-batch semantics without a stream. */
  def foldBatch(index: InvertedIndex, batch: DataFrame, idCol: String,
      text: Column): Unit = {
    val fresh = freshOnly(index, batch, idCol)
      .persist() // append writes postings AND doclens — one tokenize pass
    try { if (!fresh.isEmpty) index.append(fresh, idCol, text) }
    finally { fresh.unpersist(); () }
  }

  /** The replay guard's frame (exposed for the plan audit): batch rows
    * whose id is NOT yet in the index, with the corpus-sized side
    * (doclens ids) probed map-side under broadcast joins — no corpus
    * exchange. */
  private[graft] def freshOnly(index: InvertedIndex, batch: DataFrame,
      idCol: String): DataFrame = {
    val ids = batch.select(col(idCol)).distinct()
    val dup = index.appendedIds.toDF(idCol)
      .join(broadcast(ids), Seq(idCol), "left_semi")
    batch.dropDuplicates(idCol)
      .join(broadcast(dup), Seq(idCol), "left_anti")
  }

  /** Stream document parquet files from `docsDir` into `index`. The
    * index must be [[InvertedIndex.build built]] before the stream
    * starts (build records the bucket count appends follow). Pass
    * `schema` to start the stream over a directory that has no files
    * yet (the normal initial state of a crawl-ingest landing dir —
    * inference would throw); omitted, the schema infers from the
    * existing files. */
  /** The shared readStream/writeStream scaffolding of [[start]] and
    * [[startMaintained]] (the [[EmbedPipeline]] factoring rule: one
    * definition of the schema-inference fallback, maxFilesPerTrigger,
    * trigger and checkpoint wiring, so the two entry points cannot
    * drift). */
  private def startWith(
      spark: SparkSession,
      docsDir: String,
      checkpointDir: String,
      schema: Option[org.apache.spark.sql.types.StructType])(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    spark.readStream
      .schema(schema.getOrElse(spark.read.parquet(docsDir).schema))
      .option("maxFilesPerTrigger", 1)
      .parquet(docsDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch(body)
      .start()

  /** `unicode` switches the ingest tokenization to the
    * [[graft.operators.TextAnalysis.segmentUnicode]] fallback — MUST
    * match the mode the index was built with (the mode is part of the
    * tokenization contract, like casing; a mixed-mode index would hold
    * incompatible term units). */
  def start(
      spark: SparkSession,
      docsDir: String,
      checkpointDir: String,
      index: InvertedIndex,
      idCol: String = "doc_id",
      textCol: String = "text",
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      unicode: Boolean = false): StreamingQuery =
    startWith(spark, docsDir, checkpointDir, schema) { (batch, _) =>
      foldBatch(index, batch, idCol, textExpr(textCol, unicode))
    }

  private def textExpr(textCol: String, unicode: Boolean) =
    if (unicode) graft.operators.TextAnalysis.segmentUnicode(col(textCol))
    else col(textCol)

  /** [[start]] with the maintenance policy (X186) folded into the
    * ingest loop: every `every`-th micro-batch, after its fold, the
    * index maintains itself — vacuum past the tombstone-fraction
    * threshold, compact past the files-per-bucket threshold — so a
    * long-running crawl ingest tends its own file accretion instead of
    * relying on an external ops cron. Maintenance runs BETWEEN folds on
    * the micro-batch executor thread (the stream's serializability is
    * the single-writer guarantee the index's maintenance contract
    * needs); a crash mid-maintenance recovers exactly as a crashed
    * manual vacuum/compact would — the next fold's entry-point recovery
    * rolls the swap forward or back before any new files land. The
    * policy reads file listings and two row counts, so an untriggered
    * check costs no data I/O. */
  def startMaintained(
      spark: SparkSession,
      docsDir: String,
      checkpointDir: String,
      index: InvertedIndex,
      every: Int = 16,
      maxFilesPerBucket: Int = 8,
      maxTombstoneFrac: Double = 0.2,
      idCol: String = "doc_id",
      textCol: String = "text",
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      unicode: Boolean = false)
      : StreamingQuery = {
    require(every >= 1, s"every must be >= 1, got $every")
    startWith(spark, docsDir, checkpointDir, schema) { (batch, batchId) =>
      foldBatch(index, batch, idCol, textExpr(textCol, unicode))
      if ((batchId + 1) % every == 0) {
        index.maintain(maxFilesPerBucket, maxTombstoneFrac)
        ()
      }
    }
  }
}
