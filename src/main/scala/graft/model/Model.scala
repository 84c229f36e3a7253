package graft.model

import java.sql.Timestamp

import org.apache.spark.sql.types._

/** Core row types for the engine, mirroring the reference's DDL
  * (reference `src/VectorTable.php:469-481`, `src/VectorTableQueue.php:77-87`;
  * see SURVEY.md §1.3 for the type-mapping rationale).
  *
  * Differences from the reference, by design:
  *  - `vector` is a native float array, not a JSON string
  *    (`VectorTable.php:473` stores JSON; we only touch JSON at ingest).
  *  - `binary_code` is sign bits packed into longs, not a hex string BLOB
  *    (`VectorTable.php:476,537-575`) — enables `bitCount(a ^ b)` hamming.
  *  - `mediumint(9)` ids widen to Long.
  */
final case class Embedding(
    id: Long,
    post_id: Long,
    sequence_no: Int,
    vector: Array[Float],
    normalized_vector: Array[Double],
    vector_type: String,
    binary_code: Array[Long],
    magnitude: Double,
    created_at: Timestamp,
    updated_at: Timestamp)

object Embedding {
  /** Explicit schema (don't rely on encoder field ordering for storage). */
  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("post_id", LongType, nullable = false),
    StructField("sequence_no", IntegerType, nullable = false),
    StructField("vector", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("normalized_vector", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("vector_type", StringType, nullable = true),
    StructField("binary_code", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("magnitude", DoubleType, nullable = false),
    StructField("created_at", TimestampType, nullable = false),
    StructField("updated_at", TimestampType, nullable = false)))
}

/** The columns of WordPress `posts` the reference reads
  * (`src/VectorTable.php:105,208` + post-type scoping `:99-100`). */
final case class Post(
    ID: Long,
    post_type: String,
    post_status: String,
    post_date: Timestamp,
    post_author: Long,
    post_modified: Timestamp,
    comment_count: Long)

/** WordPress `postmeta` EAV row (`src/query/parts/Filter.php:97`). */
final case class PostMeta(post_id: Long, meta_key: String, meta_value: String)

/** Queue job states (`src/VectorTableQueue.php:81` CHECK constraint). */
sealed abstract class JobStatus(val name: String)
object JobStatus {
  case object Pending    extends JobStatus("pending")
  case object Processing extends JobStatus("processing")
  case object Completed  extends JobStatus("completed")
  case object Failed     extends JobStatus("failed")
  val all: Seq[JobStatus] = Seq(Pending, Processing, Completed, Failed)
  def parse(s: String): JobStatus =
    all.find(_.name == s).getOrElse(throw new IllegalArgumentException(s"bad status: $s"))
}

/** Embed-queue row (`src/VectorTableQueue.php:77-87`). */
final case class QueueJob(
    job_id: Long,
    post_id: Long,
    chunk_count: Int,
    status: String,
    queued_time: Timestamp,
    start_time: Option[Timestamp],
    end_time: Option[Timestamp],
    error_count: Int,
    error_message: Option[String])

object QueueJob {
  val schema: StructType = StructType(Seq(
    StructField("job_id", LongType, nullable = false),
    StructField("post_id", LongType, nullable = false),
    StructField("chunk_count", IntegerType, nullable = false),
    StructField("status", StringType, nullable = false),
    StructField("queued_time", TimestampType, nullable = false),
    StructField("start_time", TimestampType, nullable = true),
    StructField("end_time", TimestampType, nullable = true),
    StructField("error_count", IntegerType, nullable = false),
    StructField("error_message", StringType, nullable = true)))
}

/** Engine knobs mirroring the reference's hard-coded constants
  * (`src/VectorTable.php:73,81-83` / BASELINE.md). */
final case class SearchConfig(
    vectorLength: Int = 1024,          // VectorTable.php:37
    /** The reference's stage-1 LIMIT 1,000,000 (`VectorTable.php:81,117`)
      * is a MySQL safety valve that silently — and nondeterministically —
      * truncates the candidate set. A distributed engine doesn't need the
      * valve, so it defaults OFF; when set, the cap is applied
      * deterministically: lowest ids win, resolved to an id bound (the
      * cap-th smallest candidate id, from an id-only TakeOrderedAndProject
      * heap in a scalar subquery), so the cap never puts vectors in a heap.
      * Documented divergence: the reference's subset is index-order
      * arbitrary. */
    stage1Limit: Option[Long] = None,
    stage2Factor: Int = 10,            // VectorTable.php:82  (10 * n)
    stage3Factor: Int = 5,             // VectorTable.php:83  (5 * n)
    defaultN: Int = 5)                 // VectorTable.php:73

final case class QueueConfig(
    claimBatchSize: Int = 25,          // VectorTableQueue.php:184
    maxRetries: Int = 3,               // VectorTableQueue.php:194,346
    processingTimeoutMinutes: Int = 15,// VectorTableQueue.php:321
    completedRetentionDays: Int = 3,   // VectorTableQueue.php:329
    retryFetchCap: Int = 25000,        // VectorTableQueue.php:347
    pageSize: Int = 25)                // VectorTableQueue.php:403
