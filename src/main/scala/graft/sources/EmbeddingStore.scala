package graft.sources

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorFunctions._
import graft.util.DenseIds

/** Parquet-backed embedding store (SURVEY.md §2.1 S1-S12).
  *
  * The reference is a MySQL table with row-at-a-time CRUD
  * (`src/VectorTable.php:241-456`); here mutation is set-oriented
  * read->transform->atomic-swap over Parquet (no ACID table format in this
  * environment). Derived columns (`normalized_vector`, `binary_code`,
  * `magnitude` — `src/VectorTable.php:353-356,383`) are computed once at
  * write time, exactly like the reference materializes them at upsert.
  *
  * Scale notes (100 TB design point):
  *  - the store is hash-bucketed by `post_id` into `numBuckets` directory
  *    partitions (`bucket=NNN`), so point mutations rewrite only the touched
  *    buckets, not the whole table, and commit them as one batch — the
  *    Parquet analogue of the reference's per-row UPDATE statement;
  *  - reads are parquet scans with a pinned schema ([[LayoutFs.Live]])
  *    and pushdown: filters on `bucket`/`post_id`/`id` prune partitions
  *    and row groups;
  *  - the wide `vector` column is only read by stages that need it
  *    (Catalyst column pruning; see SearchEngine stage separation);
  *  - all path operations go through the Hadoop `FileSystem` API, so the
  *    store works on HDFS/S3A/local alike (bucket rewrites commit through
  *    [[LayoutFs]], which states the rename-atomicity caveat for S3A).
  */
final class EmbeddingStore(spark: SparkSession, path: String, numBuckets: Int = 64,
    prefixDims: Option[Int] = None) {
  require(prefixDims.forall(_ >= 1), s"prefixDims must be positive, got $prefixDims")
  import spark.implicits._

  /** The store root (for suites and layout-level tooling). */
  private[graft] def storePath: String = path

  private def bucketOf(c: Column) = pmod(hash(c), lit(numBuckets))

  /** The store's one handle on its root ([[LayoutFs.Live]]): recovery,
    * reads with pinned schemas, and commits. Crash recovery runs at the
    * top of [[read]] — i.e. before ANY consumer (including
    * upsert/insertAll, which compute maxId and the existing-key join from
    * read()) can observe the store: the first call opens the store, every
    * later one rolls a committed batch forward and restores a bucket or
    * meta backup (`.bucket=N.bak`, `._graft_meta.bak`) an earlier
    * version's swap left, from one glob of the store root — a single
    * NameNode/S3 LIST, negligible next to the file listing that follows.
    * Without it, a bucket hidden in a `.bak` or a staged batch would make
    * its keys look new to the next upsert: id churn, lost created_at, and
    * fresh ids colliding with the hidden bucket's ids store-wide. */
  private val layout = new LayoutFs.Live(spark, path)
  import layout.fs

  // ---- store metadata ----------------------------------------------------
  // prefixDims must SURVIVE the handle: a store written with a prefix and
  // later reopened without the parameter would silently drop
  // `vector_prefix` from every rewritten bucket (and keep it on untouched
  // ones — a split-schema store). The dims are persisted in a one-line
  // metadata file at the store root on first load and read back as the
  // default; an explicit constructor value must agree with the stored one.
  // The file commits in the same batch as the buckets it describes.
  private val metaPath = new Path(path, "_graft_meta")

  private def readStoredPrefixDims(): Option[Int] = {
    layout.recover()
    if (!fs.exists(metaPath)) None
    else {
      val in = fs.open(metaPath)
      try {
        val txt = new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8").trim
        "\"prefixDims\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(txt).map(_.group(1).toInt)
      } finally in.close()
    }
  }

  /** Stage the meta file in `b`. */
  private def stageMeta(b: LayoutFs.Batch, dims: Int): Unit =
    b.stage(metaPath.getName) { p =>
      val out = fs.create(p, true)
      try out.write(s"""{"prefixDims": $dims}""".getBytes("UTF-8"))
      finally out.close()
    }

  /** Constructor value if given (validated against disk), else whatever a
    * previous handle persisted. Evaluated lazily so a store handle can be
    * built before the directory exists. */
  private lazy val effectivePrefixDims: Option[Int] = {
    val stored = readStoredPrefixDims()
    (prefixDims, stored) match {
      case (Some(p), Some(s)) =>
        require(p == s, s"store at $path was built with prefixDims=$s, got $p " +
          "(re-derive the column explicitly rather than splitting the schema)")
        Some(p)
      case (Some(p), None) => Some(p)
      case (None, s) => s
    }
  }

  /** Derive the reference's materialized columns on a raw
    * `(post_id, sequence_no, vector, vector_type)` frame. With
    * `prefixDims` set, also materializes `vector_prefix` — the raw
    * first-k slice backing the matryoshka stage-1 index
    * ([[graft.operators.Ann.matryoshkaTopK]]): Parquet cannot prune
    * array ELEMENTS, so slicing the full `vector` in a query still
    * reads every float; a separate stored column is what turns the
    * prefix ranking into a k/dim-sized I/O pass at 100 TB (the same
    * split the store already does for `binary_code`). Raw slice, not
    * re-normalized: cosine normalizes per-pair, so ranking is identical
    * and the column stays update-free if dims are re-chosen. */
  def withDerived(raw: DataFrame): DataFrame = {
    val withCreated =
      if (raw.columns.contains("created_at")) raw
      else raw.withColumn("created_at", lit(null).cast(TimestampType))
    val derived = withCreated
      .withColumn("vector", col("vector").cast(ArrayType(FloatType)))
      .withColumn("magnitude", vecMagnitude(col("vector")))
      .withColumn("normalized_vector", vecNormalize(col("vector")))
      .withColumn("binary_code", packSignBits(col("vector")))
      .withColumn("created_at", coalesce(col("created_at"), current_timestamp()))
      .withColumn("updated_at", current_timestamp())
    effectivePrefixDims.fold(derived)(d =>
      derived.withColumn("vector_prefix", slice(col("vector"), 1, d)))
  }

  /** Assign `id`s at ingest: AUTO_INCREMENT (`src/VectorTable.php:470`) has
    * no distributed equivalent — ids are dense row numbers over the
    * insertion order. Delegates to [[DenseIds]] (range partition +
    * zipWithIndex), NOT a global window: a `Window.orderBy` with no
    * partitioning would funnel the whole load through one task. */
  def assignIds(df: DataFrame, startAt: Long = 1L): DataFrame =
    DenseIds.assign(df, "id", startAt, col("post_id"), col("sequence_no"))

  /** The live store. Recovers crashed swaps and lists the files on every
    * call; the schema is pinned ([[layout]]), so a read launches no Spark
    * job. */
  def read(): DataFrame = {
    layout.recover()
    layout(path)
  }

  /** Typed view of the store (SURVEY.md §1.3: `Dataset[Embedding]` where
    * compile-time safety helps; `DataFrame` at the dynamic API edges). */
  def typed(): org.apache.spark.sql.Dataset[graft.model.Embedding] = {
    import spark.implicits._
    read().drop("bucket")
      .select("id", "post_id", "sequence_no", "vector", "normalized_vector",
        "vector_type", "binary_code", "magnitude", "created_at", "updated_at")
      .as[graft.model.Embedding]
  }

  // ---- S1-S6, S10: reads -------------------------------------------------

  /** S1 full scan; the reference caps at 100k (`VectorTable.php:333`) —
    * capped variant kept for behavior parity. */
  def getAll(cap: Option[Int] = Some(100000)): DataFrame =
    cap.fold(read())(read().limit(_))

  /** S2 point lookup by id (Parquet pushdown prunes row groups). */
  def byId(id: Long): DataFrame = read().filter(col("id") === id)

  /** S3 multi-id lookup preserving caller's order — the Spark rewrite of
    * `ORDER BY FIELD(id, ...)` (`VectorTable.php:266`): join against the
    * input order and sort by it. */
  def byIds(ids: Seq[Long]): DataFrame = {
    if (ids.isEmpty) return read().limit(0)
    val order = ids.zipWithIndex.toDF("id", "__ord")
    read().join(broadcast(order), Seq("id"), "inner")
      .orderBy(col("__ord"))
      .drop("__ord")
  }

  /** S4 composite-key lookup. */
  def get(postId: Long, sequenceNo: Int): DataFrame =
    read().filter(col("post_id") === postId && col("sequence_no") === sequenceNo)

  /** S5 all vectors of one post. */
  def allForPost(postId: Long): DataFrame = read().filter(col("post_id") === postId)

  /** S6 latest row per post — window per post key instead of
    * ORDER BY ... LIMIT 1 (`VectorTable.php:313-320`). */
  def latestUpdated(postId: Long): DataFrame = {
    val w = Window.partitionBy(col("post_id")).orderBy(col("updated_at").desc, col("id").desc)
    allForPost(postId).withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** S10 count. */
  def count(): Long = read().count()

  // ---- S7-S9: mutation (read -> transform -> atomic swap) ---------------

  /** S7 upsert: merge by (post_id, sequence_no). Unlike the reference's
    * UPDATE — which forgets to refresh `magnitude` (`VectorTable.php:361`,
    * documented bug) — all derived columns are recomputed. Rows matching an
    * existing key KEEP that key's id (the reference's UPDATE branch returns
    * the existing id, `VectorTable.php:370`); new keys get fresh ids past
    * the current max. Each row lands in its own bucket
    * (hash(post_id) % buckets), and every touched bucket is rewritten in
    * the same committed batch ([[rewrite]]), so a multi-bucket upsert can
    * neither duplicate rows across bucket directories nor land in some
    * buckets only. */
  def upsert(updates: DataFrame): Unit = {
    val prepared = withDerived(updates)
    val maxId = Option(read().agg(max(col("id"))).first().get(0)).fold(0L)(_.asInstanceOf[Long])
    val newKeys = updates.select(col("post_id").as("__np"), col("sequence_no").as("__ns")).distinct()
    rewrite(bucketSet(updates.select(bucketOf(col("post_id"))))) { cur =>
      // every existing row of an updated key lives in a touched bucket,
      // so the key join reads the rewrite's own pruned buckets only
      val existing = cur.select(col("post_id"), col("sequence_no"),
        col("id").as("__old_id"), col("created_at").as("__old_created_at"))
      val joined = prepared.join(existing, Seq("post_id", "sequence_no"), "left")
      val kept = joined.filter(col("__old_id").isNotNull)
        .withColumn("id", col("__old_id"))
        // an UPDATE keeps the row's original creation time (only updated_at
        // moves — the reference's timestamp semantics, VectorTable.php:478-479)
        .withColumn("created_at", coalesce(col("__old_created_at"), col("created_at")))
        .drop("__old_id", "__old_created_at")
      val fresh = assignIds(
        joined.filter(col("__old_id").isNull).drop("__old_id", "__old_created_at"), maxId + 1)
      cur.join(broadcast(newKeys),
          cur("post_id") === col("__np") && cur("sequence_no") === col("__ns"), "left_anti")
        .unionByName(withBucket(kept.unionByName(fresh)).select(cur.columns.map(col).toSeq: _*))
    }
  }

  /** S8 replace-all-per-key: delete post's rows then insert the new set
    * (`VectorTable.php:401-425` does DELETE + row-at-a-time inserts).
    * Like upsert: ids assigned past the current max, one committed batch
    * over the post's bucket and the new rows' buckets. */
  def insertAll(postId: Long, rows: DataFrame): Unit = {
    val maxId = Option(read().agg(max(col("id"))).first().get(0)).fold(0L)(_.asInstanceOf[Long])
    val fresh = withBucket(assignIds(withDerived(rows), maxId + 1))
    // the post's bucket in the store's own post_id type (hash is type-sensitive)
    val postBucket = spark.range(1)
      .select(bucketOf(lit(postId).cast(read().schema("post_id").dataType)))
    rewrite(bucketSet(rows.select(bucketOf(col("post_id"))).union(postBucket))) { cur =>
      cur.filter(col("post_id") =!= postId)
        .unionByName(fresh.select(cur.columns.map(col).toSeq: _*), allowMissingColumns = true)
    }
  }

  /** S9 point delete (anti-join rewrite of the touched bucket). */
  def delete(id: Long): Unit =
    rewrite(bucketSet(read().filter(col("id") === id).select(col("bucket"))))(
      _.filter(col("id") =!= id))

  /** S9 at pipeline scale: set-oriented bulk delete. Resolves the buckets
    * holding the id set, then rewrites each TOUCHED bucket once, all in
    * one job and one committed batch — a per-id [[delete]] loop costs
    * |ids| read+rewrite passes, this costs one pass over the touched
    * buckets regardless of how many ids fall in each (a crawl
    * decommission deletes millions of ids, not one). Only ids travel —
    * never vectors — and untouched buckets are never opened. */
  def deleteMany(ids: DataFrame): Unit = {
    require(ids.columns.contains("id"),
      s"deleteMany needs an `id` column, got [${ids.columns.mkString(",")}]")
    val idSet = ids.select(col("id"))
    rewrite(bucketSet(read().join(idSet, Seq("id"), "left_semi").select(col("bucket"))))(
      _.join(idSet, Seq("id"), "left_anti"))
  }

  /** [[deleteMany]] over a driver-side id list (the small-batch admin path). */
  def deleteMany(ids: Seq[Long]): Unit = deleteMany(ids.toDF("id"))

  /** Predicate-scoped bulk delete: resolve the matching ids with ONE
    * store read, then delete them through the bucket-grouped
    * [[deleteMany]] path. `deleteWhere(col("vector_type") === "old")`
    * is the decommission-a-model call a pipeline actually makes — the
    * predicate benefits from pushdown/pruning on the resolve scan, and
    * only ids travel from there on. */
  def deleteWhere(predicate: Column): Unit =
    deleteMany(read().filter(predicate).select(col("id")))

  /** Discard the staging a mutation that died before its commit left
    * behind ([[LayoutFs.discardBatch]]; a committed batch rolls forward
    * instead). It is hidden, so readers never see it — a SPACE leak, not
    * a correctness one — and the next mutation discards it too; this is
    * the call for a store that stops mutating. Never runs concurrently
    * with a mutation (same single-writer discipline as the mutations
    * themselves). Returns the number of directories removed. */
  def vacuum(): Int = if (LayoutFs.discardBatch(fs, new Path(path))) 1 else 0

  /** Per-bucket part-file counts — the [[graft.sources.IvfIndex.fileStats]]
    * observability surface on the primary table, making the store's
    * no-compaction claim CHECKABLE instead of asserted.
    *
    * Why there is no `compact()` here while every append-layout sibling
    * (IvfIndex, InvertedIndex, QueryStore, NgramLm) carries one: those
    * layouts grow by APPENDING part-files into live directories, so
    * steady-state mutation accretes files until a compactor folds them.
    * This store's mutations ([[rewrite]]) instead READ the whole touched
    * buckets, transform them, and atomically swap freshly written
    * directories into place — every mutation IS a compaction of the
    * buckets it touches: the rewrite is repartitioned by bucket, so each
    * touched bucket comes back as exactly one file, and file count never
    * grows with mutation count. A sustained imbalance here
    * means bucket skew (one post_id hash bucket outgrowing the rest),
    * answered by re-bucketing into a new store, not by compaction.
    * Recovers crashed swaps first, like every sibling stats call — a
    * listing taken mid-crash-window would count a hidden backup's
    * absence as an empty bucket. */
  def fileStats(): DataFrame = {
    layout.recover()
    layout.partFiles(path, "bucket").map(r => (r._1, r._2)).toDF("bucket", "n_files")
      .orderBy(col("bucket"))
  }

  /** Consistent on-disk snapshot of the whole store — bucket
    * directories and the prefix-dims meta ([[LayoutFs.Live.snapshot]]),
    * after recovery (crashed swaps, a committed batch); the snapshot then
    * discards an uncommitted batch (hidden mutation debris
    * is space, not state — a snapshot should not ship it). Open the copy
    * with `new EmbeddingStore(spark, target)`. */
  def snapshot(targetPath: String): Unit = layout.snapshot(targetPath)

  /** Bulk load: derive columns, assign ids, bucket, and replace the
    * whole store — every bucket and the meta — as one committed batch. */
  def bulkLoad(raw: DataFrame): Unit = {
    val df = withBucket(assignIds(withDerived(raw)))
    layout.commit { b =>
      b.stageRows("", Some("bucket"), df)
      effectivePrefixDims.foreach(stageMeta(b, _))
    }
  }

  private def withBucket(df: DataFrame): DataFrame =
    df.withColumn("bucket", bucketOf(col("post_id")))

  private def bucketSet(buckets: DataFrame): Seq[Int] =
    buckets.distinct().as[Int].collect().toSeq.sorted

  /** Rewrite the given buckets as ONE committed batch
    * ([[LayoutFs.Batch.rewriteParts]]): one partition-pruned read of exactly
    * those buckets, `transform`, and one write repartitioned by bucket.
    * The untouched (numBuckets - |buckets|) directories are never read
    * or written — at 100 TB that's the difference between a point update
    * and a full-table rewrite. A bucket is the unit the numBuckets sizing
    * contract keeps single-task-sized (point lookups read it whole), so
    * each one lands wholly in one task and comes back as ONE file: the
    * rewrite IS a compaction, and file count per touched bucket is
    * exactly 1 after any mutation, never a function of mutation history
    * ([[fileStats]] makes this checkable). The live buckets stay in
    * place until the write has finished, so the transform may read the
    * store freely. */
  private def rewrite(buckets: Seq[Int])(transform: DataFrame => DataFrame): Unit = {
    val live = read()
    layout.commit { b =>
      b.rewriteParts("", "bucket", buckets, live)(cur => transform(cur).repartition(col("bucket")))
      // persist the prefix setting on stores that predate it (bulkLoad
      // wrote it for fresh stores) so LATER handles without the parameter
      // keep deriving the column instead of splitting the schema
      effectivePrefixDims.filter(_ => !fs.exists(metaPath)).foreach(stageMeta(b, _))
    }
  }
}
