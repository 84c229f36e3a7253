package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Store CRUD over a real temp-dir Parquet layout, focused on the
  * bucket-rewrite correctness bugs the per-bucket design can hide:
  * multi-bucket upsert must neither duplicate rows across bucket dirs nor
  * misplace them, updated keys keep ids, fresh ids continue past max. */
class EmbeddingStoreSuite extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val numBuckets = 4

  private def raw(rows: (Long, Int, Seq[Float])*): DataFrame =
    rows.toDF("post_id", "sequence_no", "vector")
      .withColumn("vector_type", lit("test-model"))

  private def freshStore(): (EmbeddingStore, String) = {
    val dir = Files.createTempDirectory("graft_store_test").toString
    val store = new EmbeddingStore(spark, s"$dir/emb", numBuckets)
    store.bulkLoad(raw(
      (1L, 0, Seq(1f, -2f, 3f)), (1L, 1, Seq(0.5f, 0.5f, -1f)),
      (2L, 0, Seq(-1f, -1f, 4f)), (3L, 0, Seq(2f, 0f, 0f)),
      (4L, 0, Seq(0f, 1f, 1f)), (5L, 0, Seq(3f, 3f, 3f))))
    (store, dir)
  }

  private def keyIds(store: EmbeddingStore): Map[(Long, Int), Long] =
    store.read().select("post_id", "sequence_no", "id").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap

  test("bulkLoad assigns dense unique ids in (post_id, sequence_no) order") {
    val (store, _) = freshStore()
    val ids = store.read().orderBy("post_id", "sequence_no")
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(ids == (1L to 6L), s"got $ids")
    assert(store.count() == 6)
  }

  test("derived columns materialized at write (magnitude, binary_code, normalized)") {
    val (store, _) = freshStore()
    val r = store.get(1L, 0).head()
    val mag = r.getAs[Double]("magnitude")
    assert(math.abs(mag - math.sqrt(1 + 4 + 9)) < 1e-6)
    val packed = r.getSeq[Long](r.fieldIndex("binary_code"))
    assert(packed == Seq(5L), "signs of (1,-2,3) = bits 0 and 2 -> 0b101")
    val nv = r.getSeq[Double](r.fieldIndex("normalized_vector"))
    assert(math.abs(math.sqrt(nv.map(x => x * x).sum) - 1.0) < 1e-6)
  }

  test("prefixDims materializes vector_prefix at write and through upserts") {
    val dir = Files.createTempDirectory("graft_store_prefix").toString
    val store = new EmbeddingStore(spark, s"$dir/emb", numBuckets, prefixDims = Some(2))
    store.bulkLoad(raw((1L, 0, Seq(1f, -2f, 3f)), (2L, 0, Seq(-1f, -1f, 4f))))
    def prefixes = store.read().select("post_id", "vector_prefix").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(prefixes == Map(1L -> Seq(1f, -2f), 2L -> Seq(-1f, -1f)), s"got $prefixes")
    // an upsert rewrite must re-derive the prefix for changed rows
    store.upsert(raw((1L, 0, Seq(9f, 8f, 7f))))
    assert(prefixes == Map(1L -> Seq(9f, 8f), 2L -> Seq(-1f, -1f)), s"got $prefixes")
  }

  test("prefixDims survives the store handle: a prefix-less reopen keeps deriving it") {
    val dir = Files.createTempDirectory("graft_store_prefix_meta").toString
    new EmbeddingStore(spark, s"$dir/emb", numBuckets, prefixDims = Some(2))
      .bulkLoad(raw((1L, 0, Seq(1f, -2f, 3f)), (2L, 0, Seq(-1f, -1f, 4f))))
    // reopen WITHOUT the parameter — the persisted metadata must win, or a
    // rewrite would drop vector_prefix from touched buckets only
    val reopened = new EmbeddingStore(spark, s"$dir/emb", numBuckets)
    reopened.upsert(raw((1L, 0, Seq(9f, 8f, 7f))))
    val prefixes = reopened.read().select("post_id", "vector_prefix").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(prefixes == Map(1L -> Seq(9f, 8f), 2L -> Seq(-1f, -1f)), s"got $prefixes")
    // a CONFLICTING explicit value must fail loudly, not split the schema
    val e = intercept[IllegalArgumentException] {
      new EmbeddingStore(spark, s"$dir/emb", numBuckets, prefixDims = Some(3))
        .upsert(raw((2L, 0, Seq(5f, 5f, 5f))))
    }
    assert(e.getMessage.contains("prefixDims"))
  }

  test("S1: getAll honors the reference's export cap and the uncapped variant") {
    val (store, _) = freshStore()
    assert(store.getAll(Some(3)).count() == 3)
    assert(store.getAll(None).count() == 6)
    assert(store.getAll().count() == 6, "default 100k cap is above the table size")
  }

  test("reads: byId, byIds order-preserving, get, allForPost, latestUpdated") {
    val (store, _) = freshStore()
    assert(store.byId(3L).head().getAs[Long]("post_id") == 2L)
    val ordered = store.byIds(Seq(5L, 1L, 4L)).select("id").collect().map(_.getLong(0)).toSeq
    assert(ordered == Seq(5L, 1L, 4L), "ORDER BY FIELD semantics")
    assert(store.byIds(Nil).count() == 0)
    assert(store.allForPost(1L).count() == 2)
    assert(store.latestUpdated(1L).count() == 1)
  }

  test("S7 upsert across buckets: no duplication, no misplacement, ids preserved/continued") {
    val (store, _) = freshStore()
    val before = keyIds(store)
    val beforeCreated = store.read().select("post_id", "sequence_no", "created_at").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getTimestamp(2)).toMap
    // posts 1..5 hash into several of the 4 buckets; update two existing
    // keys and insert two new ones in one upsert
    store.upsert(raw(
      (1L, 0, Seq(9f, 9f, 9f)),   // existing key -> keep id
      (3L, 0, Seq(-9f, 1f, 1f)),  // existing key -> keep id
      (2L, 1, Seq(7f, 7f, 7f)),   // new key
      (6L, 0, Seq(1f, 1f, 1f)))) // new post entirely
    val after = store.read()

    assert(after.count() == 8, "6 + 2 new rows, no cross-bucket duplicates")
    val dupKeys = after.groupBy("post_id", "sequence_no").count().filter($"count" > 1).count()
    assert(dupKeys == 0, "one row per (post_id, sequence_no)")
    val dupIds = after.groupBy("id").count().filter($"count" > 1).count()
    assert(dupIds == 0, "ids unique across buckets")

    val ids = keyIds(store)
    assert(ids((1L, 0)) == before((1L, 0)), "updated row keeps its id")
    assert(ids((3L, 0)) == before((3L, 0)))
    assert(Set(ids((2L, 1)), ids((6L, 0))) == Set(7L, 8L), "fresh ids continue past max")

    val v = store.get(1L, 0).head()
    assert(v.getSeq[Float](v.fieldIndex("vector")) == Seq(9f, 9f, 9f), "payload updated")
    assert(math.abs(v.getAs[Double]("magnitude") - math.sqrt(243.0)) < 1e-6,
      "magnitude refreshed on update (unlike the reference's UPDATE bug)")
    assert(v.getAs[java.sql.Timestamp]("created_at") ==
      beforeCreated((1L, 0)), "UPDATE keeps the original created_at")
    assert(store.get(2L, 1).head().getAs[java.sql.Timestamp]("created_at") != null)

    // every row physically lives in the bucket dir its post_id hashes to
    val misplaced = after
      .withColumn("expected", pmod(hash($"post_id"), lit(numBuckets)))
      .filter($"bucket" =!= $"expected").count()
    assert(misplaced == 0, "rows only in their own hash bucket")
  }

  test("S8 insertAll replaces every row of the post and nothing else") {
    val (store, _) = freshStore()
    store.insertAll(1L, raw((1L, 0, Seq(5f, 5f, 5f))))
    assert(store.allForPost(1L).count() == 1, "both old rows of post 1 gone")
    assert(store.count() == 5)
    assert(store.allForPost(2L).count() == 1, "other posts untouched")
  }

  test("S9 delete removes exactly one row by id") {
    val (store, _) = freshStore()
    store.delete(2L)
    assert(store.count() == 5)
    assert(store.byId(2L).count() == 0)
    assert(store.byId(1L).count() == 1)
  }

  test("S9 deleteMany: ids spanning several buckets, one pass, exact removal") {
    val (store, _) = freshStore()
    // posts 1..5 hash across the 4 buckets; delete three rows from
    // (potentially) distinct buckets plus one id that doesn't exist
    store.deleteMany(Seq(1L, 4L, 6L, 999L))
    assert(store.count() == 3)
    assert(Seq(1L, 4L, 6L).forall(store.byId(_).count() == 0))
    assert(Seq(2L, 3L, 5L).forall(store.byId(_).count() == 1), "survivors intact")
    // surviving rows keep their original ids and derived columns
    val r = store.byId(3L).head()
    assert(r.getAs[Long]("id") == 3L)
    assert(r.getAs[Double]("magnitude") > 0.0)
  }

  test("S9 deleteMany with an empty and a no-match id set is a no-op") {
    val (store, _) = freshStore()
    store.deleteMany(Seq.empty[Long])
    store.deleteMany(Seq(777L))
    assert(store.count() == 6)
    val e = intercept[IllegalArgumentException] {
      store.deleteMany(Seq(1L).toDF("wrong_name"))
    }
    assert(e.getMessage.contains("id"))
  }

  test("deleteWhere scopes the bulk delete by predicate; vacuum sweeps crash leftovers") {
    val (store, dir) = freshStore()
    store.deleteWhere(col("post_id") >= 4L)
    assert(store.count() == 4)
    assert(store.allForPost(4L).count() == 0 && store.allForPost(5L).count() == 0)
    assert(store.allForPost(1L).count() == 2, "non-matching posts untouched")
    // plant the crash leftover a died mutation can leave: an uncommitted
    // batch — a staged bucket and a half-written swap list, no marker
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/emb/.commit/bucket=2"))
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/emb/.commit/_batch")).close()
    assert(store.count() == 4, "reads leave an uncommitted batch alone")
    assert(store.vacuum() == 1, "the stale batch removed")
    assert(store.vacuum() == 0, "idempotent")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/emb/.commit")))
    assert(store.count() == 4, "vacuum never touches live buckets")
  }

  test("S9 deleteMany equals a per-id delete loop on the same id set") {
    val (a, _) = freshStore()
    val (b, _) = freshStore()
    val ids = Seq(2L, 5L)
    a.deleteMany(ids)
    ids.foreach(b.delete)
    val rows = (s: EmbeddingStore) => s.read()
      .select("id", "post_id", "sequence_no").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(rows(a) == rows(b))
  }

  test("typed() exposes the store as Dataset[Embedding]") {
    val (store, _) = freshStore()
    val ds = store.typed()
    val one = ds.filter(_.post_id == 1L).collect().sortBy(_.sequence_no)
    assert(one.length == 2)
    assert(one(0).vector.toSeq == Seq(1f, -2f, 3f))
    assert(one(0).binary_code.toSeq == Seq(5L))
    assert(ds.count() == 6)
  }

  /** The store's root and filesystem. */
  private def rootOf(store: EmbeddingStore) = {
    val root = new org.apache.hadoop.fs.Path(store.storePath)
    (root, root.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  /** Leave `bucket=b` between its publish swap's two renames
    * ([[CrashStates.midSwap]]): the live dir gone, its rows parked in
    * the hidden backup and staged in a committed batch. */
  private def crashMidSwap(store: EmbeddingStore, b: Int): Unit = {
    val (root, fs) = rootOf(store)
    CrashStates.midSwap(fs, root, s"bucket=$b")
  }

  test("crash recovery: a swap that died between renames is restored on the next mutation") {
    val (store, dir) = freshStore()
    val before = store.count()
    // pick a victim bucket and one of its posts BEFORE breaking the layout
    val byBucket = store.read()
      .withColumn("b", pmod(hash($"post_id"), lit(numBuckets)))
      .select("b", "post_id").collect().map(r => r.getInt(0) -> r.getLong(1))
    val (b, postInBucket) = byBucket.head
    val nPostRows = byBucket.count(_._2 == postInBucket)
    val bak = java.nio.file.Paths.get(s"$dir/emb/.bucket=$b.bak")
    crashMidSwap(store, b)
    // any mutation touching that bucket must first roll it forward
    store.insertAll(postInBucket, raw((postInBucket, 0, Seq(1f, 1f, 1f))))
    assert(store.count() == before - nPostRows + 1,
      "recovered rows participate in the mutation; nothing else lost")
    assert(!java.nio.file.Files.exists(bak), "hidden backup consumed by recovery")
  }

  test("crash recovery sweep: reads and UNRELATED mutations restore a hidden bucket eagerly") {
    val (store, dir) = freshStore()
    val before = keyIds(store)
    val byBucket = store.read()
      .withColumn("b", pmod(hash($"post_id"), lit(numBuckets)))
      .select("b", "post_id", "sequence_no").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2)))
    val (b, hiddenPost, hiddenSeq) = byBucket.head
    val bak = java.nio.file.Paths.get(s"$dir/emb/.bucket=$b.bak")
    crashMidSwap(store, b)
    // a plain read must already see the recovered rows (no mutation needed)
    assert(store.count() == 6, "read() rolls the batch forward and drops the backup")
    assert(!java.nio.file.Files.exists(bak))

    // and after a crash, upserting the ONCE-HIDDEN key must treat it as
    // existing: same id, no id churn / collision with fresh ids
    crashMidSwap(store, b)
    store.upsert(raw((hiddenPost, hiddenSeq, Seq(8f, 8f, 8f))))
    val after = keyIds(store)
    assert(after((hiddenPost, hiddenSeq)) == before((hiddenPost, hiddenSeq)),
      "key hidden by the crash keeps its id through the next upsert")
    assert(store.read().groupBy("id").count().filter($"count" > 1).count() == 0)
    assert(store.count() == 6)
  }

  /** The file scans of every query `body` executed, AQE stages included. */
  private def scansDuring(body: => Unit): Seq[FileSourceScanExec] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; org.apache.spark.TestListenerBus.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    plans.toArray(Array.empty[SparkPlan]).toSeq
      .flatMap(collectWithSubqueries(_) { case s: FileSourceScanExec => s })
  }

  test("upsert plans its key join over the touched bucket's files only") {
    val dir = Files.createTempDirectory("graft_store_pruned_upsert").toString
    val store = new EmbeddingStore(spark, s"$dir/emb", numBuckets = 8)
    store.bulkLoad(raw((1L to 16L).map(p => (p, 0, Seq(p.toFloat, 1f, 0f))): _*))
    val bucket = store.byId(keyIds(store)((3L, 0))).select("bucket").as[Int].head()
    val before = keyIds(store)
    val scans = scansDuring(store.upsert(raw((3L, 0, Seq(9f, 9f, 9f)), (3L, 1, Seq(1f, 1f, 1f)))))
    // the store scans that read the key columns: the rewrite's own read
    // of the touched bucket, which now also feeds the key join (the
    // global max(id) reads the id column alone)
    val keyScans = scans.filter(s => s.output.exists(_.name == "sequence_no") &&
      s.relation.location.rootPaths.exists(_.toString.endsWith("/emb")))
    assert(keyScans.nonEmpty, "the upsert must scan the store's key columns")
    keyScans.foreach { s =>
      val pf = s.metadata("PartitionFilters")
      val buckets = """bucket#\d+ = (\d+)""".r.findAllMatchIn(pf).map(_.group(1).toInt).toSet
      assert(buckets == Set(bucket), s"the key join must read bucket $bucket only: $pf")
    }
    val after = keyIds(store)
    assert(after((3L, 0)) == before((3L, 0)), "the updated key keeps its id")
    assert(after((3L, 1)) == 17L, "the fresh key continues past the global max id")
    assert(after.size == 17)
  }

  test("upsert on rows spanning ALL buckets keeps per-bucket row sets disjoint") {
    val (store, _) = freshStore()
    // touch every post -> likely every bucket in one mutation
    store.upsert(raw((1L to 6L).map(p => (p, 9, Seq(p.toFloat, 0f, 0f))): _*))
    val after = store.read()
    assert(after.count() == 12, "6 original + 6 new sequence_no=9 rows")
    assert(after.groupBy("id").count().filter($"count" > 1).count() == 0)
    assert(after.filter($"sequence_no" === 9).count() == 6)
  }

  test("fileStats: one file per touched bucket after a mutation burst — compaction is structural") {
    val (store, _) = freshStore()
    // a burst across every mutation kind: upserts (update + fresh),
    // replace-all, point + bulk deletes — the paths that would accrete
    // part-files in an append layout
    store.upsert(raw((1L, 0, Seq(9f, 9f, 9f)), (6L, 0, Seq(1f, 1f, 1f))))
    store.upsert(raw((1L to 6L).map(p => (p, 5, Seq(p.toFloat, 1f, 0f))): _*))
    store.insertAll(2L, raw((2L, 0, Seq(7f, 7f, 7f)), (2L, 1, Seq(8f, 8f, 8f))))
    store.delete(keyIds(store)((3L, 0)))
    store.deleteMany(Seq(keyIds(store)((4L, 0))))
    val stats = store.fileStats().collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    // the second upsert touched every post, hence every live bucket:
    // each rewrite swapped in a coalesced single-file directory
    assert(stats.nonEmpty && stats.values.forall(_ == 1),
      s"every touched bucket holds exactly one part-file, got $stats")
    // the store state survived the burst intact
    assert(store.read().groupBy("id").count().filter($"count" > 1).count() == 0)
    assert(store.get(2L, 0).head().getSeq[Float](
      store.read().schema.fieldIndex("vector")) == Seq(7f, 7f, 7f))
    assert(store.read().filter($"post_id" === 3 && $"sequence_no" === 0).count() == 0)
  }

  test("snapshot: byte-faithful copy, sides independent, debris retried, exists refused (X290)") {
    val (store, dir) = freshStore()
    def state(s: EmbeddingStore) = s.read()
      .select("id", "post_id", "sequence_no").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = state(store)
    store.snapshot(s"$dir/a")
    val a = new EmbeddingStore(spark, s"$dir/a", numBuckets)
    assert(state(a) === want, "snapshot must read exactly like the source")
    a.deleteMany(Seq(1L))
    assert(state(store) === want, "source must not see the copy's delete")
    assert(!state(a).exists(_._1 == 1L))
    intercept[IllegalArgumentException](store.snapshot(s"$dir/a"))
    // crash debris: a hidden prior staging never blocks a clean retry
    val stale = new java.io.File(s"$dir/.b.snapstaging/junk")
    stale.getParentFile.mkdirs()
    java.nio.file.Files.write(stale.toPath, Array[Byte](1))
    store.snapshot(s"$dir/b")
    assert(state(new EmbeddingStore(spark, s"$dir/b", numBuckets)) === want)
    assert(!new java.io.File(s"$dir/.b.snapstaging").exists())
    // the copy carries no hidden mutation debris (vacuumed pre-copy)
    assert(!new java.io.File(s"$dir/b/.staging").exists())
  }

  test("read() passes the inferred schema: same fields in the same order, with and without prefixDims") {
    val (plain, _) = freshStore()
    val dir = Files.createTempDirectory("graft_store_schema").toString
    val prefixed = new EmbeddingStore(spark, s"$dir/emb", numBuckets, prefixDims = Some(2))
    prefixed.bulkLoad(raw((1L, 0, Seq(1f, -2f, 3f)), (2L, 0, Seq(-1f, -1f, 4f))))
    for (store <- Seq(plain, prefixed)) {
      val inferred = spark.read.parquet(store.storePath).schema.fields.toSeq
      assert(store.read().schema.fields.toSeq == inferred)
      assert(store.read().schema.fields.toSeq == inferred, "memoized schema drifted")
    }
    assert(prefixed.read().columns.contains("vector_prefix"))
    assert(!plain.read().columns.contains("vector_prefix"))
  }

  test("read() sees every mutation through its memoized schema: second-handle overwrite, upsert, deleteMany") {
    val (store, dir) = freshStore()
    assert(store.count() == 6)
    // a second handle overwrites the store with another row set and an
    // extra column: both the rows and the new schema must show
    new EmbeddingStore(spark, s"$dir/emb", numBuckets).bulkLoad(
      raw((7L, 0, Seq(1f, 1f, 1f)), (8L, 0, Seq(2f, 2f, 2f))).withColumn("note", lit("x")))
    assert(store.read().select("post_id").as[Long].collect().toSet == Set(7L, 8L))
    assert(store.read().schema.fields.toSeq ==
      spark.read.parquet(store.storePath).schema.fields.toSeq)
    assert(store.read().columns.contains("note"))
    store.upsert(raw((9L, 0, Seq(3f, 3f, 3f))).withColumn("note", lit("y")))
    assert(store.read().select("post_id").as[Long].collect().toSet == Set(7L, 8L, 9L))
    store.deleteMany(store.read().filter($"post_id" === 7L).select("id"))
    assert(store.read().select("post_id").as[Long].collect().toSet == Set(8L, 9L))
  }

  test("read() restores a crashed swap's hidden bucket before reading, memoized schema or not") {
    val (store, dir) = freshStore()
    val want = keyIds(store) // warms the schema memo
    val b = store.read().select(pmod(hash($"post_id"), lit(numBuckets))).as[Int].head()
    val victim = java.nio.file.Paths.get(s"$dir/emb/bucket=$b")
    val bak = victim.resolveSibling(s".bucket=$b.bak")
    crashMidSwap(store, b)
    assert(keyIds(store) == want, "the hidden bucket's rows are back")
    assert(!Files.exists(bak) && Files.exists(victim))
  }

  test("a store left between a publish swap's two renames opens with one rename") {
    FaultyFs.install(spark)
    val dir = Files.createTempDirectory("graft_store_midswap").toString
    val plan = FaultyFs.plan(dir)
    val path = FaultyFs.uri(s"$dir/emb")
    val store = new EmbeddingStore(spark, path, numBuckets)
    store.bulkLoad(raw((1L, 0, Seq(1f, -2f, 3f)), (2L, 0, Seq(-1f, -1f, 4f))))
    val want = keyIds(store)
    crashMidSwap(store, store.read().select("bucket").as[Int].head())
    plan.reset()
    // publishing first renames the staged bucket into the missing live
    // path; restoring the backup first would rename it back, then back
    // it up again for the swap: 3 renames
    assert(keyIds(new EmbeddingStore(spark, path, numBuckets)) == want)
    assert(plan.count("rename") == 1L, s"renames: ${plan.count("rename")}")
    FaultyFs.drop(dir)
  }
}
