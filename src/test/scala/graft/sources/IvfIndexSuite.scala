package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.Ann

/** The persisted IVF index must be a pure I/O optimization: identical
  * results to the in-memory probe path, with the probe set reaching the
  * file listing as partition filters. */
class IvfIndexSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(7)
  private val vecs: Seq[(Long, Array[Float])] =
    (1L to 64L).map(i => i -> Array.fill(8)(rnd.nextFloat() * 2f - 1f))
  private lazy val embs = vecs.toDF("vec_id", "embedding")
  private lazy val cents: Seq[Array[Float]] = vecs.take(4).map(_._2)
  private val query: Array[Float] = Array.fill(8)(0.5f)

  private def freshIndex(): IvfIndex = {
    val dir = Files.createTempDirectory("graft_ivf_test").toString
    val idx = new IvfIndex(spark, s"$dir/ivf")
    idx.build(embs, "vec_id", "embedding", cents)
    idx
  }

  private def rootOf(idx: IvfIndex) = new org.apache.hadoop.fs.Path(idx.indexPath)
  private def fsOf(idx: IvfIndex) =
    rootOf(idx).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A batch that stages the index's live `rels` by moving them into its
    * staging tree — the state a mutation that crashed after staging
    * them leaves behind (commit it with `markCommitted`). */
  private def stagedBatch(idx: IvfIndex, rels: String*): LayoutFs.Batch = {
    val (root, fs) = (rootOf(idx), fsOf(idx))
    val batch = LayoutFs.batch(fs, root)
    rels.foreach(rel => batch.stage(rel) { staged =>
      fs.mkdirs(staged.getParent)
      assert(fs.rename(new org.apache.hadoop.fs.Path(root, rel), staged), s"test setup: stage $rel")
    })
    batch
  }

  private def hasBatch(idx: IvfIndex): (Boolean, Boolean) = {
    val (root, fs) = (rootOf(idx), fsOf(idx))
    (fs.exists(new org.apache.hadoop.fs.Path(root, ".commit")),
      fs.exists(new org.apache.hadoop.fs.Path(root, ".committed")))
  }

  test("stored centroids round-trip in cid order") {
    val got = freshIndex().centroids()
    assert(got.size == cents.size)
    got.zip(cents).foreach { case (a, b) => assert(a.toSeq == b.toSeq) }
  }

  test("searchWhere: pre-filter inside the probe — k survivors rank, post-filter would under-fill (X255)") {
    val idx = freshIndex()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val got = rows(idx.searchWhere(query, k = 10, nprobe = 2,
      col("id") % 3 === 1))
    assert(got.size == 10, "enough survivors -> exactly k results")
    assert(got.forall(_._1 % 3 == 1), "every hit satisfies the filter")
    // parity: the filtered probe ≡ brute-force over (probed ∩ filter),
    // with the probed membership read off the unfiltered full search
    val unfilteredProbe = rows(idx.search(query, k = 64, nprobe = 2))
      .map(_._1).toSet
    val expect = rows(Ann.bruteForceTopK(
      embs.filter(col("vec_id").isin(unfilteredProbe.toSeq: _*))
        .filter(col("vec_id") % 3 === 1),
      "vec_id", "embedding", query, k = 10))
    assert(got === expect,
      "filtered probe must equal brute force over (probed ∩ filter)")
    // the pre-filter advantage: post-filtering the unfiltered top-10
    // keeps fewer than k rows — the ES under-fill this API exists to fix
    val post = rows(idx.search(query, k = 10, nprobe = 2))
      .filter(_._1 % 3 == 1)
    assert(post.size < 10 && got.size == 10)
  }

  test("append parity: build(A) + append(B) searches identically to build(A ∪ B)") {
    val dir = Files.createTempDirectory("graft_ivf_append_test").toString
    val incremental = new IvfIndex(spark, s"$dir/inc")
    incremental.build(embs.filter($"vec_id" <= 32), "vec_id", "embedding", cents)
    incremental.append(embs.filter($"vec_id" > 32), "vec_id", "embedding")
    val full = freshIndex()
    for (nprobe <- Seq(1, 2, 4); k <- Seq(3, 10)) {
      val inc = incremental.search(query, k, nprobe)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val all = full.search(query, k, nprobe)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(inc == all, s"append diverged from full build at nprobe=$nprobe k=$k")
    }
    // a second append keeps compounding (the steady-state ingest loop)
    val more = Seq(100L -> Array.fill(8)(0.9f)).toDF("vec_id", "embedding")
    incremental.append(more, "vec_id", "embedding")
    val ids = incremental.search(query, 64 + 1, 4).collect().map(_.getLong(0))
    assert(ids.contains(100L), "the second batch's row must be probe-reachable")
  }

  test("delete parity: build(all) + delete(odds) searches identically to build(evens)") {
    val dir = Files.createTempDirectory("graft_ivf_delete_test").toString
    val deleted = new IvfIndex(spark, s"$dir/del")
    deleted.build(embs, "vec_id", "embedding", cents)
    deleted.delete(embs.filter($"vec_id" % 2 =!= 0).select($"vec_id".as("id")))
    val evens = new IvfIndex(spark, s"$dir/evens")
    evens.build(embs.filter($"vec_id" % 2 === 0), "vec_id", "embedding", cents)
    for (nprobe <- Seq(1, 2, 4); k <- Seq(3, 10)) {
      val got = deleted.search(query, k, nprobe)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val want = evens.search(query, k, nprobe)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == want, s"delete diverged from clean build at nprobe=$nprobe k=$k")
    }
    // the assignment sidecar is kept in sync: no deleted id survives in it
    val sidecar = spark.read.parquet(s"$dir/del/assign")
    assert(sidecar.filter($"id" % 2 =!= 0).count() == 0L,
      "deleted ids must be purged from the assignment sidecar")
    assert(sidecar.count() == embs.filter($"vec_id" % 2 === 0).count())
    // deleting ids that do not exist is a no-op
    val before = deleted.search(query, 10, 4).collect().toSeq
    deleted.delete(Seq(99999L).toDF("id"))
    assert(deleted.search(query, 10, 4).collect().toSeq == before)
    // a fully-emptied list keeps the search working
    deleted.delete(embs.select($"vec_id".as("id")))
    assert(deleted.search(query, 10, 4).count() == 0L)
  }

  test("delete discovery is bucket-pruned sidecar I/O — never a lists scan") {
    val dir = Files.createTempDirectory("graft_ivf_disc_test").toString
    val idx = new IvfIndex(spark, s"$dir/ivf")
    idx.build(embs, "vec_id", "embedding", cents)
    val ids = embs.filter($"vec_id" <= 8).select($"vec_id".as("id"))
    val buckets = ids
      .select(pmod(hash($"id".cast("string")), lit(16)).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    val frame = idx.touchedFrame(ids, s"$dir/ivf/assign", buckets)
    val scans = frame.queryExecution.sparkPlan
      .collect { case s: FileSourceScanExec => s }
    val assignScans = scans.filter(_.metadata("Location").contains("assign"))
    assert(assignScans.nonEmpty, "discovery must read the sidecar")
    assert(scans.size == assignScans.size,
      s"discovery must never scan the data layout:\n${frame.queryExecution.sparkPlan}")
    val scan = assignScans.head
    assert(scan.metadata("PartitionFilters").contains("abucket"),
      s"bucket set must prune at the partition level, got ${scan.metadata("PartitionFilters")}")
    val matched = scan.relation.location
      .listFiles(scan.partitionFilters, scan.dataFilters).size
    assert(matched == buckets.size,
      s"only the deletion set's $buckets buckets should be listed, got $matched")
    // and the discovery answer is right: exactly the lists holding ids 1..8
    val want = Ann.ivfAssign(embs.select($"vec_id".as("id"), $"embedding".as("vector")),
        "vector", cents)
      .filter($"id" <= 8).select($"ivf_list").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(frame.select($"ivf_list").distinct()
      .collect().map(_.getInt(0)).toSet == want)
  }

  test("a pre-sidecar layout falls back to full-scan discovery and stays correct") {
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("graft_ivf_fallback_test").toString
    val idx = new IvfIndex(spark, s"$dir/ivf")
    idx.build(embs, "vec_id", "embedding", cents)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(s"$dir/ivf/assign"), true)
    fs.delete(new Path(s"$dir/ivf/assign_meta"), true)
    idx.delete(embs.filter($"vec_id" % 2 =!= 0).select($"vec_id".as("id")))
    val evens = new IvfIndex(spark, s"$dir/evens")
    evens.build(embs.filter($"vec_id" % 2 === 0), "vec_id", "embedding", cents)
    assert(idx.search(query, 10, 4).collect().map(_.getLong(0)).toSeq
      == evens.search(query, 10, 4).collect().map(_.getLong(0)).toSeq)
  }

  test("append after a crashed delete swap restores the backup — no silent data loss") {
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("graft_ivf_appcrash_test").toString
    val idx = new IvfIndex(spark, s"$dir/ivf")
    idx.build(embs, "vec_id", "embedding", cents)
    // the new row's vector is centroid 0, so its list is deterministic —
    // make THAT list the victim of the simulated half-done delete swap
    val newVec = cents.head
    val victim = Ann.ivfAssign(Seq(200L -> newVec).toDF("id", "vector"),
        "vector", cents).select($"ivf_list").head().getInt(0)
    val members = Ann.ivfAssign(
        embs.select($"vec_id".as("id"), $"embedding".as("vector")), "vector", cents)
      .filter($"ivf_list" === victim).select($"id")
      .collect().map(_.getLong(0)).toSet
    assert(members.nonEmpty)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lists = s"$dir/ivf/lists"
    assert(fs.rename(new Path(lists, s"ivf_list=$victim"),
      new Path(lists, s".ivf_list=$victim.bak")))
    // an earlier version's lone swap left the backup: a process of this
    // version opens the index afresh
    val reopened = new IvfIndex(spark, s"$dir/ivf")
    reopened.append(Seq(200L -> newVec).toDF("vec_id", "embedding"), "vec_id", "embedding")
    val got = reopened.search(query, 65, 4).collect().map(_.getLong(0)).toSet
    assert(members.subsetOf(got),
      "pre-crash rows of the backed-up list must survive the append")
    assert(got.contains(200L), "the appended row must be probe-reachable")
  }

  test("delete crash recovery: a half-done swap restores from the hidden backup") {
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("graft_ivf_crash_test").toString
    val idx = new IvfIndex(spark, s"$dir/ivf")
    idx.build(embs, "vec_id", "embedding", cents)
    val before = idx.search(query, 10, 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // simulate a crash between the two renames: live dir gone, backup left
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lists = s"$dir/ivf/lists"
    val victim = fs.globStatus(new Path(lists, "ivf_list=*")).head.getPath
    assert(fs.rename(victim, new Path(lists, "." + victim.getName + ".bak")))
    // an earlier version's lone swap left the backup: a process of this
    // version opens the index afresh
    val after = new IvfIndex(spark, s"$dir/ivf").search(query, 10, 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(after == before, "search must restore the backed-up list first")
  }

  test("retrain: blue/green rebuild with Lloyd-updated centroids; old index untouched") {
    val dir = Files.createTempDirectory("graft_ivf_retrain_test").toString
    val idx = new IvfIndex(spark, s"$dir/ivf")
    idx.build(embs, "vec_id", "embedding", cents)
    val before = idx.search(query, 10, 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val next = idx.retrain(s"$dir/ivf2", iters = 2)
    // centroids are exactly lloydRounds warm-started from the stored ones
    val want = Ann.lloydRounds(
      embs.select($"vec_id".as("id"), $"embedding".as("vector")), "vector", cents, 2)
    next.centroids().zip(want).foreach { case (a, b) => assert(a.toSeq == b.toSeq) }
    // search parity vs a fresh build over the same corpus + centroids
    val fresh = new IvfIndex(spark, s"$dir/fresh")
    fresh.build(embs, "vec_id", "embedding", want)
    for (nprobe <- Seq(1, 4); k <- Seq(5, 10)) {
      assert(next.search(query, k, nprobe).collect().toSeq
        == fresh.search(query, k, nprobe).collect().toSeq,
        s"retrained index diverged at nprobe=$nprobe k=$k")
    }
    // blue/green: the source index is never touched
    assert(idx.search(query, 10, 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == before)
    intercept[IllegalArgumentException](idx.retrain(s"$dir/bad", iters = 0))
  }

  test("index search is bit-identical to the in-memory ivfTopK path") {
    val idx = freshIndex()
    for (nprobe <- Seq(1, 2, 4); k <- Seq(3, 10)) {
      val viaIndex = idx.search(query, k, nprobe)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val inMemory = Ann.ivfTopK(Ann.ivfAssign(embs, "embedding", cents),
          "vec_id", "embedding", cents, query, k, nprobe)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(viaIndex == inMemory, s"diverged at nprobe=$nprobe k=$k")
    }
  }

  test("PQ layout: searchPq is bit-identical to the in-memory ivfAdcTopK path") {
    val dir = Files.createTempDirectory("graft_ivfpq_test").toString
    val idx = new IvfIndex(spark, s"$dir/ivf")
    val books = graft.operators.Pq.seedCodebooks(embs, "vec_id", "embedding", m = 4, k = 4)
    idx.buildPq(embs, "vec_id", "embedding", cents, books)
    // stored codebooks round-trip
    val rt = idx.codebooks()
    assert(rt.length == books.length)
    rt.zip(books).foreach { case (a, b) =>
      a.zip(b).foreach { case (x, y) => assert(x.toSeq == y.toSeq) }
    }
    for (nprobe <- Seq(1, 2, 4); k <- Seq(3, 10)) {
      val viaIndex = idx.searchPq(query, k, nprobe)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val inMemory = graft.operators.Pq.ivfAdcTopK(embs, "vec_id", "embedding",
          cents, books, query, nprobe, k)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(viaIndex == inMemory, s"diverged at nprobe=$nprobe k=$k")
    }
    // the codes scan is partition-pruned AND never reads a vector column
    val frame = idx.searchPq(query, topK = 5, nprobe = 1)
    val scan = frame.queryExecution.sparkPlan
      .collect { case s: FileSourceScanExec => s }
      .find(_.metadata("Location").contains("codes"))
      .getOrElse(fail("no codes scan"))
    assert(scan.metadata("PartitionFilters").contains("ivf_list"))
    assert(!scan.metadata("ReadSchema").contains("vector"),
      "ADC must score codes, never the raw vectors")
  }

  test("buildWithPq ≡ build + buildPq: raw and ADC searches bit-identical") {
    import graft.operators.Pq
    val books = Pq.seedCodebooks(embs, "vec_id", "embedding", m = 4, k = 4)
    val d1 = Files.createTempDirectory("graft_ivf_two").toString
    val two = new IvfIndex(spark, s"$d1/ivf")
    two.build(embs, "vec_id", "embedding", cents)
    two.buildPq(embs, "vec_id", "embedding", cents, books)
    val d2 = Files.createTempDirectory("graft_ivf_one").toString
    val one = new IvfIndex(spark, s"$d2/ivf")
    one.buildWithPq(embs, "vec_id", "embedding", cents, books)
    def raw(i: IvfIndex) = i.search(query, k = 8, nprobe = cents.size)
      .orderBy("id").collect().toSeq
    def adc(i: IvfIndex) = i.searchPq(query, topK = 8, nprobe = cents.size)
      .orderBy("id").collect().toSeq
    assert(raw(one) === raw(two))
    assert(adc(one) === adc(two))
    assert(one.centroids().map(_.toSeq) === two.centroids().map(_.toSeq))
    // the shared-pass layout must keep the delete machinery honest too
    one.delete(Seq(3L, 9L).toDF("id"))
    two.delete(Seq(3L, 9L).toDF("id"))
    assert(raw(one) === raw(two))
  }

  test("PQ append parity: buildPq(evens) + appendPq(odds) ≡ buildPq(all)") {
    val dir = Files.createTempDirectory("graft_ivfpq_append_test").toString
    val books = graft.operators.Pq.seedCodebooks(embs, "vec_id", "embedding", m = 4, k = 4)
    val inc = new IvfIndex(spark, s"$dir/inc")
    inc.buildPq(embs.filter($"vec_id" % 2 === 0), "vec_id", "embedding", cents, books)
    inc.appendPq(embs.filter($"vec_id" % 2 =!= 0), "vec_id", "embedding")
    val full = new IvfIndex(spark, s"$dir/full")
    full.buildPq(embs, "vec_id", "embedding", cents, books)
    for (nprobe <- Seq(1, 2, 4); k <- Seq(3, 10)) {
      val got = inc.searchPq(query, k, nprobe)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val want = full.searchPq(query, k, nprobe)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == want, s"appendPq diverged from full buildPq at nprobe=$nprobe k=$k")
    }
    // a second append keeps compounding
    inc.appendPq(Seq(100L -> Array.fill(8)(0.9f)).toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    val ids = inc.searchPq(query, 64 + 1, 4).collect().map(_.getLong(0))
    assert(ids.contains(100L), "the second batch's row must be probe-reachable")
  }

  test("PQ delete parity: buildPq(all) + deletePq(odds) ≡ buildPq(evens)") {
    val dir = Files.createTempDirectory("graft_ivfpq_delete_test").toString
    val books = graft.operators.Pq.seedCodebooks(embs, "vec_id", "embedding", m = 4, k = 4)
    val del = new IvfIndex(spark, s"$dir/del")
    del.buildPq(embs, "vec_id", "embedding", cents, books)
    del.deletePq(embs.filter($"vec_id" % 2 =!= 0).select($"vec_id".as("id")))
    val evens = new IvfIndex(spark, s"$dir/evens")
    evens.buildPq(embs.filter($"vec_id" % 2 === 0), "vec_id", "embedding", cents, books)
    for (nprobe <- Seq(1, 2, 4); k <- Seq(3, 10)) {
      val got = del.searchPq(query, k, nprobe)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val want = evens.searchPq(query, k, nprobe)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == want, s"deletePq diverged from clean buildPq at nprobe=$nprobe k=$k")
    }
    // the PQ sidecar is kept in sync too
    val sidecar = spark.read.parquet(s"$dir/del/assign_pq")
    assert(sidecar.filter($"id" % 2 =!= 0).count() == 0L)
    // no-op delete, then empty the index entirely
    val before = del.searchPq(query, 10, 4).collect().toSeq
    del.deletePq(Seq(99999L).toDF("id"))
    assert(del.searchPq(query, 10, 4).collect().toSeq == before)
    del.deletePq(embs.select($"vec_id".as("id")))
    assert(del.searchPq(query, 10, 4).count() == 0L)
  }

  test("appendPq after a crashed deletePq swap restores the backup — no silent data loss") {
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("graft_ivfpq_appcrash_test").toString
    val books = graft.operators.Pq.seedCodebooks(embs, "vec_id", "embedding", m = 4, k = 4)
    val idx = new IvfIndex(spark, s"$dir/ivf")
    idx.buildPq(embs, "vec_id", "embedding", cents, books)
    val newVec = cents.head
    val victim = Ann.ivfAssign(Seq(200L -> newVec).toDF("id", "vector"),
        "vector", cents).select($"ivf_list").head().getInt(0)
    val members = Ann.ivfAssign(
        embs.select($"vec_id".as("id"), $"embedding".as("vector")), "vector", cents)
      .filter($"ivf_list" === victim).select($"id")
      .collect().map(_.getLong(0)).toSet
    assert(members.nonEmpty)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val codes = s"$dir/ivf/codes"
    assert(fs.rename(new Path(codes, s"ivf_list=$victim"),
      new Path(codes, s".ivf_list=$victim.bak")))
    // an earlier version's lone swap left the backup: a process of this
    // version opens the index afresh
    val reopened = new IvfIndex(spark, s"$dir/ivf")
    reopened.appendPq(Seq(200L -> newVec).toDF("vec_id", "embedding"), "vec_id", "embedding")
    val got = reopened.searchPq(query, 65, 4).collect().map(_.getLong(0)).toSet
    assert(members.subsetOf(got),
      "pre-crash rows of the backed-up code list must survive the append")
    assert(got.contains(200L), "the appended row must be probe-reachable")
  }

  test("PQ delete crash recovery: searchPq restores a half-done swap") {
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("graft_ivfpq_crash_test").toString
    val books = graft.operators.Pq.seedCodebooks(embs, "vec_id", "embedding", m = 4, k = 4)
    val idx = new IvfIndex(spark, s"$dir/ivf")
    idx.buildPq(embs, "vec_id", "embedding", cents, books)
    val before = idx.searchPq(query, 10, 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val codes = s"$dir/ivf/codes"
    val victim = fs.globStatus(new Path(codes, "ivf_list=*")).head.getPath
    assert(fs.rename(victim, new Path(codes, "." + victim.getName + ".bak")))
    // an earlier version's lone swap left the backup: a process of this
    // version opens the index afresh
    val after = new IvfIndex(spark, s"$dir/ivf").searchPq(query, 10, 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(after == before, "searchPq must restore the backed-up list first")
  }

  test("the probe set reaches the scan as partition filters — pruned I/O") {
    val frame = freshIndex().search(query, k = 5, nprobe = 1)
    val scans = frame.queryExecution.sparkPlan
      .collect { case s: FileSourceScanExec => s }
    val listScan = scans.find(_.metadata("Location").contains("lists"))
      .getOrElse(fail(s"no lists scan in:\n${frame.queryExecution.sparkPlan}"))
    val pf = listScan.metadata("PartitionFilters")
    assert(pf.contains("ivf_list"),
      s"probe must prune at the partition level, got PartitionFilters=$pf")
    // nprobe=1 of 4 lists: exactly one list directory survives pruning
    assert(listScan.relation.location.listFiles(
        listScan.partitionFilters, listScan.dataFilters).size == 1,
      "exactly one of the four list partitions should be read at nprobe=1")
  }

  // ---- compact (X166) ------------------------------------------------------

  test("compact: appends accrete part-files, compaction collapses them, search bit-identical") {
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("graft_ivf_compact").toString
    val idx = new IvfIndex(spark, s"$dir/ivf")
    idx.build(embs.filter($"vec_id" <= 32), "vec_id", "embedding", cents)
    for (b <- 0 until 4)
      idx.append(embs.filter($"vec_id" > 32 + b * 8 && $"vec_id" <= 40 + b * 8),
        "vec_id", "embedding")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def filesIn(p: String) = fs.listStatus(new Path(p))
      .count(_.getPath.getName.endsWith(".parquet"))
    val lists = (0 until 4).filter(n =>
      fs.exists(new Path(s"$dir/ivf/lists/ivf_list=$n")))
    val before = lists.map(n => filesIn(s"$dir/ivf/lists/ivf_list=$n")).sum
    assert(before > lists.size, s"appends should have accreted files, got $before")
    val want = idx.search(query, 64, 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    idx.compact(lists)
    idx.compactAssign()
    val after = lists.map(n => filesIn(s"$dir/ivf/lists/ivf_list=$n")).sum
    assert(after == lists.size, s"one file per compacted list, got $after")
    val got = idx.search(query, 64, 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want, "compaction must be content-invisible")
    // the compacted sidecar still drives a pruned delete correctly
    idx.delete(Seq(33L).toDF("id"))
    assert(!idx.search(query, 64, 4).collect().map(_.getLong(0)).contains(33L))
    intercept[IllegalArgumentException](idx.compact(Seq(99)))
  }

  // ---- splitList (X156) ----------------------------------------------------

  test("splitList: membership conserved, both halves live, full-probe search invariant") {
    val idx = freshIndex()
    val before = idx.search(query, 64, 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val nLists0 = idx.centroids().size
    val res = idx.splitList(0, lloydIters = 2)
    assert(res.isDefined, "a mixed random list must split")
    val (newId, nMoved) = res.get
    assert(newId == nLists0 && nMoved > 0)
    assert(idx.centroids().size == nLists0 + 1)
    // a full probe is an exact scan either way: identical top-64
    val after = idx.search(query, 64, nLists0 + 1)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(after == before, "full-probe search must be split-invariant")
    // the moved rows really live in the new list, the rest stayed
    val lists = spark.read.parquet(s"${idx.indexPath}/lists")
      .groupBy("ivf_list").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(lists(newId) == nMoved && lists(0) > 0)
  }

  test("splitList: a delete of moved ids after the split still lands (sidecar stays honest)") {
    val idx = freshIndex()
    val Some((newId, _)) = idx.splitList(0)
    val movedIds = spark.read.parquet(s"${idx.indexPath}/lists")
      .filter(col("ivf_list") === newId).select("id").as[Long].collect().toSeq
    val victim = movedIds.head
    idx.delete(Seq(victim).toDF("id"))
    val ids = idx.search(query, 64, idx.centroids().size)
      .collect().map(_.getLong(0)).toSet
    assert(!ids.contains(victim), "a moved id must still be deletable")
    assert(ids.size == 63)
    // and the stale (id -> old list) sidecar pairs are gone: each moved id
    // maps ONLY to the new list now
    val sidecar = spark.read.parquet(s"${idx.indexPath}/assign")
      .filter(col("id").isin(movedIds: _*))
      .select("id", "ivf_list").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(sidecar.forall(_._2 == newId),
      s"stale pairs must be cleaned: ${sidecar.filterNot(_._2 == newId).toSeq}")
  }

  test("splitList: degenerate list (identical vectors) aborts with None, index untouched") {
    val dir = Files.createTempDirectory("graft_ivf_split_degen").toString
    val idx = new IvfIndex(spark, s"$dir/ivf")
    val flat = (1L to 8L).map(i => i -> Array.fill(8)(0.5f)).toDF("vec_id", "embedding")
    idx.build(flat, "vec_id", "embedding", Seq(Array.fill(8)(0.5f)))
    assert(idx.splitList(0).isEmpty)
    assert(idx.centroids().size == 1)
    assert(idx.search(query, 8, 1).count() == 8)
  }

  test("maintain: compacts exactly the over-threshold lists, no-op below, report honest") {
    val dir = Files.createTempDirectory("graft_ivf_maint").toString
    val idx = new IvfIndex(spark, s"$dir/ivf")
    idx.build(embs.filter($"vec_id" <= 32), "vec_id", "embedding", cents)
    idx.append(embs.filter($"vec_id" > 32 && $"vec_id" <= 48), "vec_id", "embedding")
    idx.append(embs.filter($"vec_id" > 48), "vec_id", "embedding")
    val pre = idx.fileStats().collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(pre.values.exists(_ > 1), "appends must accrete files")
    val want = idx.search(query, 64, 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // below threshold: pure report, nothing rewritten
    val calm = idx.maintain(maxFilesPerList = 100).collect()
    assert(calm.filter(_.getString(0) == "compact_list")
      .forall(!_.getBoolean(4)))
    assert(idx.fileStats().collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap === pre,
      "a no-op maintain must not touch the layout")
    // threshold 1: exactly the >1-file lists compact; report names them
    val busy = idx.maintain(maxFilesPerList = 1).collect()
    val acted = busy.filter(r => r.getString(0) == "compact_list" &&
      r.getBoolean(4)).map(_.getInt(1)).toSet
    assert(acted === pre.filter(_._2 > 1).keySet,
      "the report must name exactly the over-threshold lists")
    assert(idx.fileStats().collect().forall(r =>
      !acted.contains(r.getInt(0)) || r.getInt(1) == 1))
    assert(idx.fileStats().collect()
      .filter(r => !acted.contains(r.getInt(0)))
      .map(r => r.getInt(0) -> r.getInt(1)).toMap ===
      pre.filter(p => !acted.contains(p._1)),
      "below-threshold lists must keep their exact file sets")
    assert(idx.search(query, 64, 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq === want)
    intercept[IllegalArgumentException](idx.maintain(maxFilesPerList = 0))
  }

  test("mergeLists: membership conserved, slots dense, full-probe search invariant") {
    val idx = freshIndex()
    val before = idx.search(query, 64, 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val sizes0 = spark.read.parquet(s"${idx.indexPath}/lists")
      .groupBy("ivf_list").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val (target, nAbsorbed) = idx.mergeLists(1, 2)
    assert(target == 1 && nAbsorbed == sizes0.getOrElse(2, 0L))
    assert(idx.centroids().size == 3, "the centroid set must shrink by one")
    // full probe = exact scan either way
    val after = idx.search(query, 64, 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(after == before, "full-probe search must be merge-invariant")
    // slot 1 holds the union, slot 2 holds old list 3, slot 3 is gone
    val sizes1 = spark.read.parquet(s"${idx.indexPath}/lists")
      .groupBy("ivf_list").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(sizes1(1) == sizes0(1) + sizes0.getOrElse(2, 0L))
    assert(sizes1.getOrElse(2, 0L) == sizes0.getOrElse(3, 0L))
    assert(!sizes1.contains(3), "the vacated highest slot must drop")
    // the surviving centroid is the decimal-mean of the union (dual of
    // splitList's tightening): old slot-3 centroid renumbered into 2
    assert(idx.centroids()(2).toSeq == cents(3).toSeq)
    intercept[IllegalArgumentException](idx.mergeLists(0, 0))
    intercept[IllegalArgumentException](idx.mergeLists(0, 7))
  }

  test("mergeLists: merging the highest slot needs no renumber; a==last swaps roles") {
    val idxA = freshIndex()
    val beforeA = idxA.search(query, 64, 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val (tA, _) = idxA.mergeLists(1, 3) // absorb == last: direct drop
    assert(tA == 1 && idxA.centroids().size == 3)
    assert(idxA.search(query, 64, 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == beforeA)
    val idxB = freshIndex()
    val (tB, _) = idxB.mergeLists(3, 1) // keep == last: union lands under 1
    assert(tB == 1 && idxB.centroids().size == 3)
    assert(idxB.search(query, 64, 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == beforeA)
  }

  test("mergeLists: deletes of absorbed AND renumbered ids still land (sidecar stays honest)") {
    val idx = freshIndex()
    val lists = spark.read.parquet(s"${idx.indexPath}/lists")
    val absorbed = lists.filter(col("ivf_list") === 2).select("id")
      .as[Long].collect().toSeq
    val renumbered = lists.filter(col("ivf_list") === 3).select("id")
      .as[Long].collect().toSeq
    assume(absorbed.nonEmpty && renumbered.nonEmpty)
    idx.mergeLists(1, 2)
    val victims = Seq(absorbed.head, renumbered.head)
    idx.delete(victims.toDF("id"))
    val ids = idx.search(query, 64, 3).collect().map(_.getLong(0)).toSet
    assert(victims.forall(!ids.contains(_)),
      "moved ids must still be deletable after the merge")
    assert(ids.size == 62)
    // stale (id -> old list) pairs cleaned: each moved id maps only to
    // its post-merge slot
    val sidecar = spark.read.parquet(s"${idx.indexPath}/assign")
      .filter(col("id").isin((absorbed ++ renumbered): _*))
      .select("id", "ivf_list").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(sidecar.filter(p => absorbed.contains(p._1)).forall(_._2 == 1),
      s"absorbed ids must map only to the surviving slot: $sidecar")
    assert(sidecar.filter(p => renumbered.contains(p._1)).forall(_._2 == 2),
      s"renumbered ids must map only to their new slot: $sidecar")
  }

  test("split and merge carry the PQ codes layout: full-probe ADC invariant, codes relocated") {
    val dir = Files.createTempDirectory("graft_ivf_pqcarry").toString
    val idx = new IvfIndex(spark, s"$dir/ivf")
    val books = graft.operators.Pq.seedCodebooks(embs, "vec_id", "embedding", m = 4, k = 4)
    idx.build(embs, "vec_id", "embedding", cents)
    idx.buildPq(embs, "vec_id", "embedding", cents, books)
    val wantAdc = idx.searchPq(query, 64, 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // split: the moved ids' CODES move to the new list — no re-encode,
    // full-probe ADC is split-invariant
    val Some((newId, nMoved)) = idx.splitList(0)
    assert(idx.searchPq(query, 64, idx.centroids().size)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq === wantAdc,
      "full-probe ADC must be split-invariant")
    val codesByList = spark.read.parquet(s"${idx.indexPath}/codes")
      .groupBy("ivf_list").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(codesByList.getOrElse(newId, 0L) === nMoved,
      "the moved ids' codes must live in the new code list")
    // merge the split halves back: codes renumber with the raw lists
    val (target, _) = idx.mergeLists(0, newId)
    assert(idx.searchPq(query, 64, idx.centroids().size)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq === wantAdc,
      "full-probe ADC must be merge-invariant")
    assert(!new java.io.File(s"${idx.indexPath}/codes/ivf_list=$newId").exists()
      || spark.read.parquet(s"${idx.indexPath}/codes")
        .groupBy("ivf_list").count().collect()
        .map(_.getInt(0)).forall(_ < idx.centroids().size),
      "the vacated code list must drop with the raw one")
    // compressed-side delete after the walk still lands (sidecar honest)
    val victim = spark.read.parquet(s"${idx.indexPath}/codes")
      .filter(col("ivf_list") === target).select("id").as[Long].head()
    idx.deletePq(Seq(victim).toDF("id"))
    assert(!idx.searchPq(query, 64, idx.centroids().size)
      .collect().map(_.getLong(0)).contains(victim),
      "a post-merge deletePq must still remove the row")
  }

  test("mergeLists crash recovery: a marker-committed merge rolls forward at next search") {
    import org.apache.hadoop.fs.Path
    val idx = freshIndex()
    val (target, _) = idx.mergeLists(1, 2)
    val want = idx.search(query, 64, 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val wantCents = idx.centroids().map(_.toSeq)
    // reconstruct the worst committed-crash state: batch committed, union
    // + renumbered dirs and the shrunken centroid set all still staged,
    // none of them live
    val batch = stagedBatch(idx, s"lists/ivf_list=$target", "lists/ivf_list=2", "centroids")
    batch.drop("lists/ivf_list=3")
    assert(batch.markCommitted())
    val got = idx.search(query, 64, 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want, "recovery must roll the committed merge forward")
    assert(idx.centroids().map(_.toSeq) == wantCents)
    assert(hasBatch(idx) == ((false, false)))
    // an UNCOMMITTED batch survives a search, which answers unchanged;
    // the next mutation discards it
    fsOf(idx).mkdirs(new Path(rootOf(idx), ".commit/lists/ivf_list=99"))
    assert(idx.search(query, 64, 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == want)
    assert(hasBatch(idx) == ((true, false)), "a read never deletes a writer's staging")
    idx.compact(Seq(0))
    assert(hasBatch(idx) == ((false, false)))
    assert(idx.search(query, 64, 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == want)
  }

  test("searchPqRefined: exact rerank of the ADC shortlist; wide refine converges to exact (X205)") {
    import graft.operators.Pq
    val dir = Files.createTempDirectory("graft_ivfpq_ref").toString
    val books = Pq.seedCodebooks(embs, "vec_id", "embedding", m = 2, k = 4)
    val idx = new IvfIndex(spark, s"$dir/ivf")
    idx.build(embs, "vec_id", "embedding", cents)
    idx.buildPq(embs, "vec_id", "embedding", cents, books)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // refine wide enough to cover every probed row => identical to the
    // exact uncompressed search over the same probe set
    val exact = rows(idx.search(query, k = 5, nprobe = 2))
    val wide = rows(idx.searchPqRefined(query, k = 5, nprobe = 2, refine = 64))
    assert(wide == exact,
      "a full-coverage refine must equal the exact probed search")
    // scores on the refined path are exact cosines (not ADC distances):
    // every returned (id, cosine) appears in the exact ranking's scores
    val exactAll = rows(idx.search(query, k = 64, nprobe = 2)).toMap
    rows(idx.searchPqRefined(query, k = 5, nprobe = 2, refine = 2))
      .foreach { case (id, c) =>
        assert(exactAll(id) == c, s"refined cosine moved for id $id") }
    intercept[IllegalArgumentException](
      idx.searchPqRefined(query, k = 5, nprobe = 2, refine = 0))
  }

  test("maintain recovers a crashed marker-committed merge BEFORE deciding") {
    import org.apache.hadoop.fs.Path
    val idx = freshIndex()
    val (target, _) = idx.mergeLists(1, 2)
    val want = idx.search(query, 64, 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val (root, fs) = (rootOf(idx), fsOf(idx))
    // reconstruct the committed-crash state (the mergeLists crash test's
    // setup) with the live layout still pre-merge-shaped: the vacated
    // ivf_list=3 dir is still live — deciding on THAT stale listing
    // used to die in requireDirs after the inner compact rolled the
    // merge forward under it
    val batch = stagedBatch(idx, s"lists/ivf_list=$target", "lists/ivf_list=2", "centroids")
    batch.drop("lists/ivf_list=3")
    assert(batch.markCommitted())
    org.apache.hadoop.fs.FileUtil.copy(fs, new Path(root, ".commit/lists/ivf_list=2"),
      fs, new Path(root, "lists/ivf_list=3"), false, spark.sparkContext.hadoopConfiguration)
    // threshold 1 forces compacts on any multi-file list — the decision
    // pass must run on the RECOVERED listing and complete cleanly
    val report = idx.maintain(maxFilesPerList = 1)
    assert(report.columns.toSeq ==
      Seq("action", "target", "metric", "threshold", "acted"))
    assert(hasBatch(idx) == ((false, false)))
    assert(!fs.exists(new Path(root, "lists/ivf_list=3")))
    val got = idx.search(query, 64, 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want, "maintain must leave the rolled-forward merge intact")
  }

  test("merge recovery never deletes a codes list the merge did not stage") {
    import org.apache.hadoop.fs.Path
    val idx = freshIndex() // NO PQ layout at merge time
    val (target, _) = idx.mergeLists(1, 2)
    val (root, fs) = (rootOf(idx), fsOf(idx))
    // committed-crash state again, but with no codes half staged (the
    // merge predates any compressed layout), so no codes drop either...
    val batch = stagedBatch(idx, s"lists/ivf_list=$target", "lists/ivf_list=2")
    batch.drop("lists/ivf_list=3")
    assert(batch.markCommitted())
    // ...and a codes/ivf_list=3 that came into existence IN the crash
    // window (a buildPq between commit and roll-forward) — the
    // roll-forward must not delete data it never renumbered
    val orphanCodes = new Path(root, "codes/ivf_list=3")
    fs.mkdirs(orphanCodes)
    val sentinel = new Path(orphanCodes, "part-sentinel.parquet")
    fs.create(sentinel).close()
    idx.search(query, 64, 3).collect() // rolls the batch forward
    assert(hasBatch(idx) == ((false, false)))
    assert(fs.exists(sentinel),
      "an unstaged codes list must survive merge roll-forward")
  }

  test("splitList crash recovery: a marker-committed split rolls forward at next search") {
    import org.apache.hadoop.fs.Path
    val idx = freshIndex()
    val Some((newId, nMoved)) = idx.splitList(0)
    val want = idx.search(query, 64, idx.centroids().size)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // reconstruct the crash right after the commit point: the new list
    // staged but not live, the batch committed
    assert(stagedBatch(idx, s"lists/ivf_list=$newId").markCommitted())
    // the next read entry point must complete the split, not lose rows
    val got = idx.search(query, 64, idx.centroids().size)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want, "recovery must roll the committed split forward")
    assert(hasBatch(idx) == ((false, false)))
    // an UNCOMMITTED batch survives a search, which answers unchanged;
    // the next mutation discards it
    fsOf(idx).mkdirs(new Path(rootOf(idx), ".commit/lists/ivf_list=99"))
    val again = idx.search(query, 64, idx.centroids().size)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(again == want)
    assert(hasBatch(idx) == ((true, false)), "a read never deletes a writer's staging")
    idx.delete(Seq(want.head._1).toDF("id"))
    assert(hasBatch(idx) == ((false, false)))
  }

  test("searchPqWhere: pre-filter inside the ADC probe — parity with brute ADC over (probed ∩ filter) (X294)") {
    val dir = Files.createTempDirectory("graft_ivf_pqw").toString
    val idx = new IvfIndex(spark, s"$dir/ivf")
    val books = graft.operators.Pq.seedCodebooks(
      embs, "vec_id", "embedding", m = 4, k = 4)
    idx.build(embs, "vec_id", "embedding", cents)
    idx.buildPq(embs, "vec_id", "embedding", cents, books)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val got = rows(idx.searchPqWhere(query, topK = 10, nprobe = 2,
      col("id") % 3 === 1))
    assert(got.size == 10 && got.forall(_._1 % 3 == 1))
    // parity: probed membership off the unfiltered full search, then
    // brute ADC over exactly (probed ∩ filter)
    val probedIds = rows(idx.searchPq(query, 64, 2)).map(_._1).toSet
    val cand = embs.filter(col("vec_id").isin(probedIds.toSeq: _*))
      .filter(col("vec_id") % 3 === 1)
    val expect = rows(graft.operators.Pq.adcTopK(
      graft.operators.Pq.encode(
        graft.operators.Ann.ivfAssign(
          cand.select(col("vec_id").as("id"), col("embedding").as("vector")),
          "vector", cents), "vector", books),
      "id", "codes", books, query, 10))
    assert(got === expect)
    intercept[IllegalArgumentException](
      idx.searchPqWhere(query, 0, 2, col("id") % 3 === 1))
    intercept[IllegalArgumentException](
      idx.searchPqWhere(query, 10, 0, col("id") % 3 === 1))
  }

  test("snapshot: byte-faithful copy incl. PQ layout + sidecars, sides independent, crash debris retried") {
    val dir = Files.createTempDirectory("graft_ivf_snap").toString
    val idx = new IvfIndex(spark, s"$dir/ivf")
    val books = graft.operators.Pq.seedCodebooks(
      embs, "vec_id", "embedding", m = 4, k = 4)
    idx.build(embs, "vec_id", "embedding", cents)
    idx.buildPq(embs, "vec_id", "embedding", cents, books)
    def raw(i: IvfIndex) = i.search(query, 10, 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def adc(i: IvfIndex) = i.searchPq(query, 10, 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val wantRaw = raw(idx); val wantAdc = adc(idx)
    idx.snapshot(s"$dir/a")
    val a = new IvfIndex(spark, s"$dir/a")
    assert(raw(a) === wantRaw, "snapshot must serve the raw lists identically")
    assert(adc(a) === wantAdc, "the PQ layout must travel with the snapshot")
    // a delete on the copy (BOTH layouts — the sidecars must have
    // traveled for the discovery to land) never touches the source
    val victim = wantRaw.head._1
    a.delete(Seq(victim).toDF("id")); a.deletePq(Seq(victim).toDF("id"))
    assert(!raw(a).exists(_._1 == victim) && !adc(a).exists(_._1 == victim),
      "the copy's sidecars must discover the copy's rows")
    assert(raw(idx) === wantRaw && adc(idx) === wantAdc,
      "source must not see the copy's delete")
    // target-exists is a refusal, not an overwrite
    intercept[IllegalArgumentException](idx.snapshot(s"$dir/a"))
    // crash protocol: hidden staging debris from a crashed prior
    // attempt never blocks or corrupts a clean retry
    val stale = new java.io.File(s"$dir/.b.snapstaging/junk")
    stale.getParentFile.mkdirs()
    java.nio.file.Files.write(stale.toPath, Array[Byte](1, 2, 3))
    idx.snapshot(s"$dir/b")
    assert(raw(new IvfIndex(spark, s"$dir/b")) === wantRaw,
      "retry over staging debris must produce a clean snapshot")
    assert(!new java.io.File(s"$dir/.b.snapstaging").exists(),
      "staging renames away, leaving no hidden debris")
  }

  test("snapshot quiesces first: a marker-committed merge rolls forward, copy opens clean") {
    import org.apache.hadoop.fs.Path
    val idx = freshIndex()
    val want = idx.search(query, 64, idx.centroids().size)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def answers(i: IvfIndex) = i.search(query, 64, i.centroids().size)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // a merge crashed right after its commit point: snapshot must roll it
    // forward BEFORE copying, so the copy holds a resolved layout, not a
    // batch the reader would have to honor
    val (target, _) = idx.mergeLists(0, 1)
    val batch = stagedBatch(idx, s"lists/ivf_list=$target", "lists/ivf_list=1", "centroids")
    batch.drop("lists/ivf_list=3")
    assert(batch.markCommitted())
    idx.snapshot(s"${idx.indexPath}_snap")
    val snap = new IvfIndex(spark, s"${idx.indexPath}_snap")
    assert(answers(snap) === want, "post-merge snapshot must answer like the source")
    assert(hasBatch(snap) == ((false, false)), "quiesce must resolve the batch before the copy")
    // an uncommitted batch is debris: the quiesce discards it, so the
    // copy never ships it
    fsOf(idx).mkdirs(new Path(rootOf(idx), ".commit/lists/ivf_list=0"))
    idx.snapshot(s"${idx.indexPath}_snap2")
    val snap2 = new IvfIndex(spark, s"${idx.indexPath}_snap2")
    assert(answers(snap2) === want)
    assert(hasBatch(snap2) == ((false, false)) && hasBatch(idx) == ((false, false)))
  }
}
