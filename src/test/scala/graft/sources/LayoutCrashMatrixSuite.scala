package graft.sources

import java.io.IOException
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.Executors

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.GraphAnn

/** Crash matrix over every layout mutation that swaps directories.
  *
  * Each case builds a tens-of-rows fixture once, runs the mutation on a
  * copy to count its `rename`/`delete` calls (n), then for every k in
  * 1..n runs it on a fresh copy whose [[FaultyFs]] plan fails the k-th
  * call and every call after it — a process that died just before that
  * call. A fresh handle must then read, for every directory the case
  * names as a commit unit, exactly its old rows or exactly its new rows,
  * and the next call must recover and succeed: a state that is not yet
  * the new one is driven there by re-running the mutation.
  *
  * Commit units: every mutation — builds, appends, tombstones,
  * rewrites, n-gram versions with their pointer — commits the whole
  * layout at once as one [[LayoutFs.Batch]], so a row compares the
  * whole layout's rows, old or new (the IVF compactions, which change
  * no rows, compare part-file counts too). A separately published
  * piece (the derived meta a block-max adopt rewrites alone) is its
  * own unit. Snapshots either exist complete or not at all.
  *
  * A row run with `quietRenames` fails each rename by returning `false`
  * rather than throwing, and checks that the mutation turns that into an
  * `IOException`. */
class LayoutCrashMatrixSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val base = {
    FaultyFs.install(spark)
    Files.createTempDirectory("graft_crash_matrix").toString
  }

  /** Visible rows per commit unit. */
  private type State = Map[String, Set[String]]

  private def fingerprint(df: DataFrame): Set[String] =
    df.collect().map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case a: Array[Byte] => a.mkString("<", ",", ">")
      case v => String.valueOf(v)
    }.mkString("|")).toSet

  private def byKey(df: DataFrame, key: String): State =
    fingerprint(df.select(col(key).cast(StringType) +:
        df.columns.filter(_ != key).map(col).toSeq: _*))
      .groupBy(_.takeWhile(_ != '|')).map { case (k, v) => s"$key=$k" -> v }

  private def whole(s: State): State =
    Map("layout" -> s.toSeq.flatMap { case (k, v) => v.map(r => s"$k:$r") }.toSet)

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val w = Files.walk(src)
    try w.forEach { p =>
      val d = Paths.get(to).resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(d)
      else Files.copy(p, d, StandardCopyOption.COPY_ATTRIBUTES)
    } finally w.close()
  }

  private def deleteTree(dir: String): Unit = {
    val w = Files.walk(Paths.get(dir))
    try w.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    finally w.close()
  }

  private var nCase = 0
  private lazy val pool = ExecutionContext.fromExecutorService(
    Executors.newFixedThreadPool(3, (r: Runnable) => {
      val t = new Thread(r, "crash-matrix"); t.setDaemon(true); t }))

  /** One row of the matrix: `build` writes the fixture layout at the
    * given `faulty:` path, `mutate` applies the operation to a layout at
    * a path, `observe` reads a layout at a path through fresh handles. */
  private def sweep(build: String => Unit, mutate: String => Unit,
      observe: String => State, quietRenames: Boolean = false): Int = {
    nCase += 1
    val tmpl = s"$base/c$nCase"
    build(FaultyFs.uri(s"$tmpl/L"))
    def run(k: Long): (State, Try[Unit], Long, String) = {
      val root = s"$base/c$nCase-$k"
      copyTree(tmpl, root)
      val plan = FaultyFs.plan(root)
      plan.failAt = k
      plan.quietRenames = quietRenames
      val res = Try(mutate(FaultyFs.uri(s"$root/L")))
      plan.failAt = 0L
      plan.quietRenames = false
      val calls = plan.mutations.get
      (observe(FaultyFs.uri(s"$root/L")), res, calls, root)
    }
    val old = observe(FaultyFs.uri(s"$tmpl/L"))
    val (fresh, clean, n, cleanRoot) = run(0L)
    clean.get
    assert(n > 0, "the mutation must rename or delete something")
    FaultyFs.drop(cleanRoot); deleteTree(cleanRoot)
    def crashAt(k: Long): Unit = {
      val (got, res, _, root) = run(k)
      assert(res.isFailure, s"call #$k of $n must fail")
      assert(!quietRenames || res.failed.get.isInstanceOf[IOException],
        s"a failed call #$k of $n must surface as an IOException, got ${res.failed.get}")
      for (key <- old.keySet ++ fresh.keySet ++ got.keySet) {
        val g = got.getOrElse(key, Set.empty)
        assert(g == old.getOrElse(key, Set.empty) || g == fresh.getOrElse(key, Set.empty),
          s"crash before call #$k of $n (${res.failed.get.getMessage}): " +
            s"$key is neither old nor new: $g")
      }
      if (got != fresh) {
        mutate(FaultyFs.uri(s"$root/L"))
        assert(observe(FaultyFs.uri(s"$root/L")) == fresh,
          s"retry after a crash before call #$k of $n must reach the new state")
      }
      FaultyFs.drop(root); deleteTree(root)
    }
    // crash points are independent copies: run a few at once
    val runs = (1L to n).map(k => Future(crashAt(k))(pool))
    runs.foreach(Await.ready(_, Duration.Inf))
    runs.foreach(Await.result(_, Duration.Inf))
    deleteTree(tmpl)
    n.toInt
  }

  /** The snapshot row of a layout: the target is absent or a complete
    * copy that reads like the source. */
  private def sweepSnapshot(build: String => Unit, snapshot: (String, String) => Unit,
      observe: String => State): Int =
    sweep(build, p => snapshot(p, p.stripSuffix("/L") + "/snap"), { p =>
      val target = p.stripSuffix("/L") + "/snap"
      val t = new Path(target)
      val src = observe(p)
      if (!t.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(t)) Map.empty
      else {
        val copy = observe(target)
        assert(copy == src, "a published snapshot must read like its source")
        Map("snapshot" -> whole(copy)("layout"))
      }
    })

  // ---- fixtures ------------------------------------------------------------

  private val rnd = new scala.util.Random(11)
  private val vecs: Seq[(Long, Seq[Float])] =
    (1L to 24L).map(i => i -> Seq.fill(4)(rnd.nextFloat() * 2f - 1f))
  private def vecDf(ids: Seq[Long], from: Seq[(Long, Seq[Float])] = vecs) =
    from.filter(v => ids.contains(v._1))
      .toDF("id", "vector").withColumn("vector", col("vector").cast(ArrayType(FloatType)))

  private def storeRaw = vecs.map { case (i, v) => ((i + 1) / 2, (i % 2).toInt, v) }
    .toDF("post_id", "sequence_no", "vector")
  private def store(p: String) = new EmbeddingStore(spark, p, numBuckets = 4)
  private def buildStore(p: String): Unit = store(p).bulkLoad(storeRaw)
  private def observeStore(p: String): State =
    byKey(store(p).read().select("bucket", "post_id", "sequence_no", "vector"), "bucket")

  // a prefixed store whose meta file is missing (written before the meta
  // existed): the next bucket rewrite publishes the meta
  private def buildPrefixedStore(p: String): Unit = {
    new EmbeddingStore(spark, p, numBuckets = 4, prefixDims = Some(2)).bulkLoad(storeRaw)
    val meta = new Path(p, "_graft_meta")
    meta.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(meta, false)
  }
  private def observeStoreMeta(p: String): State = {
    val derived = store(p).withDerived(storeRaw)
    whole(observeStore(p) + ("meta" ->
      (if (derived.columns.contains("vector_prefix")) fingerprint(derived.select("vector_prefix"))
       else Set("no prefixDims"))))
  }

  // a prefixed store loaded whole, then loaded again with other rows
  private def prefixedStore(p: String) = new EmbeddingStore(spark, p, numBuckets = 4, prefixDims = Some(2))
  private def reloadRaw = vecs.drop(6).map { case (i, v) => (i / 3, (i % 3).toInt, v.map(_ * 3f)) }
    .toDF("post_id", "sequence_no", "vector")

  private lazy val cents: Seq[Array[Float]] = vecs.take(3).map(_._2.toArray)
  private def ivf(p: String) = new IvfIndex(spark, p, assignBuckets = 4)
  private def buildIvf(p: String): Unit = {
    val books = graft.operators.Pq.seedCodebooks(vecDf(vecs.map(_._1)), "id", "vector", m = 2, k = 4)
    ivf(p).buildWithPq(vecDf(vecs.map(_._1).filter(_ <= 16)), "id", "vector", cents, books)
    ivf(p).append(vecDf(vecs.map(_._1).filter(_ > 16)), "id", "vector")
    ivf(p).appendPq(vecDf(vecs.map(_._1).filter(_ > 16)), "id", "vector")
  }
  private def observeIvf(p: String): State = {
    val idx = ivf(p)
    val lists = byKey(idx.listsView.select("ivf_list", "id", "vector"), "ivf_list")
    idx.searchPq(Array.fill(4)(0.5f), 1, 1).collect() // recovers the codes layout
    val codes = byKey(spark.read.parquet(s"$p/codes").select("ivf_list", "id", "codes"), "ivf_list")
      .map { case (k, v) => s"codes/$k" -> v }
    lists ++ codes + ("centroids" -> idx.centroids().map(_.mkString(",")).zipWithIndex
      .map { case (c, i) => s"$i:$c" }.toSet)
  }

  // the IVF layouts and both assignment sidecars
  private def observeIvfAll(p: String): State = {
    val rows = observeIvf(p)
    rows ++ Seq("assign", "assign_pq").flatMap { d =>
      byKey(spark.read.parquet(s"$p/$d").select("abucket", "id", "ivf_list"), "abucket")
        .map { case (k, v) => s"$d/$k" -> v }
    }
  }
  private val moreVecs: Seq[(Long, Seq[Float])] =
    (25L to 30L).map(i => i -> Seq.fill(4)(rnd.nextFloat() * 2f - 1f))

  // part-file counts per list directory (after observeIvf recovered):
  // a compaction changes no rows, only these
  private def ivfFiles(p: String): State = {
    val fs = new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Map("files" -> Seq("lists", "codes").flatMap { d =>
      fs.listStatus(new Path(p, d)).filter(_.getPath.getName.startsWith("ivf_list="))
        .map(s => s"$d/${s.getPath.getName}:" +
          fs.listStatus(s.getPath).count(_.getPath.getName.startsWith("part-")))
    }.toSet)
  }

  private val docsA = Seq((1L, "merge sort beats bubble sort"), (2L, "sort merge join strategy"),
    (3L, "unrelated text entirely"), (4L, "another sort merge document"),
    (5L, "no match here at all")).toDF("doc_id", "text")
  private val docsB = Seq((6L, "bubble join text"), (7L, "strategy document sort"))
    .toDF("doc_id", "text")
  private def inv(p: String) = new InvertedIndex(spark, p, buckets = 4)
  private def buildInv(p: String): Unit = {
    inv(p).build(docsA, "doc_id", col("text"))
    inv(p).append(docsB, "doc_id", col("text"))
    inv(p).delete(Seq(2L, 6L).toDF("doc_id"))
  }
  private def observeInv(p: String): State = {
    val idx = inv(p)
    Map("vocab" -> fingerprint(idx.vocab()), "stats" -> fingerprint(idx.stats()),
      "appended" -> fingerprint(idx.appendedIds))
  }

  // block-max built, then an append its file-grain rows cover: the next
  // maintenance pass adopts it by rewriting its derived meta alone
  private def buildInvBlockMax(p: String): Unit = {
    inv(p).build(docsA, "doc_id", col("text"))
    inv(p).buildBlockMax()
    inv(p).append(docsB, "doc_id", col("text"))
  }
  private def observeInvMeta(p: String): State =
    whole(observeInv(p)) + ("meta" -> fingerprint(inv(p)
      .maintainDerivedVerbose(Double.MaxValue).select("artifact", "built_n_docs")))

  // a forward sidecar built, then an append whose forward delta the next
  // maintenance pass applies: the delta's moves, the meta and the
  // delta's drop commit together
  private def buildInvForward(p: String): Unit = {
    inv(p).build(docsA, "doc_id", col("text"))
    inv(p).buildForward()
    inv(p).append(docsB, "doc_id", col("text"))
  }
  // the block-max sidecars' rows beside the index's answers; a file-grain
  // row's file name carries its write job's id, so a retried append names
  // its files afresh
  private def observeInvBlockMax(p: String): State =
    whole(observeInv(p) + ("blockmax" -> fingerprint(spark.read.parquet(s"$p/blockmax"))) +
      ("blockmax_files" -> fingerprint(spark.read.parquet(s"$p/blockmax_files").drop("fname"))))

  private def observeInvForward(p: String): State =
    whole(observeInv(p) + ("forward" -> fingerprint(inv(p).docTerms(1L to 7L))) +
      ("meta" -> fingerprint(inv(p).maintainDerivedVerbose(Double.MaxValue)
        .select("artifact", "built_n_docs"))))

  // the merge source lives beside the target, inside the copied fixture
  private def mergeSrc(p: String) = inv(p.stripSuffix("/L") + "/S")
  private def buildInvMerge(p: String): Unit = {
    buildInv(p)
    mergeSrc(p).build(Seq((8L, "fresh merge words"), (9L, "sort again"))
      .toDF("doc_id", "text"), "doc_id", col("text"))
  }

  private def qs(p: String) = new QueryStore(spark, p, buckets = 4)
  private def buildQs(p: String): Unit = {
    qs(p).build(Seq(("a1", "sort", "must"), ("a1", "merge", "must"), ("a1", "spark", "should"),
      ("a2", "join", "must"), ("a3", "quokka", "must"), ("a4", "bubble", "must_not"),
      ("a4", "sort", "must")).toDF("query_id", "term", "clause"))
    qs(p).append(Seq(("a5", "merge", "must"), ("a6", "join", "should"))
      .toDF("query_id", "term", "clause"))
    qs(p).delete(Seq("a2", "a5").toDF("query_id"))
  }
  private def observeQs(p: String): State =
    Map("clauses" -> fingerprint(qs(p).liveClauses), "totals" -> fingerprint(qs(p).liveTotals))

  private val probe = Seq((10L, "the cat sat on the rug"), (11L, "a dog ran"))
    .toDF("doc_id", "text")
  private def lm(p: String) = new NgramLm(spark, p)
  private def buildLm(p: String): Unit = lm(p).build(Seq((1L, "the cat sat on the mat"),
    (2L, "the dog sat on the rug"), (3L, "a cat and a dog ran")).toDF("doc_id", "text"),
    "doc_id", col("text"))
  private def observeLm(p: String): State = {
    val m = lm(p)
    Map("version" -> Set(m.currentVersion().toString),
      "scores" -> fingerprint(m.score(probe, "doc_id", col("text"))))
  }

  private def graph(p: String) = new GraphIndex(spark, p, buckets = 4)
  // buildVamana's sign buckets need at least 8 dimensions
  private val graphVecs = (1L to 24L).map(i => i -> Seq.fill(8)(rnd.nextFloat() * 2f - 1f))
  private def embs = vecDf(graphVecs.map(_._1), graphVecs)
  private def buildGraph(p: String): Unit = {
    val adj = GraphAnn.buildVamana(embs.filter(col("id") <= 20), "id", "vector", r = 4, rounds = 2)
    graph(p).build(adj)
    graft.util.Pins.release(adj)
  }
  private def observeGraph(p: String): State = {
    graph(p).edges().collect() // recovers
    byKey(spark.read.parquet(s"$p/edges").select("gbucket", "src", "dst", "cosine"), "gbucket")
  }
  private def observeGraphTombstones(p: String): State = {
    val edges = observeGraph(p)
    val t = new Path(s"$p/tombstones")
    edges + ("tombstones" ->
      (if (t.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(t))
        fingerprint(spark.read.parquet(t.toString)) else Set.empty[String]))
  }

  // ---- the matrix ----------------------------------------------------------

  private def row(name: String)(body: => Int): Unit =
    test(s"crash matrix: $name") {
      val t0 = System.nanoTime()
      val n = body
      info(f"$n crash points, ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }

  row("EmbeddingStore.upsert")(sweep(buildStore, p => store(p).upsert(
    vecs.take(5).map { case (i, v) => (if (i == 5) 99L else (i + 1) / 2, (i % 2).toInt,
      v.map(_ * 2f)) }.toDF("post_id", "sequence_no", "vector")), p => whole(observeStore(p))))
  row("EmbeddingStore.deleteMany")(sweep(buildStore,
    p => store(p).deleteMany(Seq(1L, 6L, 11L, 17L)), p => whole(observeStore(p))))
  row("EmbeddingStore.deleteWhere")(sweep(buildStore,
    p => store(p).deleteWhere(col("post_id") > 9), p => whole(observeStore(p))))
  row("EmbeddingStore.deleteMany (publishes the prefixDims meta)")(sweep(buildPrefixedStore,
    p => new EmbeddingStore(spark, p, numBuckets = 4, prefixDims = Some(2))
      .deleteMany(Seq(1L, 6L)), observeStoreMeta))

  private val ivfIds = Seq(2L, 9L, 14L, 21L).toDF("id")
  row("IvfIndex.delete")(sweep(buildIvf, p => ivf(p).delete(ivfIds), p => whole(observeIvf(p))))
  row("IvfIndex.deletePq")(sweep(buildIvf, p => ivf(p).deletePq(ivfIds), p => whole(observeIvf(p))))
  row("IvfIndex.compact")(sweep(buildIvf, p => ivf(p).compact(Seq(0, 1, 2)),
    p => whole(observeIvf(p) ++ ivfFiles(p))))
  row("IvfIndex.compactPq")(sweep(buildIvf, p => ivf(p).compactPq(Seq(0, 1, 2)),
    p => whole(observeIvf(p) ++ ivfFiles(p))))
  row("IvfIndex.mergeLists (centroid rewrite)")(sweep(buildIvf,
    p => ivf(p).mergeLists(0, 1), p => whole(observeIvf(p))))
  row("IvfIndex.splitList (centroid rewrite)")(sweep(buildIvf,
    p => assert(ivf(p).splitList(0).nonEmpty), p => whole(observeIvf(p))))

  row("InvertedIndex.vacuum")(sweep(buildInv, p => inv(p).vacuum(), p => whole(observeInv(p)),
    quietRenames = true))
  row("InvertedIndex.compact")(sweep(buildInv, p => inv(p).compact(), p => whole(observeInv(p))))
  row("InvertedIndex.maintainDerived (block-max meta adopt)")(sweep(buildInvBlockMax,
    p => assert(inv(p).maintainDerivedVerbose().filter(col("mode") === "adopt").count() == 1),
    observeInvMeta))
  row("InvertedIndex.append")(sweep(buildInv, p => inv(p).append(
    Seq((8L, "fresh merge words"), (9L, "sort again")).toDF("doc_id", "text"),
    "doc_id", col("text")), p => whole(observeInv(p)), quietRenames = true))

  row("InvertedIndex.mergeFrom")(sweep(buildInvMerge, p => inv(p).mergeFrom(mergeSrc(p)),
    p => whole(observeInv(p))))
  row("InvertedIndex.maintainDerived (forward delta apply)")(sweep(buildInvForward,
    p => assert(inv(p).maintainDerivedVerbose().filter(col("mode") === "delta_apply").count() == 1),
    observeInvForward))

  row("QueryStore.append")(sweep(buildQs, p => qs(p).append(Seq(("a7", "sort", "must"),
    ("a7", "join", "should"), ("a8", "bubble", "must")).toDF("query_id", "term", "clause")),
    p => whole(observeQs(p))))
  row("QueryStore.vacuum")(sweep(buildQs, p => qs(p).vacuum(), p => whole(observeQs(p))))
  row("QueryStore.compact")(sweep(buildQs, p => qs(p).compact(), p => whole(observeQs(p))))

  row("NgramLm.append")(sweep(buildLm, p => lm(p).append(
    Seq((4L, "the cat ran to the dog")).toDF("doc_id", "text"), "doc_id", col("text")),
    p => whole(observeLm(p))))
  row("NgramLm.remove")(sweep(buildLm, p => lm(p).remove(
    Seq((2L, "the dog sat on the rug")).toDF("doc_id", "text"), "doc_id", col("text")),
    p => whole(observeLm(p))))

  row("GraphIndex.append")(sweep(buildGraph, p => graph(p).append(embs, "id", "vector",
    Seq(21L, 22L).toDF("id"), r = 4, searchBeam = 8, entryId = Some(1L)),
    p => whole(observeGraph(p))))

  // ---- builds, appends and tombstones: one batch each ----------------------

  row("EmbeddingStore.bulkLoad (over a loaded store, with the prefixDims meta)")(sweep(
    prefixedStore(_).bulkLoad(storeRaw), prefixedStore(_).bulkLoad(reloadRaw), observeStoreMeta))
  row("IvfIndex.buildWithPq (over a built index)")(sweep(buildIvf, { p =>
    val books = graft.operators.Pq.seedCodebooks(vecDf(vecs.map(_._1)), "id", "vector", m = 2, k = 4)
    ivf(p).buildWithPq(vecDf(vecs.map(_._1).filter(_ % 3 != 0)), "id", "vector",
      vecs.drop(5).take(3).map(_._2.toArray), books)
  }, p => whole(observeIvfAll(p))))
  row("IvfIndex.append")(sweep(buildIvf,
    p => ivf(p).append(vecDf(moreVecs.map(_._1), moreVecs), "id", "vector"),
    p => whole(observeIvfAll(p))))
  row("IvfIndex.appendPq")(sweep(buildIvf,
    p => ivf(p).appendPq(vecDf(moreVecs.map(_._1), moreVecs), "id", "vector"),
    p => whole(observeIvfAll(p))))
  row("InvertedIndex.append (over a block-max index)")(sweep(buildInvBlockMax, p => inv(p).append(
    Seq((8L, "fresh merge words"), (9L, "sort sort again")).toDF("doc_id", "text"),
    "doc_id", col("text")), observeInvBlockMax))
  row("InvertedIndex.buildForward (over a forward index)")(sweep(buildInvForward,
    p => inv(p).buildForward(), observeInvForward))
  row("InvertedIndex.delete")(sweep(buildInv, p => inv(p).delete(Seq(3L, 7L).toDF("doc_id")),
    p => whole(observeInv(p))))
  row("QueryStore.delete")(sweep(buildQs, p => qs(p).delete(Seq("a1", "a3").toDF("query_id")),
    p => whole(observeQs(p))))
  row("GraphIndex.delete")(sweep(buildGraph, p => graph(p).delete(Seq(3L, 5L).toDF("id")),
    p => whole(observeGraphTombstones(p))))

  row("snapshot: EmbeddingStore")(sweepSnapshot(buildStore, store(_).snapshot(_), observeStore))
  row("snapshot: IvfIndex")(sweepSnapshot(buildIvf, ivf(_).snapshot(_), observeIvf))
  row("snapshot: InvertedIndex")(sweepSnapshot(buildInv, inv(_).snapshot(_), observeInv))
  row("snapshot: QueryStore")(sweepSnapshot(buildQs, qs(_).snapshot(_), observeQs))
  row("snapshot: NgramLm")(sweepSnapshot(buildLm, lm(_).snapshot(_), observeLm))
  row("snapshot: GraphIndex")(sweepSnapshot(buildGraph, graph(_).snapshot(_), observeGraph))
}
