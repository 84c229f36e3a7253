package graft.sources

import java.io.IOException
import java.nio.file.{Files, Path => JPath, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Layouts written before the commit protocol moved behind [[LayoutFs]]
  * (`src/test/resources/pre_layoutfs`, produced by
  * [[PreLayoutFsFixture.main]] at that commit) open and answer the same:
  * an embedding store and an IVF index, a snapshot of each, and a copy
  * of each left mid-swap (a live directory renamed to its hidden
  * `.bak`) that the first read must restore. Roots left mid-mutation by
  * the per-layout commit markers that [[LayoutFs.Batch]] replaced (IVF
  * split and merge, graph append, the inverted index's append and
  * derived-delta apply markers and its vacuum's census delta) refuse to
  * open with an `IOException` naming the marker, for readers and
  * writers alike. */
class PreLayoutFsCompatSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fixtureCopy(): JPath = {
    val src = Paths.get(getClass.getResource("/pre_layoutfs").toURI)
    val dir = Files.createTempDirectory("graft_pre_layoutfs")
    val w = Files.walk(src)
    try w.forEach { p =>
      val d = dir.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(d)
      else Files.copy(p, d, StandardCopyOption.COPY_ATTRIBUTES)
    } finally w.close()
    dir
  }

  private def refused(marker: String)(body: => Any): Unit = {
    val e = intercept[IOException](body)
    assert(e.getMessage.contains(marker), s"the failure must name $marker: ${e.getMessage}")
  }

  /** A built inverted index (one tombstone pending) and its answers:
    * phrase hits, the census and the appended ids. */
  private def builtInv(): (InvertedIndex, JPath, () => String) = {
    val dir = Files.createTempDirectory("graft_pre_layoutfs_inv")
    val idx = new InvertedIndex(spark, dir.resolve("inv").toString, buckets = 4)
    idx.build(Seq((1L, "merge sort beats bubble sort"), (2L, "sort merge join"),
      (3L, "unrelated text")).toDF("doc_id", "text"), "doc_id", col("text"))
    idx.delete(Seq(3L).toDF("doc_id"))
    def answers() = Seq(idx.bm25(Seq("sort", "merge"), k = 5), idx.vocab(), idx.appendedIds)
      .map(_.collect().map(_.mkString("|")).sorted.mkString(" ")).mkString("\n")
    (idx, dir.resolve("inv"), () => answers())
  }

  private val moreDocs = Seq((8L, "fresh sort words")).toDF("doc_id", "text")

  test("an inverted-index root left mid-append by the append marker refuses to open, naming it") {
    val (idx, root, _) = builtInv()
    Files.createDirectories(root.resolve(".append_staging/doclens"))
    Files.createDirectories(root.resolve(".append_pending"))
    refused(".append_pending")(idx.vocab().collect())
    refused(".append_pending")(idx.append(moreDocs, "doc_id", col("text")))
  }

  test("an inverted-index root with bare append staging ignores it and answers unchanged") {
    val (idx, root, answers) = builtInv()
    val want = answers()
    Files.createDirectories(root.resolve(".append_staging/doclens"))
    assert(answers() == want, "an unmarked staging dir is hidden debris")
    idx.append(moreDocs, "doc_id", col("text"))
    assert(idx.appendedIds.collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 8L))
  }

  test("an inverted-index root left mid-apply by a derived-delta apply marker refuses to open, naming it") {
    val (idx, root, _) = builtInv()
    idx.buildForward()
    Files.createDirectories(root.resolve(".derived_apply_pending_forward"))
    refused(".derived_apply_pending_forward")(idx.docTerms(Seq(1L)).collect())
    refused(".derived_apply_pending_forward")(idx.maintainDerived())
  }

  test("an inverted-index root left mid-vacuum with a census delta refuses its vocab, naming it") {
    val (idx, root, _) = builtInv()
    new StoreCatalog(spark).registerInvertedIndex("pre_layoutfs_inv", root.toString)
    Seq(("sort", 1L)).toDF("term", "df").write.parquet(root.resolve("census/pending_delta").toString)
    refused("census/pending_delta")(idx.vocab().collect())
    val e = intercept[Exception](spark.sql("SELECT * FROM pre_layoutfs_inv_vocab").collect())
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(c => c.isInstanceOf[IOException] &&
        c.getMessage.contains("census/pending_delta")),
      s"the SQL vocab view must fail on the census delta: $e")
  }

  test("an inverted-index root left mid-swap restores the postings backup") {
    val (_, root, answers) = builtInv()
    val want = answers()
    Files.move(root.resolve("postings"), root.resolve(".postings.bak"))
    assert(answers() == want, "the read must restore the backup")
    assert(Files.exists(root.resolve("postings")) && !Files.exists(root.resolve(".postings.bak")))
  }

  test("layouts and snapshots written before LayoutFs open and answer the same") {
    val dir = fixtureCopy()
    val want = new String(Files.readAllBytes(dir.resolve("answers.txt")), "UTF-8")
    for (layout <- Seq("", "_snap", "_crashed")) {
      val got = PreLayoutFsFixture.answers(spark,
        dir.resolve(s"store$layout").toString, dir.resolve(s"ivf$layout").toString)
      assert(got == want, s"layouts '$layout' answer differently")
    }
    assert(!Files.exists(dir.resolve("store_crashed/.bucket=1.bak")) &&
      !Files.exists(dir.resolve("ivf_crashed/lists/.ivf_list=0.bak")),
      "the read must restore the crashed swaps' backups")
  }

  /** The IVF fixture with a legacy marker (and its staging) planted under
    * `lists`: a search and a delete must both refuse it. */
  private def legacyIvf(marker: String, staging: String): Unit = {
    val dir = fixtureCopy()
    val lists = dir.resolve("ivf/lists")
    Files.createDirectories(lists.resolve(s"$staging/ivf_list=1"))
    Files.createDirectories(lists.resolve(marker))
    val idx = new IvfIndex(spark, dir.resolve("ivf").toString, assignBuckets = 4)
    refused(marker)(idx.search(Array(0.5f, -0.25f, 0.1f, 0.9f), k = 5, nprobe = 3).collect())
    refused(marker)(idx.delete(Seq(1L).toDF("id")))
  }

  test("an IVF root left mid-split by the split marker refuses to open, naming it") {
    legacyIvf(".split_pending_0_3", ".staging_split")
  }

  test("an IVF root left mid-merge by the merge marker refuses to open, naming it") {
    legacyIvf(".merge_pending_0_1_2", ".staging_merge")
  }

  test("a graph root left mid-append by the committed batch marker refuses to open, naming it") {
    val dir = Files.createTempDirectory("graft_pre_layoutfs_graph")
    val g = new GraphIndex(spark, dir.resolve("g").toString, buckets = 2)
    g.build(Seq((1L, 2L, 0.5), (2L, 1L, 0.5), (2L, 3L, 0.25), (3L, 2L, 0.25))
      .toDF("src", "dst", "cosine"))
    val want = g.edges().collect().toSet
    // an uncommitted batch is hidden debris: reads ignore it
    val batch = dir.resolve("g/edges/.tmp_gbucket_batch")
    Files.createDirectories(batch.resolve("gbucket=0"))
    assert(g.edges().collect().toSet == want)
    Files.createDirectories(batch.resolve("_committed"))
    refused(".tmp_gbucket_batch/_committed")(g.edges().collect())
  }
}

/** Writes the compatibility fixture: `main(outDir)`. */
object PreLayoutFsFixture {
  private val rnd = new scala.util.Random(3)
  private val vecs = (1L to 24L).map(i => (i, (i + 1) / 2, (i % 2).toInt,
    Seq.fill(4)(rnd.nextFloat() * 2f - 1f)))
  private val queries = Seq(Array(0.5f, -0.25f, 0.1f, 0.9f), Array(-1f, 0.2f, 0.3f, -0.4f))

  /** Every row of the store and every IVF probe answer, one per line. */
  def answers(spark: SparkSession, store: String, ivf: String): String = {
    val rows = new EmbeddingStore(spark, store, numBuckets = 4).read()
      .select("id", "post_id", "sequence_no", "vector", "bucket").orderBy("id")
      .collect().map(_.mkString("|"))
    val idx = new IvfIndex(spark, ivf, assignBuckets = 4)
    val hits = queries.flatMap(q => Seq(1, 3).map(np =>
      idx.search(q, k = 5, nprobe = np).collect().map(_.mkString("|")).mkString(" ")))
    (rows ++ hits).mkString("\n")
  }

  def main(args: Array[String]): Unit = {
    val out = Paths.get(args(0))
    val spark = TestSpark.spark
    import spark.implicits._
    val raw = vecs.toDF("id", "post_id", "sequence_no", "vector")
      .withColumn("vector", col("vector").cast(ArrayType(FloatType)))
    val store = new EmbeddingStore(spark, out.resolve("store").toString, numBuckets = 4)
    store.bulkLoad(raw.drop("id"))
    store.upsert(raw.filter(col("id") <= 3).drop("id")
      .withColumn("vector", transform(col("vector"), _ * 2f)))
    store.deleteMany(Seq(7L, 12L))
    val ivf = new IvfIndex(spark, out.resolve("ivf").toString, assignBuckets = 4)
    ivf.build(raw.filter(col("id") <= 16), "id", "vector", vecs.take(3).map(_._4.toArray))
    ivf.append(raw.filter(col("id") > 16), "id", "vector")
    ivf.delete(Seq(5L, 20L).toDF("id"))
    store.snapshot(out.resolve("store_snap").toString)
    ivf.snapshot(out.resolve("ivf_snap").toString)
    Files.write(out.resolve("answers.txt"), answers(spark,
      out.resolve("store").toString, out.resolve("ivf").toString).getBytes("UTF-8"))
    def crashedCopy(name: String, live: String): Unit = {
      val from = out.resolve(name)
      val to = out.resolve(s"${name}_crashed")
      val w = Files.walk(from)
      try w.forEach { p =>
        val d = to.resolve(from.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(d) else Files.copy(p, d)
      } finally w.close()
      val l: JPath = to.resolve(live)
      Files.move(l, l.resolveSibling(s".${l.getFileName}.bak"))
    }
    crashedCopy("store", "bucket=1")
    crashedCopy("ivf", "lists/ivf_list=0")
    // checksum sidecars are a property of the writing filesystem client
    val w = Files.walk(out)
    try w.filter(_.getFileName.toString.endsWith(".crc")).toArray
      .foreach(p => Files.delete(p.asInstanceOf[JPath]))
    finally w.close()
  }
}
