package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The benchmark's read paths and the SQL views run layout recovery on
  * every call, so a change to the commit protocol or to the SQL source
  * must not add metadata round-trips to them. Each bound is the count
  * measured on a warm call once a layout handle recovered at its first
  * call and made one glob of its root on each later one, and a SQL scan
  * build made the batch's one probe, which lists nothing
  * ([[LayoutFs.Live.recover]], [[LayoutFs.rollForward]]). A glob counts
  * as one `globStatus` plus the `listStatus` calls Hadoop's globber makes
  * through the same filesystem for its wildcards and the
  * `getFileStatus` calls it makes for literal names. `getFileStatus`
  * counts every status lookup: the root stamp's (one per call that looks
  * up a schema or memo, [[LayoutFs.Live.call]]), the one inside each
  * `exists`, Spark's and the globber's. */
class ServePathFsCallsSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Kinds = Seq("rename", "delete", "exists", "globStatus", "listStatus", "getFileStatus")

  private val rnd = new scala.util.Random(5)
  private val vecs = (1L to 40L).map(i => (i, (i + 1) / 2, (i % 2).toInt,
    Seq.fill(8)(rnd.nextFloat() * 2f - 1f)))
  private val query = Array.fill(8)(0.25f)

  private lazy val fixture = {
    FaultyFs.install(spark)
    val root = Files.createTempDirectory("graft_serve_fs_calls").toString
    val raw = vecs.toDF("id", "post_id", "sequence_no", "vector")
      .withColumn("vector", col("vector").cast(ArrayType(FloatType)))
    val store = new EmbeddingStore(spark, FaultyFs.uri(s"$root/store"), numBuckets = 2)
    store.bulkLoad(raw.drop("id"))
    val ivf = new IvfIndex(spark, FaultyFs.uri(s"$root/ivf"), assignBuckets = 4)
    ivf.build(raw, "id", "vector", vecs.take(4).map(_._4.toArray))
    val ivfPq = new IvfIndex(spark, FaultyFs.uri(s"$root/ivf_pq"), assignBuckets = 4)
    ivfPq.buildWithPq(raw, "id", "vector", vecs.take(4).map(_._4.toArray),
      graft.operators.Pq.seedCodebooks(raw, "id", "vector", m = 4, k = 4))
    new StoreCatalog(spark).registerIvfIndex("fs_calls", FaultyFs.uri(s"$root/ivf"))
    graft.functions.GraftFunctions.register(spark)
    val inv = new InvertedIndex(spark, FaultyFs.uri(s"$root/inv"), buckets = 4)
    inv.build(Seq((1L, "merge sort beats bubble sort"), (2L, "sort merge join"),
      (3L, "unrelated text"), (4L, "another sort document")).toDF("doc_id", "text"),
      "doc_id", col("text"))
    inv.delete(Seq(4L).toDF("doc_id"))
    new StoreCatalog(spark).registerInvertedIndex("fs_calls_inv", FaultyFs.uri(s"$root/inv"))
    new GraphIndex(spark, FaultyFs.uri(s"$root/graph"), buckets = 2)
      .build(Seq((1L, 2L, 0.5), (2L, 1L, 0.5), (2L, 3L, 0.25), (3L, 2L, 0.25))
        .toDF("src", "dst", "cosine"))
    new StoreCatalog(spark).registerGraphIndex("fs_calls_graph", FaultyFs.uri(s"$root/graph"))
    (root, store, ivf, inv, ivfPq)
  }

  /** Calls of each kind under the fixture root during one warm `body`. */
  private def calls(body: => Any): Map[String, Long] = {
    val plan = FaultyFs.plan(fixture._1)
    body
    plan.reset()
    body
    Kinds.map(k => k -> plan.count(k)).toMap
  }

  private def check(name: String, bound: Map[String, Long])(body: => Any): Unit =
    test(s"serve path makes no more filesystem metadata calls than before: $name") {
      val got = calls(body)
      info(s"$name: $got")
      Kinds.foreach { k =>
        assert(got(k) <= bound(k), s"$name: $k calls ${got(k)} > ${bound(k)}")
      }
    }

  check("EmbeddingStore.read()", Map("rename" -> 0L, "delete" -> 0L, "exists" -> 2L,
      "globStatus" -> 1L, "listStatus" -> 4L, "getFileStatus" -> 8L)) {
    fixture._2.read().collect()
  }

  /** An unfiltered, unsorted search reads neither. */
  private lazy val posts = Seq((1L, "publish")).toDF("ID", "post_status")
  private lazy val postmeta = Seq((1L, "lang", "en")).toDF("post_id", "meta_key", "meta_value")

  check("SearchEngine.search", Map("rename" -> 0L, "delete" -> 0L, "exists" -> 2L,
      "globStatus" -> 1L, "listStatus" -> 4L, "getFileStatus" -> 8L)) {
    graft.operators.SearchEngine.search(fixture._2.read(), posts, postmeta, query, n = 5).collect()
  }

  check("SearchEngine.searchPosts", Map("rename" -> 0L, "delete" -> 0L, "exists" -> 2L,
      "globStatus" -> 1L, "listStatus" -> 4L, "getFileStatus" -> 8L)) {
    graft.operators.SearchEngine.searchPosts(fixture._2.read(), posts, postmeta, query, nPosts = 3).collect()
  }

  check("IvfIndex.search", Map("rename" -> 0L, "delete" -> 0L, "exists" -> 2L,
      "globStatus" -> 1L, "listStatus" -> 6L, "getFileStatus" -> 14L)) {
    fixture._3.search(query, k = 5, nprobe = 2).collect()
  }

  check("IvfIndex.searchPq", Map("rename" -> 0L, "delete" -> 0L, "exists" -> 2L,
      "globStatus" -> 1L, "listStatus" -> 6L, "getFileStatus" -> 14L)) {
    fixture._5.searchPq(query, topK = 5, nprobe = 2).collect()
  }

  check("InvertedIndex.vocab", Map("rename" -> 0L, "delete" -> 0L, "exists" -> 8L,
      "globStatus" -> 1L, "listStatus" -> 17L, "getFileStatus" -> 27L)) {
    fixture._4.vocab().collect()
  }

  check("InvertedIndex.bm25", Map("rename" -> 0L, "delete" -> 0L, "exists" -> 7L,
      "globStatus" -> 1L, "listStatus" -> 9L, "getFileStatus" -> 20L)) {
    fixture._4.bm25(Seq("sort", "merge"), k = 3).collect()
  }

  check("SQL scan over registerGraphIndex views", Map("rename" -> 0L, "delete" -> 0L,
      "exists" -> 0L, "globStatus" -> 1L, "listStatus" -> 3L, "getFileStatus" -> 5L)) {
    spark.sql("SELECT COUNT(*) FROM fs_calls_graph_edges WHERE gbucket = 1").collect()
  }

  check("SQL scan over registerIvfIndex views", Map("rename" -> 0L, "delete" -> 0L,
      "exists" -> 0L, "globStatus" -> 1L, "listStatus" -> 5L, "getFileStatus" -> 10L)) {
    val q = query.map(v => s"CAST('$v' AS FLOAT)").mkString("array(", ", ", ")")
    spark.sql(s"""SELECT id, vec_cosine(vector, $q) AS cosine FROM fs_calls_lists
                 |WHERE ivf_list IN (0, 2) ORDER BY cosine DESC, id LIMIT 5""".stripMargin)
      .collect()
  }

  check("SQL scan over registerInvertedIndex views", Map("rename" -> 0L, "delete" -> 0L,
      "exists" -> 0L, "globStatus" -> 2L, "listStatus" -> 6L, "getFileStatus" -> 8L)) {
    spark.sql(s"""SELECT doc_id, pos FROM fs_calls_inv_postings
                 |WHERE term = 'sort' AND tbucket = ${fixture._4.bucketOf("sort", 4)}""".stripMargin)
      .collect()
  }
}
