package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.{Ann, GraphAnn}

class GraphIndexSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(23)
  private val vecs: Seq[(Long, Seq[Float])] =
    (0L until 40L).map(i => i -> Seq.fill(8)(rnd.nextFloat() * 2f - 1f))
  private lazy val embs = vecs.toDF("vec_id", "embedding")
    .withColumn("embedding", col("embedding").cast(ArrayType(FloatType)))
  private val query = vecs(5)._2.toArray

  private def freshIndex(): (GraphIndex, String) = {
    val dir = Files.createTempDirectory("graft_graph_test").toString
    val gi = new GraphIndex(spark, s"$dir/g", buckets = 8)
    val adj = GraphAnn.buildVamana(embs, "vec_id", "embedding", r = 6, rounds = 2)
    gi.build(adj)
    graft.util.Pins.release(adj)
    (gi, dir)
  }

  test("persisted serve == in-memory serve on the same graph") {
    val (gi, _) = freshIndex()
    val fromDisk = gi.searchTopK(embs, "vec_id", "embedding", query,
        k = 5, beamWidth = 16, entryId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val inMem = GraphAnn.beamSearchTopK(gi.edges(), embs, "vec_id",
        "embedding", query, k = 5, beamWidth = 16, entryId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(fromDisk === inMem)
  }

  test("hop reads prune to the frontier's buckets at the file listing") {
    val (_, dir) = freshIndex()
    // the exact read shape searchTopK issues per hop: partition-column
    // isin must surface as PartitionFilters, never a post-scan filter
    val read = spark.read.parquet(s"$dir/g/edges")
      .filter(col("gbucket").isin(1, 3)).select("src", "dst")
    val parts = read.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s.metadata.getOrElse("PartitionFilters", "")
    }
    assert(parts.exists(p => p.contains("gbucket")),
      s"the bucket isin must reach the listing as a partition filter: $parts")
  }

  test("lazy delete: tombstoned nodes still ROUTE but never RETURN") {
    // a 3-node chain where the ONLY path to the best node runs through
    // the deleted one: 0 -> 1 -> 2, query = node 2's vector
    val chain = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(0.5f, 0.5f)), (2L, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast(ArrayType(FloatType)))
    val adj = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    val dir = Files.createTempDirectory("graft_graph_chain").toString
    val gi = new GraphIndex(spark, s"$dir/g", buckets = 4)
    gi.build(adj)
    gi.delete(Seq(1L).toDF("id"))
    val got = gi.searchTopK(chain, "vec_id", "embedding",
        Array(0f, 1f), k = 3, beamWidth = 3, entryId = Some(0L))
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(2L, 0L),
      "the walk crosses the tombstoned node 1 to reach 2, but 1 never returns")
  }

  test("SQL views: live edges/tombstones, raw edges after delete, bucket hop prunes") {
    val (gi, dir) = freshIndex()
    new StoreCatalog(spark).registerGraphIndex("catg", s"$dir/g")
    val nEdges = gi.edges().count()
    assert(spark.sql("SELECT COUNT(*) FROM catg_edges").head().getLong(0)
      === nEdges)
    assert(spark.sql("SELECT COUNT(*) FROM catg_tombstones").head().getLong(0)
      === 0L)
    gi.delete(Seq(3L).toDF("id"))
    // tombstone append visible to the NEXT statement; edges stay RAW
    // (tombstoned nodes keep routing — masking edges would change
    // traversal semantics)
    assert(spark.sql("SELECT id FROM catg_tombstones").head().getLong(0) === 3L)
    assert(spark.sql("SELECT COUNT(*) FROM catg_edges").head().getLong(0)
      === nEdges, "edges view must stay raw after a lazy delete")
    // a bucket-scoped hop reads the same slice the parquet filter does
    val viaSql = spark.sql(
      "SELECT src, dst FROM catg_edges WHERE gbucket IN (1, 3)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = spark.read.parquet(s"$dir/g/edges")
      .filter(col("gbucket").isin(1, 3)).select("src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaSql === direct)
  }

  test("append: new nodes pruned-linked, reachable next search, degrees bounded, disjointness enforced") {
    // build on the first 30 nodes, insert the last 2 afterwards
    val base = embs.filter(col("vec_id") < 30)
    val dir = Files.createTempDirectory("graft_graph_append").toString
    val gi = new GraphIndex(spark, s"$dir/g", buckets = 8)
    val adj = GraphAnn.buildVamana(base, "vec_id", "embedding", r = 6, rounds = 2)
    gi.build(adj)
    graft.util.Pins.release(adj)
    gi.append(embs, "vec_id", "embedding", Seq(30L, 31L).toDF("id"),
      r = 6, searchBeam = 12, entryId = Some(0L))
    val g = gi.edges().collect().map(r => (r.getLong(0), r.getLong(1)))
    // both inserted nodes have out-edges and reverse edges point back
    for (nid <- Seq(30L, 31L)) {
      assert(g.exists(_._1 == nid), s"node $nid has out-edges")
      assert(g.exists(_._2 == nid), s"node $nid gained reverse edges")
    }
    // degree bound holds EVERYWHERE after the reverse insertions
    val deg = g.groupBy(_._1).map(_._2.size)
    assert(deg.max <= 6, s"reverse insertion must re-cap, max ${deg.max}")
    // the inserted node is findable: full-beam search of its own vector
    // returns it first (cos ~ 1)
    val top = gi.searchTopK(embs, "vec_id", "embedding",
        vecs(31)._2.toArray, k = 3, beamWidth = Int.MaxValue,
        entryId = Some(0L))
      .head()
    assert(top.getLong(0) === 31L && top.getDouble(1) === 1.0,
      "a freshly inserted node must be reachable through its reverse edges")
    // id-disjointness: re-inserting refuses
    intercept[IllegalArgumentException](gi.append(embs, "vec_id",
      "embedding", Seq(30L).toDF("id"), r = 6, searchBeam = 12))
    // batch bound: request-sized inserts only
    intercept[IllegalArgumentException](gi.append(embs, "vec_id",
      "embedding", spark.range(0, gi.MaxAppendBatch + 1)
        .select(col("id")), r = 6, searchBeam = 12))
  }

  test("append crash protocol: a hidden bucket backup recovers on the next read") {
    val (gi, dir) = freshIndex()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a mutation that died between its two renames: the live
    // bucket dir is gone, the hidden backup holds the rows
    val live = new org.apache.hadoop.fs.Path(s"$dir/g/edges/gbucket=1")
    val bak = new org.apache.hadoop.fs.Path(s"$dir/g/edges/.gbucket=1.bak")
    val before = gi.edges().count()
    assert(fs.exists(live), "fixture bucket must exist")
    assert(fs.rename(live, bak))
    // an earlier version's lone swap left the backup: the next process
    // opens the graph afresh, recovers the backup and sees every edge
    assert(new GraphIndex(spark, s"$dir/g", buckets = 8).edges().count() === before,
      "a crashed swap's hidden backup must restore on the next read")
    assert(fs.exists(live) && !fs.exists(bak))
  }

  test("reopening with a different bucket count is refused") {
    val (gi, dir) = freshIndex()
    val wrong = new GraphIndex(spark, s"$dir/g", buckets = 4)
    intercept[IllegalArgumentException](
      wrong.searchTopK(embs, "vec_id", "embedding", query, 3, 8))
  }

  test("maintain: tombstone fraction drives the rebuild recommendation; reports, never acts") {
    val (gi, _) = freshIndex()
    def rec() = gi.maintain(maxTombstoneFrac = 0.1).collect()
      .map(r => r.getString(0) -> r.getBoolean(3)).toMap
    assert(rec() === Map("tombstone_frac" -> false,
      "max_files_per_bucket" -> false))
    // tombstone 5 of 40 nodes: 12.5% > the 10% threshold
    gi.delete((0L until 5L).toDF("id"))
    val after = rec()
    assert(after("tombstone_frac") === true,
      "crossing the threshold must recommend a rebuild")
    // the policy REPORTED and did not act: edges and tombstones intact
    assert(gi.edges().count() > 0)
    assert(gi.searchTopK(embs, "vec_id", "embedding", query, 3,
      beamWidth = 8, entryId = Some(0L)).collect()
      .forall(_.getLong(0) >= 5L), "tombstones still applied at serve")
  }

  test("SQL view heals a crashed append swap before listing (recover-before-read)") {
    val (gi, dir) = freshIndex()
    val before = gi.edges().count()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a mutation that died between its two renames: the live bucket dir
    // is hidden as the dot-prefixed backup — a raw directory read now
    // serves the graph MINUS this bucket's edges
    val live = new org.apache.hadoop.fs.Path(s"$dir/g/edges/gbucket=1")
    val bak = new org.apache.hadoop.fs.Path(s"$dir/g/edges/.gbucket=1.bak")
    assert(fs.exists(live), "fixture bucket must exist")
    assert(fs.rename(live, bak))
    // an earlier version's lone swap left the backup: the next process
    // registers the view
    new StoreCatalog(spark).registerGraphIndex("catg_rec", s"$dir/g")
    assert(spark.sql("SELECT COUNT(*) FROM catg_rec_edges").head().getLong(0)
      === before,
      "a graph_* SQL scan must recover the mid-swap backup first, not " +
      "silently serve the graph minus a bucket")
    assert(fs.exists(live) && !fs.exists(bak))
  }

  test("append on a (src,dst)-only store is refused with the rebuild rule") {
    // q349/q350-style build: an exact-kNN digraph WITHOUT cosine scores
    val adj = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    val dir = Files.createTempDirectory("graft_graph_nocos").toString
    val gi = new GraphIndex(spark, s"$dir/g", buckets = 4)
    gi.build(adj)
    val e = intercept[IllegalArgumentException](
      gi.append(embs, "vec_id", "embedding", Seq(30L).toDF("id"),
        r = 6, searchBeam = 12, entryId = Some(0L)))
    assert(e.getMessage.contains("cosine"),
      s"the refusal must name the missing cosine scores: ${e.getMessage}")
  }

  test("append with a smaller r never prunes untouched nodes' neighborhoods") {
    val base = embs.filter(col("vec_id") < 30)
    val dir = Files.createTempDirectory("graft_graph_recap").toString
    val gi = new GraphIndex(spark, s"$dir/g", buckets = 2) // 2 buckets: the
    // insert's touched bucket holds MANY untouched srcs
    val adj = GraphAnn.buildVamana(base, "vec_id", "embedding", r = 6, rounds = 2)
    gi.build(adj)
    graft.util.Pins.release(adj)
    val beforeDeg = gi.edges().collect().map(r => r.getLong(0))
      .groupBy(identity).map { case (s, xs) => s -> xs.size }
    val touched = {
      gi.append(embs, "vec_id", "embedding", Seq(30L).toDF("id"),
        r = 2, searchBeam = 12, entryId = Some(0L)) // r=2 < build degree 6
      val g = gi.edges().collect().map(r => (r.getLong(0), r.getLong(1)))
      // nodes whose neighborhood legitimately changed: the new node and
      // every node it points at (reverse-edge insertion re-caps those)
      g.collect { case (30L, d) => d }.toSet + 30L
    }
    val afterDeg = gi.edges().collect().map(r => r.getLong(0))
      .groupBy(identity).map { case (s, xs) => s -> xs.size }
    val pruned = beforeDeg.collect {
      case (s, d) if !touched(s) && afterDeg.getOrElse(s, 0) < d => s
    }
    assert(pruned.isEmpty,
      s"untouched srcs lost edges under the caller's smaller r: $pruned")
  }

  test("append default entry is an existing node, never a new edge-less id") {
    // tiny corpus: 3 existing nodes + 1 new node whose vector is the
    // corpus mean direction — the allEmbs medoid would BE the new node,
    // and a beam from an edge-less entry dies at hop 0 (zero edges for
    // the insert). The fix anti-joins newIds out of the medoid pool.
    val four = Seq(
      (0L, Seq(1f, 0.1f)), (1L, Seq(0.9f, 0.2f)), (2L, Seq(0.8f, 0f)),
      (3L, Seq(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast(ArrayType(FloatType)))
    val base = four.filter(col("vec_id") < 3)
    val adj = Seq((0L, 1L, 0.99), (1L, 2L, 0.98), (2L, 0L, 0.97),
      (1L, 0L, 0.99), (2L, 1L, 0.98), (0L, 2L, 0.97))
      .toDF("src", "dst", "cosine")
    val dir = Files.createTempDirectory("graft_graph_entry").toString
    val gi = new GraphIndex(spark, s"$dir/g", buckets = 2)
    gi.build(adj)
    gi.append(four, "vec_id", "embedding", Seq(3L).toDF("id"),
      r = 2, searchBeam = 3) // entryId = None: the default-entry path
    val g = gi.edges().collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(g.exists(_._1 == 3L) && g.exists(_._2 == 3L),
      "the insert must link (out + reverse edges) under the default entry")
    assert(base.count() === 3) // fixture sanity
  }

  test("fileStats lists per-bucket counts; snapshot round-trips and refuses existing targets") {
    val (gi, dir) = freshIndex()
    val stats = gi.fileStats().collect()
    assert(stats.nonEmpty && stats.forall(_.getInt(1) >= 1))
    gi.snapshot(s"$dir/snap")
    // snapshot copies the STORE dir itself: open the copy directly
    val reopened = new GraphIndex(spark, s"$dir/snap", buckets = 8)
    val a = reopened.searchTopK(embs, "vec_id", "embedding", query,
      k = 3, beamWidth = 8, entryId = Some(0L)).collect().toSeq
    val b = gi.searchTopK(embs, "vec_id", "embedding", query,
      k = 3, beamWidth = 8, entryId = Some(0L)).collect().toSeq
    assert(a === b, "the copy serves identically")
    intercept[IllegalArgumentException](gi.snapshot(s"$dir/snap"))
  }
}
