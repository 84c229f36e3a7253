package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.GraphAnn

/** Persisted proximity-graph layout (the storage side of X300/X301):
  * the bounded-degree adjacency lives in `gbucket=N` directory
  * partitions keyed by `hash(src) % buckets`, so a beam hop reads
  * EXACTLY the frontier's buckets at the file listing — the
  * [[IvfIndex]] nprobe→PartitionFilters discipline applied to graph
  * serving. Per hop the frontier's bucket set collects driver-side
  * (≤ `buckets` small ints, bounded regardless of beam width) and
  * rides the edge read as an `isin` partition filter; frontier ids
  * then equi-join the pruned slice, so hop I/O is
  * ∝ |frontier-buckets|/buckets of the edge mass, never the graph.
  *
  * Lifecycle, honestly scoped:
  *  - [[build]] validates and writes the partitioned edges + a one-row
  *    meta (bucket count) and clears tombstones (fresh build = fresh
  *    live set), all as one committed batch.
  *  - [[append]] is the FreshDiskANN INSERT: beam-search candidates
  *    over the current graph, RobustPrune to the new node's out-edges,
  *    reverse edges under the degree cap — applied as one committed
  *    batch of bucket rewrites ([[LayoutFs.Batch]]; every read path rolls
  *    a committed batch forward first), request-sized batches only.
  *  - [[delete]] is the FreshDiskANN lazy delete (Singh et al.,
  *    2105.09613): ids append to a tiny `tombstones/` table in one
  *    committed batch, O(batch) I/O, edge files untouched. Deleted
  *    nodes keep ROUTING — their edges still carry the walk, which is
  *    what preserves navigability — but never RETURN ([[searchTopK]]
  *    anti-joins the broadcast tombstone set before the final cut).
  *  - There is deliberately NO edge-rewriting vacuum/compact: removing
  *    a tombstoned node's edges without re-patching its neighbors'
  *    neighborhoods (FreshDiskANN's StreamingMerge) breaks the graph
  *    property the α-prune established, silently degrading recall.
  *    Space reclamation = [[build]] from the current embedding store —
  *    the X300 build is rounds-bounded, and rebuild-on-cadence is the
  *    stated maintenance policy (the same answer EmbeddingStore gives
  *    for bucket skew).
  *  - [[snapshot]] copies the whole tree ([[LayoutFs.snapshot]]).
  */
final class GraphIndex(spark: SparkSession, path: String, buckets: Int = 16) {
  require(buckets >= 1, s"buckets must be >= 1, got $buckets")

  private def edgesPath = s"$path/edges"
  private def metaPath = s"$path/meta"
  private def tombstonesPath = s"$path/tombstones"

  /** The graph's one handle on its root ([[LayoutFs.Live]]): reads of
    * the live layout directories with pinned schemas, memos and commits.
    * Its recovery runs at the top of every read and mutation: the first
    * call opens the graph — under the root and the edges, where an
    * earlier version's swaps left bucket backups — and every later call
    * probes the root once, rolling a committed batch forward. */
  private[graft] val layout = new LayoutFs.Live(spark, path, "edges")
  import layout.fs

  private def bucketOf(c: Column): Column = pmod(hash(c), lit(buckets))

  /** Persist a `(src, dst[, cosine])` adjacency (e.g.
    * [[graft.operators.GraphAnn.buildVamana]]'s output, or an exact
    * kNN digraph at validation scale). */
  def build(adj: DataFrame): Unit = {
    val cols = adj.columns.toSeq
    require(cols.contains("src") && cols.contains("dst"),
      s"adjacency needs (src, dst[, cosine]) columns, got $cols")
    val hasCosine = cols.contains("cosine")
    val keep = Seq("src", "dst") ++ (if (hasCosine) Seq("cosine") else Nil)
    layout.commit { b =>
      b.stageRows("edges", Some("gbucket"), adj.select(keep.map(col): _*)
        .withColumn("src", col("src").cast(LongType))
        .withColumn("dst", col("dst").cast(LongType))
        .withColumn("gbucket", bucketOf(col("src"))))
      // meta records what append must know WITHOUT a corpus-sized job:
      // has_cosine comes from the schema (free); the build DEGREE is
      // deliberately NOT persisted — measuring it is a full groupBy over
      // the adjacency, and append no longer needs it (its re-cap touches
      // only the nodes whose neighborhoods actually change).
      b.stageRows("meta", None, spark.range(1).select(lit(buckets).as("buckets"),
        lit(hasCosine).as("has_cosine")))
      b.drop("tombstones")
    }
  }

  /** Stored bucket count — a reopened handle must agree with the
    * layout on disk or every hop would prune the WRONG directories. */
  // meta is written once per build() — memoized per instance (r22
  // profile: 8 jobs per q352 append for the same two-field row)
  private val metaMemo = layout.memo[(Int, Boolean)]("meta")
  private[graft] def storedMeta(): (Int, Boolean) = metaMemo {
    val m = layout(metaPath)
    val row = m.select(col("buckets") +:
      (if (m.columns.contains("has_cosine")) Seq(col("has_cosine"))
       else Nil): _*).head()
    val hasCos =
      if (m.columns.contains("has_cosine")) row.getBoolean(1)
      else layout(edgesPath).columns.contains("cosine")
    (row.getInt(0), hasCos)
  }

  private def storedBuckets(): Int = {
    val b = storedMeta()._1
    require(b == buckets,
      s"store at $path was built with $b buckets, this handle says $buckets")
    b
  }

  /** Whether the stored adjacency carries cosine scores — pre-meta
    * layouts (no has_cosine column) fall back to the edge schema. */
  private def storedHasCosine(): Boolean = storedMeta()._2

  /** Live (src, dst) edge view — a full read, for diagnostics and
    * parity tests; serving goes through the pruned per-hop reads.
    * Recovers crashed append swaps first (the read-path rule). */
  def edges(): DataFrame = layout.call {
    layout(edgesPath).select(col("src"), col("dst"))
  }

  /** [[append]]'s batch bound: each new node runs one candidate beam
    * search driver-side, so the batch is request-sized by contract —
    * bulk ingest at corpus scale is a rebuild, not a loop of inserts
    * (the FreshDiskANN paper's own split: inserts for freshness,
    * periodic merge for bulk). */
  val MaxAppendBatch = 256

  /** FreshDiskANN-style insert (Singh et al., 2105.09613 §3): for each
    * new node, a beam search over the CURRENT graph collects its
    * candidate neighborhood (the graph replaces the build's gossip as
    * the candidate generator), RobustPrune picks its ≤ r out-edges,
    * and each chosen neighbor gains a reverse edge under the top-r
    * cosine degree cap (the build's reverse-insert rule). All edge
    * additions then apply as ONE bucket-grouped rewrite: only the
    * touched `gbucket` directories are read, and they commit as one
    * [[LayoutFs.Batch]]; every read path rolls a committed batch forward
    * first, so a crash leaves the old graph or the whole new one. Insert I/O is
    * ∝ touched-buckets/B of the edge mass, never the graph.
    *
    * `allEmbs` must contain BOTH the existing corpus and the new rows
    * (scoring joins read it); `newIds` must be disjoint from stored
    * node ids (the sibling append contract — re-inserting an id would
    * double its out-edge rows). The new nodes become reachable through
    * their reverse edges immediately: a full-beam walk finds them on
    * the very next search. */
  def append(allEmbs: DataFrame, idCol: String, vecCol: String,
      newIds: DataFrame, r: Int, alpha: Double = 1.2,
      searchBeam: Int = 32, entryId: Option[Long] = None): Unit = layout.call {
    require(r >= 1 && r <= GraphAnn.MaxDegree,
      s"degree bound r in [1, ${GraphAnn.MaxDegree}], got $r")
    require(alpha >= 1.0, s"alpha >= 1, got $alpha")
    require(searchBeam >= math.max(1, r),
      s"searchBeam must cover the degree bound, got $searchBeam < $r")
    require(newIds.columns.toSeq == Seq("id"),
      s"newIds must be a single-column (id) frame, got ${newIds.columns.toSeq}")
    storedBuckets()
    require(storedHasCosine(),
      s"append needs a cosine-scored adjacency: the store at $path was " +
      "built from a (src, dst)-only edge set (build-only); rebuild with " +
      "cosine to enable inserts")
    import org.apache.spark.sql.functions.broadcast
    val nodes = allEmbs.select(col(idCol).cast(LongType).as("id"),
      col(vecCol).as("v"))
    val fresh = nodes.join(broadcast(newIds.select(col("id").cast(LongType))),
        Seq("id"), "left_semi")
      .collect().map(r0 => r0.getLong(0) -> r0.getSeq[Float](1)).toSeq
      .sortBy(_._1)
    require(fresh.nonEmpty, "no new ids found in allEmbs")
    require(fresh.size <= MaxAppendBatch,
      s"${fresh.size} inserts > $MaxAppendBatch (request-sized batches; bulk = rebuild)")
    val existing = edges().select(col("src")).distinct()
      .join(broadcast(newIds.select(col("id").cast(LongType).as("src"))),
        Seq("src"), "left_semi").count()
    require(existing == 0L,
      s"$existing of the new ids already have stored edges (append is id-disjoint)")
    // The default entry must be an EXISTING node: a medoid over allEmbs
    // (which includes the new edge-less rows) can land ON a new node,
    // whose beam dies at hop 0 and the insert silently produces zero
    // edges — an unreachable node, violating the reachable-next-search
    // contract. Computed ONCE per batch (not per inserted node).
    val entry = entryId.orElse {
      val existingOnly = nodes.join(
        broadcast(newIds.select(col("id").cast(LongType))), Seq("id"), "left_anti")
      Some(GraphAnn.medoid(existingOnly, "id", "v"))
    }
    // every insert's candidate walk reads the SAME graph state (edges
    // only mutate in applyEdgeAdditions, after all candidates are
    // computed), so the walks are independent job chains and OVERLAP on
    // the Par pool — a walk is tiny sequential jobs, cores sit idle.
    // Par preserves input order, so the additions list (and therefore
    // the batch) is byte-identical to the sequential loop's.
    val additions = graft.util.Par.map(fresh) { case (nid, nvec) =>
      val qv = nvec.toArray
      // candidate neighborhood = the beam walk's visited top-searchBeam
      // (tombstoned nodes stay eligible as NEIGHBORS — they route)
      val cands = searchTopKRaw(allEmbs, idCol, vecCol, qv,
          k = searchBeam, beamWidth = searchBeam, maxHops = 64, entry)
        .filter(col(idCol) =!= nid)
        .join(nodes.withColumnRenamed("id", idCol), Seq(idCol))
        .collect()
        .map(r0 => (r0.getLong(0), r0.getDouble(1), r0.getSeq[Float](2)))
        .toSeq
      require(cands.nonEmpty,
        s"insert $nid: empty candidate neighborhood (entry $entry dead-ends " +
        "at hop 0?) — inserting it would create a silently unreachable node")
      val kept = GraphAnn.robustPrune(cands, r, alpha)
      kept.flatMap { case (t, cos) =>
        Seq((nid, t, cos), (t, nid, cos)) // out-edge + reverse edge
      }
    }.flatten
    applyEdgeAdditions(additions, r)
  }

  /** Apply edge additions bucket-by-bucket: read each touched bucket,
    * union the additions, dedup (src, dst) keeping the best cosine,
    * re-cap ONLY the nodes that actually gained an edge at top-r by
    * cosine (the reverse-insert rule), and swap the rewritten
    * directories in as one committed batch. The cap is scoped to the
    * touched srcs on purpose: re-capping the whole bucket at the
    * CALLER'S r silently pruned untouched nodes' neighborhoods whenever
    * r was smaller than the build degree (r20 ADVICE) — a node's stored
    * edges may only change when an insert lands in its neighborhood. */
  private def applyEdgeAdditions(adds: Seq[(Long, Long, Double)], r: Int): Unit = {
    if (adds.isEmpty) return
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val addDf = adds.toDF("src", "dst", "cosine")
      .withColumn("gbucket", bucketOf(col("src")))
      .localCheckpoint(true) // pinned: the swap below moves files under it
    val touched = addDf.select(col("gbucket")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    // one src maps to one bucket, so the global touched-src set scopes
    // the cap exactly like a per-bucket set would; membership rides a
    // BROADCAST semi-join on the (pinned) additions frame rather than a
    // driver-side isin literal list — a real batch touching millions of
    // srcs would explode the expression tree and the driver (r21 verdict)
    val touchedSrcDf = addDf.select(col("src")).distinct()
      .withColumn("__touched", lit(true))
    // ALL touched buckets rewrite in ONE partition-pruned read + ONE
    // partitioned write (r21): the previous per-bucket loop paid
    // read+window+write jobs PER bucket — ~3×|touched| driver-scheduled
    // jobs for the same rows. repartition(gbucket) keeps the one-file-
    // per-bucket rule (each bucket lands wholly in one task).
    val live = layout(edgesPath)
      .select(col("gbucket"), col("src"), col("dst"), col("cosine"))
    layout.commit(_.rewriteParts("edges", "gbucket", touched, live) { cur =>
      cur.unionByName(addDf.select(
          col("gbucket"), col("src"), col("dst"), col("cosine")))
        .groupBy(col("gbucket"), col("src"), col("dst"))
        .agg(max(col("cosine")).as("cosine"))
        .withColumn("__rk", row_number().over(Window.partitionBy(col("src"))
          .orderBy(col("cosine").desc, col("dst").asc)))
        .join(org.apache.spark.sql.functions.broadcast(touchedSrcDf),
          Seq("src"), "left")
        .filter(col("__rk") <= r || col("__touched").isNull)
        .select(col("gbucket"), col("src"), col("dst"),
          round(col("cosine"), 6).as("cosine"))
        .repartition(col("gbucket"))
    })
    graft.util.Pins.release(addDf)
  }

  /** Lazy delete: add ids to the tombstone table in one committed batch
    * (O(batch)); the nodes keep routing but stop returning on the next
    * search. */
  def delete(ids: DataFrame): Unit = {
    require(ids.columns.toSeq == Seq("id"),
      s"ids must be a single-column (id) frame, got ${ids.columns.toSeq}")
    layout.commit(_.add("tombstones")(dir =>
      ids.select(col("id").cast(LongType)).write.parquet(dir.toString)))
  }

  private def tombstoneIds(): Option[DataFrame] =
    if (fs.exists(new Path(tombstonesPath)))
      Some(layout(tombstonesPath).select(col("id")).distinct())
    else None

  /** Per-bucket part-file counts (the sibling observability surface):
    * build writes set the baseline and [[append]]'s bucket rewrites
    * coalesce to one file per touched bucket (the [[EmbeddingStore]]
    * rule — mutation count never inflates file count). */
  def fileStats(): DataFrame = layout.call {
    import spark.implicits._
    layout.partFiles(edgesPath, "gbucket").map(r => (r._1, r._2)).toDF("gbucket", "n_files")
      .orderBy(col("gbucket"))
  }

  /** Beam search served from the persisted layout: the X301 loop with
    * per-hop PARTITION-PRUNED edge reads and the lazy-tombstone result
    * filter. Hop pruning collects the frontier's bucket set (≤
    * `buckets` ints, bounded for ANY beam width incl. the exhaustive
    * oracle walk) and pushes it as a partition `isin` — plan-audited
    * in the suite. */
  def searchTopK(embs: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int, beamWidth: Int, maxHops: Int = 64,
      entryId: Option[Long] = None): DataFrame = {
    val resultFilter = (visited: DataFrame) => tombstoneIds() match {
      case Some(ts) => visited.join(broadcast(ts), Seq("id"), "left_anti")
      case None => visited
    }
    walk(embs, idCol, vecCol, query, k, beamWidth, maxHops, entryId,
      resultFilter)
  }

  /** The walk WITHOUT the tombstone result filter — [[append]]'s
    * candidate generator (a tombstoned node is still a valid graph
    * NEIGHBOR for a new node: it routes). */
  private def searchTopKRaw(embs: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int, beamWidth: Int, maxHops: Int,
      entryId: Option[Long]): DataFrame =
    walk(embs, idCol, vecCol, query, k, beamWidth, maxHops, entryId, identity)

  private def walk(embs: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int, beamWidth: Int, maxHops: Int,
      entryId: Option[Long],
      resultFilter: DataFrame => DataFrame): DataFrame = layout.call {
    storedBuckets()
    // the frontier's bucket set arrives from beamCore's per-hop digest
    // (collected in the same action that materializes the hop, ≤
    // `buckets` ints) and rides the edge read as a partition isin
    val hopEdges = (_: DataFrame, bs: Seq[Int]) =>
      layout(edgesPath)
        .filter(col("gbucket").isin(bs: _*))
        .select(col("src"), col("dst"))
    GraphAnn.beamCore(hopEdges, Some(bucketOf), resultFilter, embs, idCol,
      vecCol, query, k, beamWidth, maxHops, entryId)
  }

  /** Maintenance policy as a DECISION RECORD (the sibling maintain-as-
    * code surface, honestly scoped to what a graph layout can do):
    * reads the tombstone fraction and per-bucket file counts from the
    * listings, and REPORTS — it never acts, because this layout's one
    * reclamation action is a rebuild (edge-rewriting vacuum without
    * neighborhood re-patching breaks the α-prune property, the class
    * doc's StreamingMerge note), and a rebuild needs the embedding
    * corpus this handle doesn't own. One row per check:
    * (check, metric, threshold, rebuild_recommended) — the ops loop
    * that owns the corpus acts on `rebuild_recommended`. File counts
    * are informational (append rewrites coalesce, so they cannot
    * accrete; a high count means an external writer). */
  def maintain(maxTombstoneFrac: Double = 0.2): DataFrame = layout.call {
    require(maxTombstoneFrac > 0.0,
      s"maxTombstoneFrac must be > 0, got $maxTombstoneFrac")
    import spark.implicits._
    val nNodes = edges().select(col("src")).distinct().count()
    val nTomb = tombstoneIds().map(_.count()).getOrElse(0L)
    val tombFrac =
      if (nNodes == 0L) (if (nTomb > 0L) 1.0 else 0.0)
      else nTomb.toDouble / nNodes
    val maxFiles = fileStats().agg(max(col("n_files"))).head() match {
      case r if r.isNullAt(0) => 0
      case r => r.getInt(0)
    }
    Seq(
      ("tombstone_frac", math.round(tombFrac * 1e6) / 1e6,
        maxTombstoneFrac, tombFrac > maxTombstoneFrac),
      ("max_files_per_bucket", maxFiles.toDouble, 1.0, false))
      .toDF("check", "metric", "threshold", "rebuild_recommended")
  }

  /** Consistent on-disk snapshot ([[LayoutFs.Live.snapshot]]), after
    * recovery: a committed [[append]] batch must roll forward, and a
    * crashed swap's hidden backup resolve, before the tree copies, or
    * the snapshot would ship buckets in their mid-commit state. */
  def snapshot(targetPath: String): Unit = layout.snapshot(targetPath)
}
