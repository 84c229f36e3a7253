package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorFunctions._

/** Graph ANN — a Vamana/DiskANN-style bounded-degree proximity graph
  * (Subramanya et al., NeurIPS '19) built with Spark set operations, and
  * a distributed best-first beam search over it.
  *
  * Design decision vs the rest of the ANN family: IVF with
  * partition-pruned serving (X112/q153) REMAINS this engine's default
  * 100 TB answer — its probe cost maps directly onto partition-pruned
  * parquet reads, its maintenance onto the persisted-layout lifecycle,
  * and the X141 nprobe sweep prices its recall curve. A graph index
  * earns its keep where per-query latency at high recall matters more
  * than scan economics (RAM/SSD-resident serving tiers). This module
  * demonstrates that the graph path IS Spark-expressible with bounded
  * rounds — each refinement round is one candidate self-join plus a
  * per-node α-prune — so adopting it is an operating decision, not an
  * architecture change.
  *
  * Scale shape of [[buildVamana]]: init edges come from capped
  * locality (sign-bucket LSH) and pseudo-random ring groups — never an
  * all-pairs join. Each gossip round joins the candidate edge set
  * (≤ working-degree w=2r + reverse + two-hop ≈ w² per node, plus the
  * fresh injection) against the vector table and window-keeps the
  * closest w: O(N · w² · dim) bytes shuffle per round, the honest
  * communication cost every distributed graph-ANN build pays (at the
  * 100 TB point the candidate payload would ride PQ codes, X143, not
  * raw floats — same plan shape). Rounds are bounded by the caller;
  * the final α-prune is per-node imperative logic over a ≤ w-element
  * array, the documented map-side `mapPartitions`-class exception.
  *
  * Scale shape of [[beamSearchTopK]]: the frontier expands as
  * (frontier ⋈ adjacency) id joins — per hop, |beam|·r candidate ids,
  * never vectors driver-side; adjacency stays a DataFrame, so a
  * billion-edge graph serves from its partitioned form (the broadcast
  * variant is just what AQE picks when the graph is small). Hops are
  * bounded; every hop's visited set is pinned and the superseded pin
  * released (the internal-pin rule).
  */
object GraphAnn {

  /** Per-node degree bound ceiling — a plan-width/shuffle-volume knob
    * (candidate groups are capped at 4r²). DiskANN ships r = 32..128;
    * 128 keeps the capped candidate payload ≤ ~64k vectors per node. */
  val MaxDegree = 128

  /** Widest beam the driver-side walk accepts — bounds every isin
    * literal list (frontier ≤ beam, fresh ≤ beam·MaxDegree, both InSet
    * past the conversion threshold) and the walk's driver memory. Every
    * engine serve uses beams ≤ 32; wider-but-bounded callers fall back
    * to the distributed loop. */
  val DriverWalkMaxBeam = 256

  private def fdot(a: Seq[Float], b: Seq[Float]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  private def fcos(a: Seq[Float], b: Seq[Float]): Double =
    fdot(a, b) / (math.sqrt(fdot(a, a)) * math.sqrt(fdot(b, b)) + CosineEps)

  /** Vamana RobustPrune (DiskANN Algorithm 2) in cosine distance
    * d = 1 − cos: walk candidates closest-first (ties id-asc), keep the
    * closest, and drop every remaining candidate the kept one "covers"
    * (α·d(kept, c) ≤ d(p, c)) — α > 1 trades degree for direction
    * diversity, the property that makes greedy search converge. Kept
    * list is bounded by `r`. Exposed private[graft] for the
    * hand-computed suite case and [[graft.sources.GraphIndex.append]]'s
    * insert-time prune. */
  private[graft] def robustPrune(cands: Seq[(Long, Double, Seq[Float])],
      r: Int, alpha: Double): Seq[(Long, Double)] = {
    val kept = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Seq[Float])]
    var pool = cands.sortBy { case (dst, cos, _) => (-cos, dst) }.toList
    while (pool.nonEmpty && kept.size < r) {
      val best = pool.head
      kept += best
      pool = pool.tail.filter { case (_, cos, dv) =>
        alpha * (1.0 - fcos(best._3, dv)) > (1.0 - cos)
      }
    }
    kept.map { case (dst, cos, _) => (dst, cos) }.toSeq
  }

  /** The corpus medoid id: the row whose vector is most cosine-similar
    * to the per-dimension mean — the standard graph entry point (a
    * central node reaches everything in few hops). One tiny aggregate
    * pass (dim rows collect) + one [[Ann.bruteForceTopK]] scan. */
  def medoid(embs: DataFrame, idCol: String, vecCol: String): Long = {
    val mean = embs
      .select(posexplode(col(vecCol)).as(Seq("d", "x")))
      .groupBy(col("d")).agg(avg(col("x").cast(DoubleType)).as("m"))
      .orderBy(col("d")).collect().map(_.getDouble(1).toFloat)
    Ann.bruteForceTopK(embs, idCol, vecCol, mean, 1).head().getLong(0)
  }

  /** Build a bounded-degree proximity graph: NN-Descent-style candidate
    * generation (Dong et al., WWW '11) finalized with Vamana's
    * RobustPrune. Init = capped LSH + pseudo-random ring groups; each
    * gossip round expands candidates (current ∪ reverse ∪ two-hop ∪
    * FRESH round-salted random ring edges) and keeps the closest
    * `2r` per node — a plain window, no per-node state. The fresh
    * random injection is load-bearing: without it the closest-K
    * closure collapses into near-cliques and stalls after ~2 rounds
    * (measured on structureless vectors: avg kept cosine froze at
    * 0.09; with injection it converges to 0.23 by round 4 ≈ the exact
    * kNN level on the same slice). α-diversity pruning runs ONCE at
    * the end (pruning during gossip also slows convergence — the
    * diverse edges crowd out the closest ones the next round needs),
    * then reverse edges fold back in under a top-`r`-by-cosine degree
    * cap (reachability insurance — Vamana's reverse-insert step).
    * Returns `(src, dst, cosine)` with cosine round-6 and out-degree
    * ≤ r. Deterministic end-to-end: hash-seeded init and injection,
    * id-asc tie rule. */
  def buildVamana(embs: DataFrame, idCol: String, vecCol: String,
      r: Int, alpha: Double = 1.2, rounds: Int = 2,
      initBits: Int = 8, seed: String = "vamana0"): DataFrame = {
    require(r >= 1 && r <= MaxDegree, s"degree bound r in [1, $MaxDegree], got $r")
    require(alpha >= 1.0, s"alpha >= 1 (DiskANN's diversity knob), got $alpha")
    require(rounds >= 1 && rounds <= 8, s"rounds in [1, 8], got $rounds")
    val spark = embs.sparkSession
    import spark.implicits._
    val nodes = embs.select(col(idCol).cast(LongType).as("id"),
      col(vecCol).as("v"))
    val n = nodes.count()
    val fan = math.max(1, r / 2)
    // ring-connect the members of each group: ordered by a salted hash
    // (deterministic shuffle), node i points at its next `fan` cyclic
    // successors — degree exactly min(fan, size-1), no all-pairs blow-up
    def ringEdges(grouped: DataFrame): DataFrame = grouped
      .select(explode(col("ms")).as("m"), col("ms"))
      .select(col("m.id").as("src"),
        // positions of this member and the group array are 1-based
        array_position(transform(col("ms"), x => x.getField("id")),
          col("m.id")).as("p"),
        transform(col("ms"), x => x.getField("id")).as("ids"))
      .select(col("src"), explode(transform(sequence(lit(1), lit(fan)),
        j => element_at(col("ids"),
          (pmod(col("p") - 1 + j, size(col("ids"))) + 1)
            .cast(IntegerType)))).as("dst"))
      .filter(col("src") =!= col("dst"))
    def grouping(bucket: Column, salt: String): DataFrame = nodes
      .withColumn("h", xxhash64(col("id"), lit(salt)))
      .groupBy(bucket.as("b"))
      .agg(array_sort(collect_list(struct(col("h"), col("id")))).as("ms"))
    // locality groups: sign-bucket LSH, subdivided by hash so a skewed
    // bucket never collects more than ~256 members in one group
    val locality = grouping(
      concat_ws(":", Ann.signBucket(col("v"), initBits).cast(StringType),
        pmod(xxhash64(col("id"), lit(seed + ":sub")), lit(256))
          .cast(StringType)),
      seed + ":l")
    // pseudo-random groups of ~2r members — DiskANN's random init,
    // hash-derived so the build is replayable
    val nGroups = math.max(1L, n / math.max(1, 2 * r))
    def randomRing(salt: String): DataFrame = ringEdges(grouping(
      pmod(xxhash64(col("id"), lit(seed + ":g" + salt)), lit(nGroups)),
      seed + ":r" + salt))
    var adj = ringEdges(locality).union(randomRing("0")).distinct()
      .localCheckpoint(true)
    val w = math.min(MaxDegree, 2 * r) // working degree during gossip
    def scoreEdges(cands: DataFrame): DataFrame = cands
      .join(nodes.select(col("id").as("src"), col("v").as("sv")), "src")
      .join(nodes.select(col("id").as("dst"), col("v").as("dv")), "dst")
      .withColumn("cos", vecCosine(col("sv"), col("dv")))
    for (round <- 1 to rounds) {
      val rev = adj.select(col("dst").as("src"), col("src").as("dst"))
      val hop2 = adj.as("a").join(adj.as("b"), col("a.dst") === col("b.src"))
        .select(col("a.src").as("src"), col("b.dst").as("dst"))
      val cands = adj.select("src", "dst").union(rev).union(hop2)
        .union(randomRing(round.toString))
        .filter(col("src") =!= col("dst")).distinct()
      // closest-w window keep: the reverse union gives hubs unbounded
      // in-degree, and the window (sort-based, spill-safe) is also the
      // hub cap — no per-node collection during gossip
      val kept = scoreEdges(cands)
        .withColumn("__rk", row_number().over(Window.partitionBy(col("src"))
          .orderBy(col("cos").desc, col("dst").asc)))
        .filter(col("__rk") <= w)
        .select(col("src"), col("dst")).localCheckpoint(true)
      graft.util.Pins.release(adj)
      adj = kept
    }
    // final α-prune to degree r: one per-node pass over the ≤ w kept
    // candidates (bounded array — the map-side imperative exception)
    val grouped = scoreEdges(adj.select("src", "dst"))
      .groupBy(col("src").as("_1"))
      .agg(collect_list(struct(col("dst").as("_1"), col("cos").as("_2"),
        col("dv").as("_3"))).as("_2"))
      .as[(Long, Seq[(Long, Double, Seq[Float])])]
    val pruned = grouped.flatMap { case (src, cs) =>
      robustPrune(cs, r, alpha).map { case (dst, cos) => (src, dst, cos) }
    }.toDF("src", "dst", "cos").localCheckpoint(true)
    graft.util.Pins.release(adj)
    // reverse insert under the degree cap: an edge u→v implies v should
    // usually see u too; rank the union by cosine, keep top-r per node
    val withRev = pruned
      .union(pruned.select(col("dst").as("src"), col("src").as("dst"), col("cos")))
      .groupBy(col("src"), col("dst")).agg(max(col("cos")).as("cos"))
      .withColumn("__rk", row_number().over(Window.partitionBy(col("src"))
        .orderBy(col("cos").desc, col("dst").asc)))
      .filter(col("__rk") <= r)
      .select(col("src"), col("dst"), round(col("cos"), 6).as("cosine"))
    val out = withRev.localCheckpoint(true)
    graft.util.Pins.release(pruned)
    out
  }

  /** Distributed best-first beam search (DiskANN GreedySearch over a
    * DataFrame adjacency): keep a visited set scored against the query
    * (a literal — the X95 convention), each hop expand every
    * not-yet-expanded node inside the current cosine-top-`beamWidth`,
    * stop when that window is fully expanded (converged), the frontier
    * dies, or `maxHops`. `beamWidth = Int.MaxValue` disables the window
    * — the walk then visits EXACTLY the entry's reachable set, which is
    * what the recursive-CTE oracle mirrors (q345). Returns the visited
    * top-k as `(idCol, cosine)`, cosine round-6, ties id-asc. */
  def beamSearchTopK(adj: DataFrame, embs: DataFrame, idCol: String,
      vecCol: String, query: Array[Float], k: Int, beamWidth: Int,
      maxHops: Int = 64, entryId: Option[Long] = None): DataFrame = {
    val edges = adj.select(col("src"), col("dst"))
    beamCore((_, _) => edges, None, identity, embs, idCol, vecCol, query, k,
      beamWidth, maxHops, entryId)
  }

  /** Beam-width tuning sweep (the X141 nprobe-sweep discipline on the
    * graph serving tier): for every candidate `beamWidth`, mean
    * recall@k over a sample of serving queries against the exact scan
    * — the recall-vs-latency curve that picks a graph index's
    * operating point (beam is the graph knob the way nprobe is the
    * IVF knob). Each (query, beam) pair is an independent walk, so the
    * sweep is |queries|·|beams| bounded serve calls plus |queries|
    * exact scans — sample-sized by contract, like [[mmrRerank]]'s
    * driver-bounded greedy. Ties follow the engine-wide id-asc rule on
    * both sides. Returns (beam_width, n_queries, mean_recall) ordered
    * by beam_width; deterministic end-to-end. */
  def beamSweep(adj: DataFrame, embs: DataFrame, idCol: String,
      vecCol: String, queries: Seq[(Long, Array[Float])], k: Int,
      beamWidths: Seq[Int], maxHops: Int = 64,
      entryId: Option[Long] = None): DataFrame = {
    require(queries.nonEmpty && queries.size <= 64,
      s"sample-sized query set, [1, 64], got ${queries.size}")
    require(queries.map(_._1).distinct.size == queries.size, "duplicate query ids")
    require(beamWidths.nonEmpty && beamWidths.forall(_ >= k),
      s"every beamWidth must be >= k=$k, got $beamWidths")
    val spark = embs.sparkSession
    import spark.implicits._
    // every (query, beam) walk — and every exact-scan leg — is an
    // independent read-only job chain over the same frames, so they
    // OVERLAP on a small driver pool ([[graft.util.Par]], the guide
    // §2.6 pattern: a walk is a chain of tiny sequential jobs that
    // leaves most cores idle). Results keep the input order, so the
    // sweep stays deterministic end-to-end.
    val exactByQ = graft.util.Par.map(queries) { case (qid, qv) =>
      qid -> Ann.bruteForceTopK(embs, idCol, vecCol, qv, k)
        .collect().map(_.getLong(0)).toSet
    }.toMap
    val rows = graft.util.Par.map(
      for ((qid, qv) <- queries; b <- beamWidths) yield (qid, qv, b)) {
      case (qid, qv, b) =>
        val got = beamSearchTopK(adj, embs, idCol, vecCol, qv, k, b,
          maxHops, entryId).collect().map(_.getLong(0))
        (b, qid, got.count(exactByQ(qid)))
    }
    rows.toDF("beam_width", "qid", "hits")
      .groupBy(col("beam_width"))
      .agg(count(lit(1)).as("n_queries"),
        round(avg(col("hits").cast(DoubleType) / k), 6).as("mean_recall"))
      .orderBy(col("beam_width"))
  }

  /** The beam loop itself, shared between the in-memory serve
    * ([[beamSearchTopK]] — a constant edge frame) and the persisted
    * serve ([[graft.sources.GraphIndex.searchTopK]] — a per-hop
    * partition-pruned read of exactly the frontier's adjacency
    * buckets). `hopEdges(frontier, buckets)` supplies the (src, dst)
    * edges to expand this hop's frontier with — the persisted backend
    * prunes its read to `buckets`, the frontier's bucket set;
    * `resultFilter` post-filters the visited set before the final cut
    * (the persisted layout's lazy tombstone semantics: deleted nodes
    * ROUTE — their edges still carry the walk, the FreshDiskANN
    * lazy-delete rule — but never RETURN).
    *
    * ONE Spark action per hop (r21): the hop's new visited set is
    * lazily local-checkpointed and the next frontier's tiny digest
    * (its distinct bucket ids via `frontierBucket`, ≤ B ints — or a
    * single 0 for the in-memory backend) is collected in the SAME
    * action that materializes it. The walk is driver-orchestrated by
    * design, so its floor is the job count — the previous shape paid
    * three actions per hop (frontier-emptiness count, bucket collect,
    * eager checkpoint) for the same visited-set evolution. */
  private[graft] def beamCore(hopEdges: (DataFrame, Seq[Int]) => DataFrame,
      frontierBucket: Option[Column => Column],
      resultFilter: DataFrame => DataFrame, embs: DataFrame, idCol: String,
      vecCol: String, query: Array[Float], k: Int, beamWidth: Int,
      maxHops: Int, entryId: Option[Long]): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(beamWidth >= k, s"beamWidth >= k, got $beamWidth < $k")
    require(maxHops >= 1 && maxHops <= 256, s"maxHops in [1, 256], got $maxHops")
    val spark = embs.sparkSession
    import spark.implicits._
    val nodes = embs.select(col(idCol).cast(LongType).as("id"),
      col(vecCol).as("v"))
    // the one scoring expression both walks evaluate
    val cos = vecCosine(col("v"), lit(query).cast(ArrayType(FloatType))).as("cos")
    def scoreIds(ids: DataFrame): DataFrame = ids
      .join(nodes, "id")
      .select(col("id"), cos)
    val bucketExpr: Column => Column =
      frontierBucket.getOrElse((_: Column) => lit(0))
    // Bounded beams walk DRIVER-SIDE (r22): the visited set of a
    // width-b walk is ≤ b·degree·hops (id, cos) pairs — the engine's
    // bounded-scalar-anchor class — while the DataFrame loop paid ~5
    // AQE exchange-stage jobs per hop (window sort, frontier joins,
    // union, digest agg; q352 profiled 149 such jobs). Here a hop is
    // TWO narrow scans with no exchange: the frontier's pruned edge
    // read (same gbucket partition filter, plus a src pushdown) and
    // one scoring scan whose cosine is the SAME Spark expression the
    // distributed walk evaluates — bit-identical values, same
    // (cos desc, id asc) total order, same convergence rule, same
    // maxHops (suite-pinned parity). The EXHAUSTIVE walk
    // (beamWidth = Int.MaxValue, the q345-class oracle shape) keeps
    // the distributed loop: its visited set is the reachable SET,
    // unbounded by contract.
    if (beamWidth <= DriverWalkMaxBeam) {
      def score(ids: Seq[Long]): Seq[(Long, Double, Int)] =
        if (ids.isEmpty) Nil
        else nodes.filter(col("id").isin(ids: _*))
          .select(col("id"), cos, bucketExpr(col("id")).cast(IntegerType).as("b"))
          .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
      val cosOf = scala.collection.mutable.HashMap.empty[Long, Double]
      val bucketIdOf = scala.collection.mutable.HashMap.empty[Long, Int]
      val expanded = scala.collection.mutable.HashSet.empty[Long]
      val entry = entryId.getOrElse(medoid(embs, idCol, vecCol))
      score(Seq(entry)).foreach { case (i, c, b) =>
        cosOf(i) = c; bucketIdOf(i) = b }
      def frontierNow(): Seq[Long] = cosOf.toSeq
        .sortBy { case (i, c) => (-c, i) }.take(beamWidth)
        .map(_._1).filterNot(expanded)
      var hop = 0
      var frontier = frontierNow()
      while (frontier.nonEmpty && hop < maxHops) {
        val bs = frontier.map(bucketIdOf).distinct.sorted
        val dsts = hopEdges(frontier.toDF("id"), bs)
          .filter(col("src").isin(frontier: _*))
          .select(col("dst")).collect().map(_.getLong(0))
        expanded ++= frontier
        val fresh = dsts.distinct.filterNot(cosOf.contains).sorted
        score(fresh).foreach { case (i, c, b) =>
          cosOf(i) = c; bucketIdOf(i) = b }
        hop += 1
        frontier = frontierNow()
      }
      val vis = cosOf.toSeq.sortBy(_._1).toDF("id", "cos")
      return resultFilter(vis)
        .orderBy(col("cos").desc, col("id").asc).limit(k)
        .select(col("id").as(idCol), round(col("cos"), 6).as("cosine"))
        .localCheckpoint(true)
    }
    def windowOf(vis: DataFrame): DataFrame =
      if (beamWidth == Int.MaxValue) vis
      else vis.orderBy(col("cos").desc, col("id").asc).limit(beamWidth)
    // the frontier digest: distinct bucket ids of the not-yet-expanded
    // window — empty ⟺ the walk converged. Running it materializes the
    // lazily-checkpointed visited set it derives from.
    def digest(vis: DataFrame): Seq[Int] =
      windowOf(vis).filter(!col("expanded"))
        .select(bucketExpr(col("id")).cast(IntegerType).as("b")).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
    val entry = entryId.getOrElse(medoid(embs, idCol, vecCol))
    var visited = scoreIds(Seq(entry).toDF("id"))
      .withColumn("expanded", lit(false)).localCheckpoint(false)
    var bs = digest(visited)
    var hop = 0
    while (bs.nonEmpty && hop < maxHops) {
      val frontier = windowOf(visited).filter(!col("expanded")).select(col("id"))
      val fresh = frontier.withColumnRenamed("id", "src")
        .join(hopEdges(frontier, bs), "src").select(col("dst").as("id")).distinct()
        .join(visited.select("id"), Seq("id"), "left_anti")
      val next = visited
        .join(frontier.withColumn("__f", lit(true)), Seq("id"), "left")
        .select(col("id"), col("cos"),
          (col("expanded") || coalesce(col("__f"), lit(false))).as("expanded"))
        .union(scoreIds(fresh).withColumn("expanded", lit(false)))
        .localCheckpoint(false)
      val nbs = digest(next)
      graft.util.Pins.release(visited)
      visited = next
      bs = nbs
      hop += 1
    }
    val out = resultFilter(visited)
      .orderBy(col("cos").desc, col("id").asc).limit(k)
      .select(col("id").as(idCol), round(col("cos"), 6).as("cosine"))
      .localCheckpoint(true)
    graft.util.Pins.release(visited)
    out
  }
}
