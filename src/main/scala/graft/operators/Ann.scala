package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Three tiers, trading recall for scan cost at 100 TB:
  *  1. [[bruteForceTopK]] — exact cosine over every row; one pass, no
  *     shuffle except the final TakeOrdered merge. The correctness
  *     baseline.
  *  2. [[knnJoin]] — exact k-NN for a *set* of query points: broadcast the
  *     query side, per-partition scoring, per-query top-k via window.
  *  3. [[lshTopK]] — sign-bit prefix bucketing (random-hyperplane LSH with
  *     the identity basis, i.e. the reference's own binary-sketch idea,
  *     `src/VectorTable.php:482-487`): probe only buckets within small
  *     hamming distance of the query's bucket, then exact rerank. Scan cost
  *     drops from O(N) to O(N * buckets_probed / 2^bits).
  */
object Ann {

  /** Exact cosine top-k against one query vector. orderBy+limit plans as
    * TakeOrderedAndProject: per-partition heap, single merge — the
    * distributed form of the reference's CosimMaxHeap
    * (`src/VectorTable.php:18-22`). */
  def bruteForceTopK(embs: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int): DataFrame = {
    embs
      .withColumn("cosine", vecCosine(col(vecCol), lit(query).cast(ArrayType(FloatType))))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), round(col("cosine"), 6).as("cosine"))
  }

  /** Exact k-NN join: for every query row, its top-k neighbors among data
    * rows. Query side is broadcast (small); scoring is map-side only;
    * the per-query top-k window shuffles on query id — k*|Q| rows, not
    * |Q|*|N|. */
  def knnJoin(queries: DataFrame, data: DataFrame, qId: String, dId: String,
      qVec: String, dVec: String, k: Int): DataFrame = {
    val scored = data.crossJoin(broadcast(queries.select(
        col(qId).as("query_id"), col(qVec).as("__qv"))))
      .withColumn("cosine", vecCosine(col(dVec), col("__qv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col(dId).asc)
    scored
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col("query_id"), col(dId).as("neighbor_id"),
        round(col("cosine"), 6).as("cosine"), col("__rk").as("rank"))
  }

  /** Hard-negative mining for contrastive training (X91): for every
    * anchor, the top-k most-similar corpus rows OUTSIDE the anchor's own
    * group — the "close but wrong" examples that make a contrastive
    * objective learn boundaries instead of trivia (in-batch randoms are
    * too easy; same-group rows are positives, not negatives). `group`
    * is whatever equivalence the pipeline already has: the X7 connected
    * component, the exact-dup group, a source/domain key.
    *
    * Same plan family as [[knnJoin]] (broadcast anchors over one corpus
    * pass, per-anchor top-k window) plus the group-exclusion predicate —
    * the anchor's group rides along in the broadcast, so exclusion is a
    * codegen'd inequality, not a join. The inequality is NULL-SAFE
    * (`<=>`): null groups form a single "ungrouped" pseudo-group, so
    * ungrouped corpus rows are valid negatives for every grouped anchor
    * (a plain `=!=` silently dropped them from every pool), and an
    * ungrouped anchor excludes exactly the other ungrouped rows. Emits
    * (anchor_id, neighbor_id, neighbor's group, cosine, rank). */
  def hardNegatives(anchors: DataFrame, data: DataFrame, aId: String, dId: String,
      aVec: String, dVec: String, aGroup: String, dGroup: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val scored = data.crossJoin(broadcast(anchors.select(
        col(aId).as("anchor_id"), col(aVec).as("__av"), col(aGroup).as("__ag"))))
      .filter(!(col(dGroup) <=> col("__ag")))
      .withColumn("cosine", vecCosine(col(dVec), col("__av")))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cosine").desc, col(dId).asc)
    scored
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col("anchor_id"), col(dId).as("neighbor_id"),
        col(dGroup).as("neighbor_group"),
        round(col("cosine"), 6).as("cosine"), col("__rk").as("rank"))
  }

  /** Sign-bit prefix bucket key (first `bits` dimensions). */
  def signBucket(vec: Column, bits: Int): Column =
    concat_ws("", (0 until bits).map(i =>
      when(element_at(vec, i + 1) > 0f, "1").otherwise("0")): _*)

  /** LSH-bucketed ANN: probe the query's bucket plus all buckets within
    * `probeHamming` sign-bit flips, exact-rerank inside. With b bits and
    * p probes, the expected scan fraction is sum_{i<=p} C(b,i) / 2^b. */
  def lshTopK(embs: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int, bits: Int = 12, probeHamming: Int = 1): DataFrame = {
    // fail fast instead of bucketing past the vector's end: out-of-range
    // element_at throws under ANSI or silently merges every vector into
    // the same null->'0' buckets (same guard as Dedup.embeddingNearDups).
    // Embedding columns are fixed-dim, so one sampled row stands in for
    // the column (ragged inputs are out of contract); the take(1) costs
    // one small eager job per call.
    require(bits <= query.length,
      s"bits ($bits) exceeds the query dimension (${query.length})")
    embs.select(size(col(vecCol))).take(1).foreach { r =>
      require(!r.isNullAt(0), s"lshTopK: null $vecCol in the sampled row")
      require(bits <= r.getInt(0),
        s"bits ($bits) exceeds the embedding dimension (${r.getInt(0)})")
    }
    val qBucket = (0 until bits).map(i => if (query(i) > 0f) "1" else "0").mkString
    val probes = bucketsWithin(qBucket, probeHamming)
    val candidates = embs
      .withColumn("__bucket", signBucket(col(vecCol), bits))
      .filter(col("__bucket").isin(probes: _*))
    bruteForceTopK(candidates, idCol, vecCol, query, k)
  }

  /** All bucket strings within hamming distance `maxFlips` of `bucket`. */
  def bucketsWithin(bucket: String, maxFlips: Int): Seq[String] = {
    def flips(s: String, from: Int, left: Int): Seq[String] =
      if (left == 0) Seq(s)
      else Seq(s) ++ (from until s.length).flatMap { i =>
        val flipped = s.updated(i, if (s(i) == '1') '0' else '1')
        flips(flipped, i + 1, left - 1).filterNot(_ == s)
      }
    flips(bucket, 0, maxFlips).distinct
  }

  /** IVF-style coarse quantizer: assign each vector to its nearest of
    * `centroids` (broadcast), store as a partition key. Queries then scan
    * only `nprobe` nearest inverted lists. Centroid training is caller's
    * choice (e.g. per-label means or a KMeans fit); assignment here is the
    * scale-relevant part — one broadcast pass, no shuffle. */
  def ivfAssign(embs: DataFrame, vecCol: String, centroids: Seq[Array[Float]]): DataFrame = {
    val cents = array(centroids.map(c => lit(c).cast(ArrayType(FloatType))): _*)
    // stage the per-centroid scores once: argmax references the array
    // twice, and an inline transform would run the k dot products twice
    // per row (no CSE across HOF lambdas)
    embs
      .withColumn("__scores", transform(cents, c => vecDot(col(vecCol), c)))
      .withColumn("ivf_list",
        (array_position(col("__scores"), array_max(col("__scores"))) - 1).cast(IntegerType))
      .drop("__scores")
  }

  /** Train IVF centroids with MLlib KMeans (seeded — deterministic).
    * The scale path for the coarse quantizer: sample-fit on the driver-side
    * cluster, then [[ivfAssign]] partitions the full table in one broadcast
    * pass. Returns the centroids ordered by cluster id. */
  def trainCentroids(embs: DataFrame, vecCol: String, k: Int,
      seed: Long = 42L, maxIter: Int = 20): Seq[Array[Float]] = {
    val train = embs.select(
      org.apache.spark.ml.functions.array_to_vector(col(vecCol)).as("features"))
    val model = new org.apache.spark.ml.clustering.KMeans()
      .setK(k).setSeed(seed).setMaxIter(maxIter)
      .fit(train)
    model.clusterCenters.toSeq.map(_.toArray.map(_.toFloat))
  }

  /** One deterministic Lloyd update, DataFrame-only and oracle-expressible
    * (unlike MLlib's [[trainCentroids]], whose init sampling is
    * JVM-specific): assign each vector to its argmax-dot centroid, then
    * per-(cluster, dim) means via posexplode + hash agg. Means accumulate
    * in DECIMAL(28,8) so the result is bit-identical across engines AND
    * across partitionings (a plain double sum's value depends on
    * accumulation order). Output: (cid, dim, c).
    *
    * Scale: one broadcast assignment pass + one shuffle whose map-side
    * combine collapses each task to k*dim rows — the classic distributed
    * KMeans step. */
  def lloydIter(embs: DataFrame, vecCol: String, centroids: Seq[Array[Float]]): DataFrame = {
    val dec = DecimalType(28, 8)
    ivfAssign(embs, vecCol, centroids)
      .select(col("ivf_list").as("cid"), posexplode(col(vecCol)).as(Seq("dim", "__x")))
      .groupBy(col("cid"), col("dim"))
      .agg((sum(col("__x").cast(DoubleType).cast(dec)).cast(DoubleType) /
        count(lit(1)).cast(DoubleType)).as("c"))
  }

  /** Deterministic KMeans: init = the `k` vectors with the smallest ids,
    * then `iters` Lloyd rounds via [[lloydIter]]. A cluster that loses all
    * members keeps its previous centroid. Reproducible across engines and
    * cluster sizes — use when that matters more than MLlib's k-means||
    * init quality. Per round only k*dim aggregated values reach the
    * driver. */
  def lloydTrain(embs: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int): Seq[Array[Float]] = {
    val init = embs.orderBy(col(idCol)).limit(k).select(col(vecCol)).collect()
      .map(r => r.getSeq[Float](0).toArray).toSeq
    require(init.nonEmpty, "lloydTrain needs at least one vector")
    lloydRounds(embs, vecCol, init, iters)
  }

  /** `iters` Lloyd rounds from an EXPLICIT warm start — the shared core
    * of [[lloydTrain]] (smallest-id init) and [[graft.sources.IvfIndex
    * .retrain]] (current stored centroids as init). A cluster that loses
    * all members keeps its previous centroid; per round only k*dim
    * aggregated values reach the driver. */
  def lloydRounds(embs: DataFrame, vecCol: String,
      init: Seq[Array[Float]], iters: Int): Seq[Array[Float]] = {
    var cents = init
    for (_ <- 0 until iters) {
      val means = lloydIter(embs, vecCol, cents).collect()
        .groupBy(_.getInt(0))
      cents = cents.zipWithIndex.map { case (old, i) =>
        means.get(i).fold(old) { rows =>
          val byDim = rows.map(r => r.getInt(1) -> r.getDouble(2)).toMap
          old.indices.map(d => byDim.getOrElse(d, old(d).toDouble).toFloat).toArray
        }
      }
    }
    cents
  }

  /** IVF query path over an [[ivfAssign]]-ed table: rank centroids against
    * the query driver-side (numLists is small), scan only the `nprobe`
    * nearest inverted lists — with `ivf_list` as a partition/bucket column
    * the scan prunes to nprobe/numLists of the data — then exact top-k
    * inside. nprobe == numLists degenerates to exact brute force. */
  /** Mean-pool chunk embeddings into one vector per group — the
    * chunk→document pooling step of an embedding pipeline (a doc embeds
    * as the mean of its chunk embeddings; rerank stages then work at doc
    * granularity). Emits `(gid, n_chunks, pooled)` with doubles.
    *
    * Determinism: each group's rows collect SORTED by the order column,
    * then a sequential per-dimension double fold (`aggregate`) — the
    * index-ordered accumulation discipline that keeps every float path
    * here oracle-exact; a parallel SUM over floats is
    * partition-order-dependent. Scale: ONE exchange on the group key;
    * a group is one document's chunk set (tens of rows), so the sorted
    * per-group array is small by construction. */
  def meanPool(embs: DataFrame, group: Column, order: Column,
      vecCol: String): DataFrame = {
    val grouped = embs
      .select(group.as("gid"), struct(order.as("o"), col(vecCol).as("v")).as("s"))
      .groupBy(col("gid"))
      .agg(array_sort(collect_list(col("s"))).as("__rows"))
    val dim = size(element_at(col("__rows"), 1).getField("v"))
    val n = size(col("__rows"))
    grouped.select(col("gid"), n.cast(LongType).as("n_chunks"),
      transform(sequence(lit(1), dim), d =>
        round(aggregate(col("__rows"), lit(0.0),
          (acc, r) => acc + element_at(r.getField("v"), d).cast(DoubleType)) /
          n.cast(DoubleType), 6)).as("pooled"))
  }

  /** Pairwise embedding-centroid similarity between groups (sources,
    * labels, corpus snapshots): each group's centroid via [[meanPool]]
    * (bit-exact index-ordered mean, rounded per dim), then cosine between
    * every centroid pair — the embedding-space drift diagnostic (two
    * crawls whose centroids diverge fast have distribution shift the
    * token-level [[graft.operators.CorpusStats.vocabOverlap]] can't see;
    * a retrain trigger for IVF/PQ codebooks).
    *
    * Scale: groups number in the tens-to-thousands, so the pair join is
    * a centroid-frame self-join — corpus cost is meanPool's single group
    * exchange. Determinism: pooled dims are already rounded doubles;
    * the pair cosine is the engine's sequential dot + one sqrt product,
    * q34's 1e-12 epsilon guard. */
  def centroidDrift(embs: DataFrame, key: Column, idCol: String,
      vecCol: String): DataFrame = {
    val cents = meanPool(embs, key, col(idCol), vecCol)
    val a = cents.select(col("gid").as("k1"), col("n_chunks").as("n1"),
      col("pooled").as("__v1"))
    val b = cents.select(col("gid").as("k2"), col("n_chunks").as("n2"),
      col("pooled").as("__v2"))
    // centroids are array<double> — vecDot is the FLOAT codegen kernel
    // (getFloat on a double array is garbage); sequential double fold here
    def ddot(x: Column, y: Column) =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, e) => acc + e)
    a.join(b, col("k1") < col("k2"))
      .withColumn("cosine", round(
        ddot(col("__v1"), col("__v2")) /
          (sqrt(ddot(col("__v1"), col("__v1"))) *
            sqrt(ddot(col("__v2"), col("__v2"))) + lit(1e-12)), 6))
      .select(col("k1"), col("k2"), col("n1"), col("n2"), col("cosine"))
  }

  /** Prototypicality scores (X155; the metric of Sorscher et al.,
    * "Beyond neural scaling laws", NeurIPS'22 2206.14486 — cosine to the
    * member's own cluster centroid): takes ANY (id, cluster) assignment
    * frame (the [[graft.operators.CorpusStats.clusterDatasheet]]
    * contract — [[ivfAssign]], a stored sidecar, external labels), so it
    * composes with every clustering the engine produces. Returns
    * (id, cluster, proto_cos): high = prototypical/easy, low =
    * outlier/hard.
    *
    * Determinism: per-(cluster, dim) centroid means use the [[lloydIter]]
    * decimal accumulation (exact, order-independent), assembled into an
    * ordered array and quantized to FLOAT (the precision stored serving
    * centroids actually have); the member·centroid cosine is the
    * engine's sequential double dot with q34's 1e-12 guard, round-6.
    * Scale shape: one posexplode aggregate (map-side combined) collapses
    * the corpus to clusters×dims rows, the centroid frame broadcasts
    * back, scoring is per-row — vectors cross exactly one cluster-keyed
    * exchange (the centroid build), never a pair join. */
  def prototypeScores(embs: DataFrame, idCol: String, vecCol: String,
      assign: DataFrame): DataFrame = {
    require(assign.columns.toSeq.sorted == Seq("cluster", "id"),
      s"assign must be an (id, cluster) frame, got ${assign.columns.toSeq}")
    val dec = DecimalType(28, 8)
    val joined = embs
      .select(col(idCol).cast(LongType).as("id"), col(vecCol).as("__v"))
      .join(assign, Seq("id"))
    val cent = joined
      .select(col("cluster"), posexplode(col("__v")).as(Seq("dim", "__x")))
      .groupBy(col("cluster"), col("dim"))
      .agg((sum(col("__x").cast(DoubleType).cast(dec)).cast(DoubleType) /
        count(lit(1)).cast(DoubleType)).as("c"))
      .groupBy(col("cluster"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
        s => s.getField("c").cast(FloatType)).as("__cent"))
    joined.join(broadcast(cent), Seq("cluster"))
      .select(col("id"), col("cluster"),
        round(vecCosine(col("__v"), col("__cent")), 6).as("proto_cos"))
  }

  /** Prototypicality pruning (X155; Sorscher et al. 2206.14486 Fig. 1's
    * actionable rule): within each cluster keep the `keepFrac` fraction
    * ranked by [[prototypeScores]] — `mode = "hard"` keeps the LEAST
    * prototypical members (the paper's choice for abundant data: easy,
    * redundant examples go), `"easy"` keeps the most prototypical (the
    * small-data regime). Returns every row flagged —
    * (id, cluster, proto_cos, rank, n_cluster, keep) — so the caller can
    * audit the boundary before filtering (`keep = rank ≤
    * ceil(keepFrac·n)`, every cluster retains ≥ 1 member).
    *
    * Ties break by id (total order, cross-engine). The per-cluster rank
    * is a cluster-keyed window — clusters are index-list-sized, the
    * standard per-group sort. */
  def prototypePrune(embs: DataFrame, idCol: String, vecCol: String,
      assign: DataFrame, keepFrac: Double, mode: String): DataFrame = {
    require(keepFrac > 0.0 && keepFrac <= 1.0,
      s"keepFrac must be in (0,1], got $keepFrac")
    require(mode == "easy" || mode == "hard", s"mode must be easy|hard, got $mode")
    val ord =
      if (mode == "easy") Seq(col("proto_cos").desc, col("id").asc)
      else Seq(col("proto_cos").asc, col("id").asc)
    val w = Window.partitionBy(col("cluster"))
    prototypeScores(embs, idCol, vecCol, assign)
      .withColumn("rank", row_number().over(w.orderBy(ord: _*)).cast(LongType))
      .withColumn("n_cluster", count(lit(1)).over(w))
      .withColumn("keep",
        col("rank") <= ceil(lit(keepFrac) * col("n_cluster")))
  }

  /** Two-stage matryoshka search (Kusupati et al. 2205.13147 §5,
    * adaptive retrieval): rank candidates by cosine over the FIRST
    * `prefixDims` dimensions (the low-dim MRL index — normalization
    * cancels in cosine, so raw prefixes score identically to
    * [[graft.functions.VectorFunctions.matryoshka]] vectors), then
    * exact-rerank the `candidates` survivors on the full vector. Both
    * stages plan as TakeOrderedAndProject and stage 1's per-row compute
    * is prefixDims/dim of a full scoring pass. NOTE on I/O: Parquet
    * cannot prune array ELEMENTS, so slicing `vecCol` in the query
    * still reads full vectors. To realize the byte savings at 100 TB,
    * pass `prefixCol` pointing at a STORED prefix column — the store
    * materializes one as `vector_prefix` when built with `prefixDims`
    * ([[graft.sources.EmbeddingStore.withDerived]]) — and stage 1
    * becomes a prefixDims/dim-sized scan that never touches `vecCol`
    * (column pruning; plan-audited). The stored slice is raw, exactly
    * what `slice(vecCol, 1, prefixDims)` computes, so results are
    * identical either way. */
  def matryoshkaTopK(embs: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], prefixDims: Int, candidates: Int, k: Int,
      prefixCol: Option[String] = None): DataFrame = {
    require(prefixDims >= 1, s"prefixDims must be positive, got $prefixDims")
    require(candidates >= k, s"candidates ($candidates) must be >= k ($k)")
    val qp = lit(query.take(prefixDims)).cast(ArrayType(FloatType))
    val qf = lit(query).cast(ArrayType(FloatType))
    val prefix = prefixCol.fold(slice(col(vecCol), 1, prefixDims))(col)
    val stage1 = embs
      .select(col(idCol), vecCosine(prefix, qp).as("prefix_cos"))
      .orderBy(col("prefix_cos").desc, col(idCol).asc)
      .limit(candidates)
    stage1.join(embs.select(col(idCol), col(vecCol)), Seq(idCol))
      .select(col(idCol), vecCosine(col(vecCol), qf).as("__cos"))
      .orderBy(col("__cos").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), round(col("__cos"), 6).as("cosine"))
  }

  /** Recall@k — the ANN evaluation harness: fraction of the exact top-k
    * ids an approximate method recovered. `exact`/`approx` are ORDERED
    * result frames (their first k rows define the top-k sets). One
    * number decides nprobe/band/prefix tuning; at 100 TB this runs over
    * a sampled query set, never eyeballed. */
  def recallAtK(exact: DataFrame, approx: DataFrame, idCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    exact.limit(k).select(col(idCol))
      .intersect(approx.limit(k).select(col(idCol)))
      .agg(count(lit(1)).as("n_hits"))
      .select(col("n_hits"),
        round(col("n_hits").cast(DoubleType) / k, 6).as("recall"))
  }

  /** Per-list IVF diagnostics: list population and mean cosine of the
    * members to their own centroid — the health metrics that tune
    * nlist/nprobe (a hot list wants more centroids; a low mean cosine
    * flags a poor coarse fit or drifted data). Re-train triggers at
    * 100 TB come from THIS table, not from eyeballing recall.
    *
    * Determinism: per-row cosines round to 6 decimals, accumulate in
    * exact decimal, divide once (the [[CorpusStats.lengthStats]]
    * discipline) — a naive double AVG is partition-order-dependent and
    * not oracle-checkable. One exchange keyed by the list id; centroids
    * ride as a literal array. */
  def ivfStats(embs: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Array[Float]]): DataFrame = {
    val cents = array(centroids.map(c => lit(c).cast(ArrayType(FloatType))): _*)
    val dec = DataTypes.createDecimalType(38, 6)
    ivfAssign(embs, vecCol, centroids)
      .withColumn("__cos",
        round(vecCosine(col(vecCol), element_at(cents, col("ivf_list") + 1)), 6))
      .groupBy(col("ivf_list"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("__cos").cast(dec)).cast(DoubleType) / count(lit(1)), 6)
          .as("mean_cos"))
  }

  /** Reciprocal-rank fusion (Cormack-Clarke-Buettcher SIGIR'09): combine
    * ranked retrieval legs (dense cosine, SQ8/PQ compressed, BM25 keyword)
    * by `score = sum_i 1/(c + rank_i)` — the standard hybrid-search merge,
    * robust to incomparable leg scores because only RANKS enter.
    *
    * Inputs are (id, rank) frames, rank 1-based from the leg's own
    * deterministic order. Missing ids contribute 0 from that leg (the
    * USING-style full outer join coalesces keys). The additions happen in
    * the FIXED leg order — a chain of IEEE adds over exact reciprocals,
    * identical in any engine — and the cut is the top-k heap.
    *
    * Scale: each leg is already a top-k (tiny); fusion is a join of k-row
    * frames — broadcast territory regardless of corpus size. */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, k: Int, c: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "no rankings to fuse")
    require(k > 0 && c >= 0, s"bad k=$k / c=$c")
    val legs = rankings.zipWithIndex.map { case (r, i) =>
      r.select(col(idCol), col("rank").cast(IntegerType).as(s"r$i")) }
    val joined = legs.reduce((a, b) => a.join(b, Seq(idCol), "full_outer"))
    val score = rankings.indices
      .map(i => coalesce(lit(1.0) / (lit(c.toDouble) + col(s"r$i").cast(DoubleType)), lit(0.0)))
      .reduce(_ + _)
    joined
      .withColumn("rrf", score)
      .orderBy(col("rrf").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol) +: rankings.indices.map(i => col(s"r$i"))
        :+ round(col("rrf"), 6).as("rrf"): _*)
  }

  /** Embedding-coverage histogram (X98): for every NEW-snapshot vector,
    * the best cosine against the REFERENCE corpus *within its sign
    * bucket*, histogrammed — the "is the incoming data in-distribution"
    * check a training pipeline runs before mixing a new crawl in. Mass in
    * low buckets (or `bucket = -1`, no same-bucket reference at all) is
    * novel-domain data the reference never covered; mass at 0.9+ is
    * near-dup of what's already there (feeds [[graft.operators.Dedup
    * .embeddingNearDups]] instead of the mixer).
    *
    * Scale shape: the join is SIGN-BUCKETED (the X5 banding discipline —
    * never all-pairs): 2^bits buckets, candidates only inside a bucket;
    * a hot bucket on anisotropic data is real — drop `bits` sensitivity
    * by prepending a [[jlProject]] rotation, or probe IVF lists instead
    * ([[ivfTopK]]). Per-new-id max collapses before the histogram, which
    * is ≤ 12 rows. nn_cosine rounds to the 6-decimal grid BEFORE
    * bucketing so the floor cannot flip on a sub-ulp engine difference. */
  def coverageHistogram(newEmbs: DataFrame, refEmbs: DataFrame, idCol: String,
      vecCol: String, bits: Int = 8): DataFrame = {
    require(bits >= 1, s"bits must be positive, got $bits")
    val nb = newEmbs.select(col(idCol).as("__nid"), col(vecCol).as("__nv"))
      .withColumn("__bkt", signBucket(col("__nv"), bits))
    val rb = refEmbs.select(col(vecCol).as("__rv"))
      .withColumn("__bkt", signBucket(col("__rv"), bits))
    val best = nb.join(rb, Seq("__bkt"), "left")
      .withColumn("__cos", vecCosine(col("__nv"), col("__rv")))
      .groupBy(col("__nid"))
      .agg(round(max(col("__cos")), 6).as("nn_cosine"))
    val bucket = when(col("nn_cosine").isNull, lit(-1))
      .otherwise(least(floor(greatest(col("nn_cosine"), lit(0.0)) * 10)
        .cast(IntegerType), lit(9)))
    best.groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("lo", when(col("bucket") === -1, lit(null).cast(DoubleType))
        .otherwise(round(col("bucket").cast(DoubleType) / 10.0, 1)))
      .select(col("bucket"), col("lo"), col("n_docs"))
  }

  /** Deterministic Johnson–Lindenstrauss sign projection (X95):
    * project `inDim` floats to `outDim` doubles with a ±1 matrix derived
    * from md5(seed:j:i) parity — Achlioptas's database-friendly JL
    * (JCSS 2003): no stored matrix, any engine regenerates it from the
    * seed, so projected corpora from different engines/runs are
    * comparable. proj_j = Σ_i v_i·s_ji / √outDim (the scale keeps
    * expected norms, so downstream cosine/L2 thresholds carry over).
    * The cheap first stage before IVF/PQ when the raw dim is large.
    *
    * The sign matrix is built DRIVER-side (outDim·inDim doubles — pure
    * metadata, [[jlSign]] stays the single source of truth) and shipped
    * as ONE broadcast consumed by the codegen kernel
    * [[graft.functions.JlProjectPacked]] — not inlined literals, which
    * at realistic dims (1024→256 ≈ 262k expression nodes) blow up
    * Catalyst analysis and fall off codegen. Per-row work is the same
    * index-ordered double fold, rounded to the 6-decimal output grid.
    * Shuffle-free: a per-row map fused into whatever scan precedes it. */
  def jlProject(embs: DataFrame, vecCol: String, inDim: Int, outDim: Int,
      seed: String = "jl", out: String = "proj"): DataFrame = {
    require(inDim >= 1, s"inDim must be positive, got $inDim")
    require(outDim >= 1, s"outDim must be positive, got $outDim")
    val flat = new Array[Double](outDim * inDim)
    var j = 0
    while (j < outDim) {
      var i = 0
      while (i < inDim) { flat(j * inDim + i) = jlSign(seed, j, i); i += 1 }
      j += 1
    }
    val bc = embs.sparkSession.sparkContext.broadcast(flat)
    embs.withColumn(out, org.apache.spark.sql.GraftSql.column(
      graft.functions.JlProjectPacked(
        org.apache.spark.sql.GraftSql.expression(col(vecCol)), bc, inDim, outDim)))
  }

  /** ±1 from the parity of the 28-bit md5 base of `seed:j:i` — the
    * [[graft.operators.Dedup]] hash family convention, so the oracle
    * regenerates the identical matrix from SQL md5. */
  private[graft] def jlSign(seed: String, j: Int, i: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$seed:$j:$i".getBytes("UTF-8"))
    val hex7 = md.take(4).map("%02x".format(_)).mkString.take(7)
    if (java.lang.Long.parseLong(hex7, 16) % 2 == 0) 1.0 else -1.0
  }

  /** Embedding-SPACE health (X88): per-dimension mean, variance, and
    * positive fraction over the whole corpus — the collapse/anisotropy
    * dashboard. A dead encoder dimension shows variance ≈ 0; a collapsed
    * space shows most mass in a few dims and |mean| far from 0 (Ethayarajh
    * EMNLP '19 on anisotropy); sign imbalance (frac_pos near 0/1) starves
    * the [[graft.functions.VectorExpressions]] sign-bit sketch the hamming
    * funnel depends on. At 100 TB these re-train triggers come from THIS
    * table — the per-LIST sibling is [[ivfStats]].
    *
    * Determinism: per-element values round to the 6 (values) / 12
    * (squares) decimal grid, accumulate in exact decimal, divide once —
    * the [[ivfStats]]/[[CorpusStats.lengthStats]] discipline; variance is
    * the (ss/n − mean²) double tree, identical op order in the oracle.
    * Scale shape: map-side partial aggregation collapses every partition
    * to ≤ dim rows, so the one dim-keyed exchange carries O(tasks·dim)
    * partials regardless of corpus size; vectors never shuffle. */
  def embeddingHealth(embs: DataFrame, vecCol: String): DataFrame = {
    val dec6 = DataTypes.createDecimalType(38, 6)
    val dec12 = DataTypes.createDecimalType(38, 12)
    val s = col("__s").cast(DoubleType)
    val ss = col("__ss").cast(DoubleType)
    val n = col("n")
    embs.select(posexplode(col(vecCol)).as(Seq("dim", "__x")))
      .withColumn("__x", col("__x").cast(DoubleType))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("__x"), 6).cast(dec6)).as("__s"),
        sum(round(col("__x") * col("__x"), 12).cast(dec12)).as("__ss"),
        sum(when(col("__x") > 0.0, 1L).otherwise(0L)).as("__np"))
      .select(col("dim"), n,
        round(s / n, 6).as("mean"),
        round(ss / n - (s / n) * (s / n), 6).as("variance"),
        round(col("__np").cast(DoubleType) / n, 6).as("frac_pos"))
  }

  /** Every list id, best first, for `query`: by the dot product with
    * its centroid (over the shorter of the two lengths) descending, the
    * lower id first on ties — the probe order every IVF search takes
    * its `nprobe` lists from. k driver-side dot products. */
  def probeOrder(centroids: Seq[Array[Float]], query: Array[Float]): Seq[Int] = {
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    centroids.zipWithIndex
      .map { case (c, i) => (i, dot(c, query)) }
      .sortBy { case (i, d) => (-d, i) }
      .map(_._1)
  }

  def ivfTopK(embs: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Array[Float]], query: Array[Float], k: Int, nprobe: Int): DataFrame = {
    val probes = probeOrder(centroids, query).take(nprobe)
    bruteForceTopK(embs.filter(col("ivf_list").isin(probes: _*)), idCol, vecCol, query, k)
  }

  /** IVF nprobe tuning sweep (X141) — the recall-vs-I/O curve that picks
    * an index's operating point: for every candidate `nprobe`, mean
    * recall@k over a SAMPLE of serving queries, next to `lists_frac`
    * (= nprobe/nlists, the fraction of the corpus an X112 partition-
    * pruned search would read at that setting). [[recallAtK]] grades one
    * (exact, approx) pair; this grades the whole grid in TWO corpus
    * passes, because within-probed-lists search is exact: a row can
    * enter some nprobe's top-k ONLY if it is top-k within its own list
    * for that query. So: score corpus × queries once (queries broadcast
    * as literals, probe ORDER precomputed driver-side over the bounded
    * centroid set), cut to per-(query, list) top-k — one shuffle, rank
    * filter below it — then sweep the grid over the ≤ |q|·nlists·k
    * survivors. Exact top-k (the grade's denominator) is the
    * nprobe=nlists row of the same frame, so no second corpus pass.
    *
    * Returns (nprobe, n_queries, mean_recall, lists_frac) ordered by
    * nprobe; per-query recall counts a hit when the probed top-k
    * contains an exact-top-k id, ties in cosine broken by id ascending
    * on both sides (the [[bruteForceTopK]] convention). */
  def nprobeSweep(embs: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Array[Float]], queries: Seq[(Int, Array[Float])],
      k: Int, nprobes: Seq[Int]): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(centroids.nonEmpty, "need at least one centroid")
    require(queries.nonEmpty, "need at least one sample query")
    require(queries.map(_._1).distinct.size == queries.size, "duplicate query ids")
    require(nprobes.nonEmpty && nprobes.forall(n => n >= 1 && n <= centroids.size),
      s"nprobes must lie in [1, ${centroids.size}], got $nprobes")
    val qStructs = queries.map { case (qid, qv) =>
      val order = probeOrder(centroids, qv)
      struct(lit(qid).as("qid"), lit(qv).cast(ArrayType(FloatType)).as("qv"),
        lit(order.toArray).as("order"))
    }
    val assigned = ivfAssign(
      embs.select(col(idCol).as("id"), col(vecCol).as("vector")),
      "vector", centroids)
    val scored = assigned
      .withColumn("__q", explode(array(qStructs: _*)))
      .select(col("id"), col("__q.qid").as("qid"),
        vecCosine(col("vector"), col("__q.qv")).as("cos"),
        array_position(col("__q.order"), col("ivf_list"))
          .cast(IntegerType).as("list_rank"))
    val perList = scored
      .withColumn("__r", row_number().over(
        Window.partitionBy(col("qid"), col("list_rank"))
          .orderBy(col("cos").desc, col("id").asc)))
      .filter(col("__r") <= k).drop("__r")
    val exact = perList
      .withColumn("__r", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("id").asc)))
      .filter(col("__r") <= k)
      .select(col("qid"), col("id"))
    val hits = perList
      .withColumn("nprobe", explode(lit(nprobes.toArray)))
      .filter(col("list_rank") <= col("nprobe"))
      .withColumn("__r", row_number().over(
        Window.partitionBy(col("qid"), col("nprobe"))
          .orderBy(col("cos").desc, col("id").asc)))
      .filter(col("__r") <= k)
      .join(exact, Seq("qid", "id"))
      .groupBy(col("nprobe"), col("qid")).agg(count(lit(1)).as("__h"))
    val spark = embs.sparkSession
    import spark.implicits._
    val grid = queries.map(_._1).flatMap(q => nprobes.map(n => (n, q)))
      .toDF("nprobe", "qid")
    grid.join(hits, Seq("nprobe", "qid"), "left")
      .withColumn("__h", coalesce(col("__h"), lit(0L)))
      .groupBy(col("nprobe"))
      .agg(count(lit(1)).as("n_queries"),
        round(avg(col("__h").cast(DoubleType) / k), 6).as("mean_recall"))
      .withColumn("lists_frac",
        round(col("nprobe").cast(DoubleType) / centroids.size, 6))
      .orderBy(col("nprobe"))
  }

  /** MMR diversified re-rank (Carbonell & Goldstein, SIGIR'98 — the
    * Maximal Marginal Relevance greedy): from the query's exact cosine
    * top-`m` candidates, select `k` results one at a time maximizing
    * `λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s)` — relevance traded
    * against redundancy, so near-duplicate hits stop crowding the page.
    * The first pick is pure relevance (empty selected set ⇒ no
    * penalty). Ties break to the smaller id at every step, making the
    * whole selection deterministic.
    *
    * Scale shape: the candidate stage is the distributed part
    * ([[bruteForceTopK]]'s scan, or any ANN tier feeding the same
    * (id, rel) contract); the greedy is inherently sequential over
    * m ≤ `MmrMaxCandidates` rows, so the m relevances and the m×m
    * candidate-pairwise cosines (computed as one tiny Spark self-join
    * over the already-cut candidate frame) collect to the driver —
    * bounded side data by the same contract as the PQ codebooks. Output:
    * (rank, id, rel, mmr) for the k selections in selection order, all
    * scores round-6; rank 1's mmr = λ·rel.
    *
    * Cross-engine parity: rel and sims are the [[bruteForceTopK]] /
    * [[graft.functions.VectorFunctions.vecCosine]] doubles (sequential
    * index-ordered accumulation — the DuckDB-bit-identical kernel);
    * argmax comparisons run on UNROUNDED values in both engines. */
  def mmrRerank(embs: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], m: Int, k: Int, lambda: Double): DataFrame = {
    require(m >= 1 && m <= MmrMaxCandidates,
      s"m must be in [1, $MmrMaxCandidates] (driver-bounded greedy), got $m")
    // λ = 0 would make every first-step score 0 (the greedy would pick
    // by id, not relevance), contradicting the pure-relevance first-pick
    // contract above and the oracle's rel-DESC s1 step — excluded
    require(k >= 1 && k <= m, s"k must be in [1, m=$m], got $k")
    require(lambda > 0.0 && lambda <= 1.0, s"lambda must be in (0,1], got $lambda")
    val cand = embs
      .withColumn("__rel", vecCosine(col(vecCol), lit(query).cast(ArrayType(FloatType))))
      .orderBy(col("__rel").desc, col(idCol).asc)
      .limit(m)
      .select(col(idCol).cast(LongType).as("id"), col("__rel"),
        col(vecCol).as("__v"))
      .localCheckpoint(true)
    // the pin only backs the two collects below; the returned frame is
    // driver-built — release before returning (the Pins contract:
    // operators release their own internal pins)
    val (rels, sims) =
      try {
        val rels = cand.select(col("id"), col("__rel")).collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val a = cand.select(col("id").as("ida"), col("__v").as("va"))
        val b = cand.select(col("id").as("idb"), col("__v").as("vb"))
        val sims = a.join(b, col("ida") < col("idb"))
          .select(col("ida"), col("idb"),
            vecCosine(col("va"), col("vb")).as("__sim"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
        (rels, sims)
      } finally graft.util.Pins.release(cand)
    def simOf(x: Long, y: Long): Double =
      if (x < y) sims((x, y)) else sims((y, x))
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val remaining = scala.collection.mutable.SortedSet.empty[Long] ++ rels.keys
    while (selected.size < k && remaining.nonEmpty) {
      // iterate in ascending id order with a STRICT > test: the first
      // (smallest-id) row holding the max wins — the tiebreak contract
      var bestId = -1L
      var bestScore = Double.NegativeInfinity
      remaining.foreach { id =>
        val penalty =
          if (selected.isEmpty) 0.0
          else selected.iterator.map { case (s, _) => simOf(id, s) }.max
        val mmr = lambda * rels(id) - (1.0 - lambda) * penalty
        if (mmr > bestScore) { bestScore = mmr; bestId = id }
      }
      selected += ((bestId, bestScore))
      remaining -= bestId
    }
    val spark = embs.sparkSession
    import spark.implicits._
    selected.toSeq.zipWithIndex
      .map { case ((id, mmr), i) =>
        (i + 1, id, BigDecimal(rels(id)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
          BigDecimal(mmr).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .toDF("rank", "id", "rel", "mmr")
  }

  /** [[mmrRerank]]'s candidate-set bound: the greedy holds m relevances
    * and m(m−1)/2 pairwise sims driver-side. */
  val MmrMaxCandidates = 1024

  /** [[maxSimTopK]]'s query bound: each query token becomes one literal
    * vector + one MAX aggregate in a single plan, so the token count is
    * a plan-width knob, not a data knob. 64 covers ColBERT's documented
    * query length (32 padded tokens) with headroom. */
  val MaxSimMaxQueryTokens = 64

  /** Late-interaction MaxSim retrieval (ColBERT, Khattab & Zaharia,
    * SIGIR '20): a document scores against a multi-token query as
    * `Σ_i max_j sim(q_i, d_j)` — each query token independently finds
    * its best-matching document chunk, and the per-token maxima sum.
    * This sits between the engine's single-vector funnel
    * (`reference: src/VectorTable.php:122-188` parity, one pooled
    * vector per post) and BM25 (X76): token-level soft matching
    * without the pooling information loss, the retrieval family modern
    * RAG rerankers use. Composes into [[rrfFuse]] as a third leg.
    *
    * `chunks` holds one row per document chunk embedding; `docId`
    * groups chunks into documents. `sim` is cosine (the q34 form,
    * 1e-12 epsilon guard) when `normalized` — ColBERT's contract, all
    * vectors unit-normalized so dot IS cosine, honored here without
    * requiring pre-normalized storage — or the raw dot otherwise.
    *
    * Determinism: per-token maxima are order-free; the cross-token sum
    * runs on round-6 DECIMAL terms (order-free by construction), cast
    * back to DOUBLE at the boundary (raw decimals never ship — q128
    * rule); final order by (maxsim DESC, doc id ASC).
    *
    * Scale: the query tokens broadcast as LITERALS inside the
    * aggregate expressions (the X95 convention — no join, no second
    * input), so this is ONE corpus pass with map-side partial MAX:
    * chunk vectors never cross an exchange, only |docs| × |tokens|
    * partial maxima shuffle on the doc key, and the final top-k is a
    * TakeOrderedAndProject heap merge. At 100 TB the cost is the scan;
    * pair it with an IVF/LSH candidate stage (q153's partition-pruned
    * read) when the corpus no longer wants a full pass. */
  def maxSimTopK(chunks: DataFrame, docId: Column, vecCol: String,
      queryTokens: Seq[Array[Float]], k: Int,
      normalized: Boolean = true): DataFrame = {
    require(queryTokens.nonEmpty, "at least one query token vector")
    require(queryTokens.size <= MaxSimMaxQueryTokens,
      s"${queryTokens.size} query tokens > plan-width bound $MaxSimMaxQueryTokens")
    require(k > 0, s"k must be positive, got $k")
    val v = col(vecCol)
    val maxes = queryTokens.zipWithIndex.map { case (qt, i) =>
      val q = lit(qt).cast(ArrayType(FloatType))
      val sim = if (normalized) vecCosine(v, q) else vecDot(v, q)
      max(sim).as(s"__m$i")
    }
    val perDoc = chunks
      .groupBy(docId.as("doc_key"))
      .agg(maxes.head, maxes.tail: _*)
    val score = queryTokens.indices
      .map(i => round(col(s"__m$i"), 6).cast(DecimalType(20, 6)))
      .reduce(_ + _)
    perDoc
      .select(col("doc_key"), score.cast(DoubleType).as("maxsim"))
      .orderBy(col("maxsim").desc, col("doc_key").asc)
      .limit(k)
  }
}
