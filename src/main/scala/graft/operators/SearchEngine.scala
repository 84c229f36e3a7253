package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorFunctions._
import graft.model.SearchConfig
import graft.query.{QueryBuilder, QueryCompiler}

/** The flagship two-phase ANN search (`src/VectorTable.php:73-233`,
  * SURVEY.md §3.1), composed lazily as one DataFrame.
  *
  * The reference makes 3 PHP<->MySQL round-trips with full candidate
  * materialization in client memory between stages; here one `collect`
  * runs the whole plan, and no stage's rows ever reach the driver:
  *
  *   stage 0  binarize the query vector driver-side (64 longs max — trivial)
  *   stage 1  candidate filter, inside the one store scan: the scanned
  *            columns semi-join a broadcast of the posts columns the filter
  *            names, the AND-of-OR condition in the join; meta predicates
  *            are IN subqueries (existence joins under OR, broadcast too)
  *   stage 2  hamming prefilter: codegen XOR/popcount over the packed
  *            sketch, top-(10n) via orderBy+limit -> TakeOrderedAndProject
  *            (per-partition heap + single merge — the distributed version
  *            of the reference's SplMinHeap, `VectorTable.php:122-146`);
  *            each survivor carries its vector and magnitude through the
  *            heap, so no heap holds more than 10n vectors
  *   stage 3  exact cosine rerank over the heap's 10n rows, top-(5n): the
  *            fused `vec_cosine` kernel with the stored magnitude, the query
  *            an array literal, so every query reuses one compiled plan
  *   stage 4  optional attribute sort (posts/meta keys), final limit n —
  *            on the single-partition top-5n frame, so no exchange
  *
  * Stages 1-3 run over ONE scan of the store: the reference refetches the
  * survivors' vectors `WHERE id IN (...)` (`VectorTable.php:157`), a
  * primary-key lookup in MySQL but a second whole-store scan over Parquet.
  * Unfiltered, a search is 1 Spark job (the scan, the heaps, the rerank
  * and the final cut; 2 stages). Every broadcast is a job of its own:
  * filtered and sorted, one more job per stage-1 broadcast (the posts
  * columns, each meta predicate) and per stage-4 broadcast (the meta sort
  * rows, the posts attributes). The benchmark's shape (one meta and two
  * posts predicates, one meta and one posts sort key) runs 5 jobs in 3
  * waves: the leaf broadcasts; the posts broadcast, which waits for the
  * meta one because Catalyst copies the meta subqueries onto the posts
  * side through the join key equality; the scan with its cuts. No stage
  * shuffles row mass.
  *
  * Column pruning: the scan reads (id, post_id, binary_code, vector,
  * magnitude) and nothing else. It decodes every row's vector; a refetch
  * by id would too, since Parquet has no primary-key lookup.
  */
object SearchEngine {

  /** Derive the packed sign-bit sketch of a query vector (stage 0,
    * `VectorTable.php:96`). */
  def packQuery(q: Array[Float]): Array[Long] = {
    val words = new Array[Long]((q.length + 63) / 64)
    var i = 0
    while (i < q.length) {
      if (q(i) > 0f) words(i >> 6) |= (1L << (i & 63))
      i += 1
    }
    words
  }

  def magnitudeOf(q: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < q.length) { s += q(i).toDouble * q(i).toDouble; i += 1 }
    math.sqrt(s)
  }

  /** Full search plan. `embeddings` must carry the store schema
    * (id, post_id, binary_code, vector, magnitude, ...).
    * Returns (id, hamming_distance, cosine_similarity) ordered by the
    * reference's output contract: sorted ids if the builder sorts, else
    * cosine-descending (`VectorTable.php:222-231`).
    * Ties break on id — the reference's heap order is insertion-dependent
    * (SURVEY.md §7 decision log); we make it deterministic. */
  def search(
      embeddings: DataFrame,
      posts: DataFrame,
      postmeta: DataFrame,
      queryVec: Array[Float],
      n: Int = 5,
      builder: QueryBuilder = QueryBuilder(),
      cfg: SearchConfig = SearchConfig()): DataFrame = {

    val qBits = packQuery(queryVec)
    val qVecLit = lit(queryVec).cast(ArrayType(FloatType))
    val qBitsLit = lit(qBits)

    // stage 1 runs inside the one store scan (only if filters present —
    // VectorTable.php:112-114 always scopes by post type; post-type scoping
    // is a caller-supplied filter group here). The scanned columns
    // semi-join a broadcast of just the posts columns the filter names,
    // aliased apart from the store's, with the whole AND-of-OR condition
    // in the join; meta predicates are IN subqueries on post_id. Semi and
    // existence joins never duplicate a row, so nothing needs a distinct.
    val scan = embeddings.select(col("id"), col("post_id"), col("binary_code"),
      col("vector"), col("magnitude"))
    val candidates =
      if (builder.hasFilters) {
        val fields = builder.groups.flatten.filterNot(_.meta).map(_.field).distinct
        val alias = fields.zipWithIndex.map { case (f, i) => f -> s"__pf_$i" }.toMap
        val attrs = posts.select(col("ID").as("__pk") +: fields.map(f => col(f).as(alias(f))): _*)
        scan.join(broadcast(attrs), scan("post_id") === col("__pk") &&
          QueryCompiler.condition(builder, postmeta, scan("post_id"), f => col(alias(f))),
          "left_semi")
      } else scan
    // stage-1 cap: off by default (see SearchConfig.stage1Limit scaladoc);
    // when on, the lowest `cap` ids, resolved to an id bound first (the
    // cap-th smallest candidate id, a scalar subquery whose heap holds
    // ids only), so no heap but stage 2's ever holds vectors. Store ids
    // are unique and non-null, so the bound keeps exactly `cap` rows.
    val staged = cfg.stage1Limit.fold(candidates) { cap =>
      val bound = candidates.select(col("id")).orderBy(col("id").asc)
        .limit(math.min(cap, Int.MaxValue.toLong).toInt).agg(max(col("id")))
      candidates.filter(col("id") <= bound.scalar())
    }

    // stage 2: hamming top-(10n); each survivor carries its vector and
    // magnitude through the heap, so the rerank needs no refetch scan
    val hamming = staged
      .select(col("id"), col("post_id"),
        hammingDist(col("binary_code"), qBitsLit).as("hamming_distance"),
        col("vector"), col("magnitude"))
      .orderBy(col("hamming_distance").asc, col("id").asc)
      .limit(cfg.stage2Factor * n)

    // stage 3: cosine rerank over the 10n survivors, top-(5n)
    val cosine = hamming
      .select(col("id"), col("post_id"), col("hamming_distance"),
        vecCosine(col("vector"), qVecLit, col("magnitude")).as("cosine_similarity"))
      .orderBy(col("cosine_similarity").desc, col("id").asc)
      .limit(cfg.stage3Factor * n)

    // stage 4: optional attribute sort (VectorTable.php:195-217), final n,
    // on the single-partition top-5n frame: meta keys first (grouped by
    // the unique chunk id, so no exchange), then the posts attributes.
    // Rename the posts join key: Spark's case-insensitive resolver would
    // otherwise see posts.ID and our output id as ambiguous.
    val sorted =
      if (builder.hasSorts) {
        val withMeta = QueryCompiler.withMetaSortKeys(cosine, postmeta, builder.metaSortKeys)
        val joined = withMeta.join(broadcast(posts.withColumnRenamed("ID", "__post_ID")),
          withMeta("post_id") === col("__post_ID"), "left")
        joined
          .orderBy(QueryCompiler.sortColumns(builder, joined.apply) :+ col("id").asc: _*)
          .select(col("id"), col("post_id"), col("hamming_distance"), col("cosine_similarity"))
      } else cosine.orderBy(col("cosine_similarity").desc, col("id").asc)

    sorted.limit(n)
  }

  /** Post-level retrieval (X111): the flagship chunk funnel aggregated to
    * DOCUMENTS — the RAG-facing contract. [[search]] returns chunk hits
    * (`sequence_no` rows, the reference's per-row matches,
    * `src/VectorTable.php:468,472`); callers retrieving "the n most
    * relevant posts" must dedup by `post_id` themselves — THIS operator
    * does it engine-side: best chunk per post by (cosine desc, id asc),
    * posts ranked by their best chunk, each post counted once however
    * many of its chunks survive the funnel.
    *
    * The chunk pool is [[search]]'s stage-3 output at n = poolFactor·
    * nPosts; a corpus whose top posts carry MANY strong chunks each may
    * need a larger poolFactor to fill all nPosts slots (the pool is the
    * determinism boundary, same class as the staged limits T8). Builder
    * FILTERS compose (they scope the funnel); attribute sorts do not —
    * post relevance IS the output order here — and are rejected.
    *
    * Scale shape: everything after the funnel runs on ≤ poolFactor·
    * nPosts rows — one tiny window + TakeOrdered; no new corpus cost. */
  def searchPosts(
      embeddings: DataFrame,
      posts: DataFrame,
      postmeta: DataFrame,
      queryVec: Array[Float],
      nPosts: Int = 5,
      builder: QueryBuilder = QueryBuilder(),
      cfg: SearchConfig = SearchConfig(),
      poolFactor: Int = 5): DataFrame = {
    require(nPosts > 0, s"nPosts must be positive, got $nPosts")
    require(poolFactor > 0, s"poolFactor must be positive, got $poolFactor")
    require(!builder.hasSorts,
      "searchPosts ranks posts by relevance; attribute sorts do not compose")
    val pool = search(embeddings, posts, postmeta, queryVec,
      n = poolFactor * nPosts, builder, cfg)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("post_id"))
      .orderBy(col("cosine_similarity").desc, col("id").asc)
    pool
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col("post_id"), col("id").as("best_chunk_id"),
        col("hamming_distance"), col("cosine_similarity"))
      .orderBy(col("cosine_similarity").desc, col("post_id").asc)
      .limit(nPosts)
  }

  /** The flagship two-phase pipeline (stages 0+2+3 and the default
    * cosine-descending output contract) as a PURE SQL string over the
    * registered kernels (`pack_sign_bits` / `hamming_dist` / `vec_cosine`) —
    * runnable by any SQL client of a session with [[graft.functions
    * .GraftFunctions.register]] or `GraftExtensions` loaded, against a
    * view carrying the store schema. Stage 1 relational filters and
    * stage 4 attribute sorts are caller-composed query shapes, not fixed
    * stages — SQL callers add their own WHERE / ORDER BY around this.
    *
    * Arithmetic parity with [[search]] is exact: the rerank is the same
    * kernel, `vec_cosine(vector, q, magnitude)`, over the same float query
    * literal (each element's shortest-round-trip repr reads back to the
    * same float), and both orderings carry the id tiebreak. The plan
    * compiles to the same shape: one scan of the view, whose hamming heap
    * carries each survivor's vector into the rerank heap. */
  def searchSqlText(queryVec: Array[Float], n: Int,
      embeddingsView: String = "embeddings",
      cfg: SearchConfig = SearchConfig()): String = {
    require(n >= 1, s"n must be positive, got $n")
    require(queryVec.nonEmpty, "empty query vector")
    val qArr = queryVec.map(v => s"CAST('$v' AS FLOAT)")
      .mkString("array(", ", ", ")")
    s"""WITH ham AS (
       |  SELECT id, post_id, vector, magnitude,
       |         hamming_dist(binary_code, pack_sign_bits($qArr)) AS hamming_distance
       |  FROM $embeddingsView
       |  ORDER BY hamming_distance ASC, id ASC
       |  LIMIT ${cfg.stage2Factor * n}
       |),
       |rr AS (
       |  SELECT id, post_id, hamming_distance,
       |         vec_cosine(vector, $qArr, magnitude) AS cosine_similarity
       |  FROM ham
       |  ORDER BY cosine_similarity DESC, id ASC
       |  LIMIT ${cfg.stage3Factor * n}
       |)
       |SELECT id, post_id, hamming_distance, cosine_similarity
       |FROM rr ORDER BY cosine_similarity DESC, id ASC LIMIT $n""".stripMargin
  }

  /** Facet counts over a hit set (X182) — the per-key value histogram a
    * search UI renders next to its result page ("lang: en (12), de (5)
    * …"), computed from the reference's postmeta-shaped EAV frame
    * (`src/query/parts/Filter.php:97` capability surface): for each
    * requested facet key, the top-`topM` meta values among the HIT
    * posts, with ties broken by value for determinism.
    *
    * Scale shape: the meta scan prunes to the facet keys at the source
    * (pushdown on `meta_key`), the hit set — k-bounded by the ranker's
    * own LIMIT — broadcasts into a semi-join (the corpus-sized meta side
    * never shuffles for the join), and the only exchanges are on the
    * (key, value) count table and the |keys|-partition window over it —
    * both facet-table-sized, nothing ∝ the corpus. */
  def facetCounts(hits: DataFrame, hitIdCol: String, meta: DataFrame,
      keys: Seq[String], topM: Int): DataFrame = {
    require(keys.nonEmpty, "no facet keys")
    require(keys.distinct.size == keys.size, s"duplicate facet key in $keys")
    require(topM > 0, s"topM must be positive, got $topM")
    import org.apache.spark.sql.expressions.Window
    meta
      .filter(col("meta_key").isin(keys: _*))
      .join(broadcast(hits.select(col(hitIdCol).as("post_id")).distinct()),
        Seq("post_id"), "left_semi")
      .groupBy(col("meta_key"), col("meta_value"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(Window.partitionBy(col("meta_key"))
        .orderBy(col("n").desc, col("meta_value").asc)))
      .filter(col("rank") <= topM)
  }

  /** Result-page duplicate collapse (X193, "SERP dedup"): among ranked
    * hits whose CONTENT fingerprint matches
    * ([[TextAnalysis.fingerprint]] — whitespace-normalized md5, the X9
    * exact-dup key), keep only the best-ranked (score DESC, doc_id ASC)
    * and re-cut to the top `k` — so a page never shows the same
    * document twice when the corpus carries crawl-duplicates under
    * distinct ids. `hits` must carry (doc_id, score); the score is
    * expected round-6 (a ranked surface's emitted form) so the re-cut
    * order is reconstructible by the caller.
    *
    * Scale shape: text is fingerprinted ONLY for the hit docs (semi-join
    * first — the reference's refetch discipline, nothing corpus-sized
    * shuffles for a k-bounded hit list); the collapse is one window over
    * the hit-sized join, the re-cut a TakeOrderedAndProject heap. */
  def dedupHits(hits: DataFrame, docs: DataFrame, idCol: String,
      text: Column, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    import org.apache.spark.sql.expressions.Window
    val fp = docs
      .select(col(idCol).as("doc_id"), text.as("__text"))
      .join(hits.select(col("doc_id")).distinct(), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), TextAnalysis.fingerprint(col("__text")).as("fp"))
    hits.join(fp, Seq("doc_id"))
      .withColumn("__rn", row_number().over(Window.partitionBy(col("fp"))
        .orderBy(col("score").desc, col("doc_id").asc)))
      .filter(col("__rn") === 1).drop("__rn")
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Field collapsing (X224 — the Elasticsearch `collapse` + inner_hits
    * contract): fold a hit list to ONE result per field value (domain,
    * source, author — the "3 results from the same site" fix), keeping
    * each group's best-scoring hit as the representative and its next
    * `innerHits` runners-up as the expandable tail. The collapsed list
    * re-ranks by representative score (doc_id tiebreak) and cuts to
    * `k` GROUPS — distinct from dedupHits (X193), which drops
    * content-identical docs; collapse groups by an ATTRIBUTE and keeps
    * the group visible.
    *
    * Scale shape: one equi-join of the hit list against the
    * column-pruned (id, field) projection, ONE window partitioned by
    * field value (score desc, doc_id asc — shared by the pick and the
    * inner ranks), an ordered struct collect per group, and a top-k
    * heap. Inner-hit ids are ordered by the SAME total order, so the
    * output is deterministic end to end.
    *
    * Output: (rank, field_value, doc_id, score, n_group, inner_ids)
    * with inner_ids the runner-up doc ids in rank order (≤ innerHits,
    * empty for singleton groups), rendered as a comma-joined string —
    * a SCALAR cell, hash-stable across engines the way a nested array
    * column is not. */
  def collapseByField(hits: DataFrame, docs: DataFrame, idCol: String,
      field: Column, k: Int, innerHits: Int = 2): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(innerHits >= 0, s"innerHits must be >= 0, got $innerHits")
    import org.apache.spark.sql.expressions.Window
    val fields = docs.select(col(idCol).as("doc_id"), field.as("field_value"))
    val w = Window.partitionBy(col("field_value"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val grouped = hits.join(fields, Seq("doc_id"))
      .withColumn("__rk", row_number().over(w))
    val reps = grouped.filter(col("__rk") === 1)
      .select(col("field_value"), col("doc_id"), col("score"))
    val inner = grouped
      .groupBy(col("field_value"))
      .agg(count(lit(1)).as("n_group"),
        array_join(array_sort(collect_list(when(
            col("__rk") > 1 && col("__rk") <= innerHits + 1,
            struct(col("__rk"), col("doc_id")))))
          .getField("doc_id"), ",").as("inner_ids"))
    // the k-cut is a TakeOrderedAndProject heap (the dedupHits shape),
    // NOT a single-partition global window over every group; the rank
    // column derives from a window over the ALREADY-CUT ≤ k rows — a
    // bounded frame, the ranked-keyset discipline
    reps.join(inner, Seq("field_value"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id").asc)))
      .select(col("rank"), col("field_value"), col("doc_id"),
        col("score"), col("n_group"), col("inner_ids"))
  }

  /** Rescore window (X242 — the Elasticsearch `rescore` contract, the
    * standard two-stage serving pattern: cheap sparse retrieval ranks
    * everything, an expensive signal re-scores only the TOP
    * `windowSize`): docs inside the window combine as
    * `wq·score + wr·rescore` (a window doc missing from the rescore
    * leg keeps wq·score — the ES query-weight-only behavior); docs
    * BELOW the window keep their original score untouched; the final
    * order sorts the combined totals, so a weak rescored doc can sink
    * below unrescored ones — exactly ES's semantics, which is why
    * windowSize matters. The window membership is decided by the
    * ORIGINAL ranking's total order (score desc, doc_id asc).
    *
    * Plan shape: one bounded-window rank (TakeOrderedAndProject-class
    * cut), one left join against the rescore leg restricted to the
    * window, a per-row map, and the final top-k heap. Output:
    * (doc_id, score, rescored, total) round-6, cut to k. */
  def rescoreWindow(hits: DataFrame, rescores: DataFrame, windowSize: Int,
      k: Int, wq: Double = 1.0, wr: Double = 1.0): DataFrame = {
    require(windowSize >= 1, s"windowSize must be >= 1, got $windowSize")
    require(k >= 1, s"k must be >= 1, got $k")
    val window = hits.select(col("doc_id"), col("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(windowSize)
      .join(rescores.select(col("doc_id"), col("rscore")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("score"), lit(true).as("rescored"),
        (lit(wq) * col("score") +
          lit(wr) * coalesce(col("rscore"), lit(0.0))).as("__total"))
    val below = hits.select(col("doc_id"), col("score"))
      .join(window.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("score"), lit(false).as("rescored"),
        col("score").as("__total"))
    window.unionAll(below)
      .orderBy(col("__total").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("score"), col("rescored"),
        round(col("__total"), 6).as("total"))
  }

  /** Disjunction-max fusion (X230 — Lucene `DisjunctionMaxQuery` / the
    * ES `dis_max` compound): per document, the combined score is the
    * BEST leg's score plus `tieBreaker` times the other legs' sum —
    * the multi-field / multi-variant combinator that avoids the
    * naive-sum failure (a doc matching one field strongly should beat
    * a doc matching three fields weakly; tieBreaker re-admits the
    * weak-corroboration signal smoothly). Legs are FULL rankings
    * ((doc_id, score) rows, round-6 scores — the
    * [[graft.sources.InvertedIndex.bm25Ranked]] surface), so the max
    * semantics hold for every matching doc, not a pre-cut top-k.
    *
    * Determinism: leg scores are round-6, the cross-leg sum is an
    * EXACT DECIMAL aggregate (order-free), max is exact, and the
    * combined score orders UNROUNDED with the doc_id tiebreak (the
    * bm25Rank heap discipline; round-6 on output). Scale shape: one
    * union + one doc-keyed aggregate (map-side combine) + a top-k
    * heap — no window, no join. Output: (doc_id, best, n_legs,
    * score). */
  /** `top_hits`-per-bucket aggregation (X247 — the Elasticsearch
    * `terms` agg with a `top_hits` sub-aggregation, the last big ES
    * aggregation family): for every value of `field` over the HIT SET,
    * the bucket's doc_count and its top-`n` hits by emitted score —
    * "the best matches per category", the grouped-results rail next to
    * [[collapseByField]]'s one-slot-per-group SERP cut (collapse
    * diversifies ONE ranking; top_hits renders N rankings side by
    * side).
    *
    * Ranking uses the EMITTED round-6 score with the doc_id tiebreak
    * (the bm25Page discipline — a bucket's rows must order by what the
    * caller can see). The rank window partitions BY BUCKET — never a
    * global single-partition window — and because the window set is
    * exactly one rank function under a `rank <= n` predicate, Spark
    * rewrites it to a WindowGroupLimit: each partition keeps a per-
    * bucket n-heap BEFORE the exchange, so the shuffled mass is ≤
    * buckets × n per task, not the hit set (plan-audited in the
    * suite). doc_count comes from a separate map-side-combining
    * aggregate joined back (folding it into the window as a second
    * count-over-partition function would disqualify the group-limit
    * rewrite — it needs every row). Output: (field_value, doc_count,
    * rank, doc_id, score). */
  def topHitsPerBucket(hits: DataFrame, docs: DataFrame, idCol: String,
      field: Column, n: Int): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    import org.apache.spark.sql.expressions.Window
    val withField = hits.select(col("doc_id"), col("score"))
      .join(docs.select(col(idCol).as("doc_id"), field.as("field_value")),
        Seq("doc_id"))
    val counts = withField.groupBy(col("field_value"))
      .agg(count(lit(1)).as("doc_count"))
    withField
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("field_value"))
          .orderBy(col("score").desc, col("doc_id").asc)))
      .filter(col("rank") <= n)
      .join(counts, Seq("field_value"))
      .select(col("field_value"), col("doc_count"), col("rank"),
        col("doc_id"), col("score"))
  }

  /** function_score `field_value_factor` (X259 — the ES per-document
    * boost: "multiply relevance by a stored signal", the
    * popularity/freshness/quality re-weight every production ranker
    * ships): score' = score · factor · modifier(field), re-ranked.
    * Modifiers are the ES set actually used at scale (`none`, `log1p`
    * — the safe one for count-like fields, `sqrt`); the order is taken
    * on the UNROUNDED product (the boosting-query rule) and the
    * emitted score rounds at 6. One broadcast-joinable doc-attribute
    * fetch + a top-k heap — no window, no rescan of the ranking. */
  def fieldValueFactor(hits: DataFrame, docs: DataFrame, idCol: String,
      field: Column, factor: Double, modifier: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(factor > 0.0, s"factor must be > 0, got $factor")
    val m = modifier match {
      case "none" => field.cast(DoubleType)
      case "log1p" => log(lit(1.0) + field.cast(DoubleType))
      case "sqrt" => sqrt(field.cast(DoubleType))
      case other => throw new IllegalArgumentException(
        s"modifier must be none|log1p|sqrt, got $other")
    }
    hits.select(col("doc_id"), col("score"))
      .join(docs.select(col(idCol).as("doc_id"), m.as("__m")), Seq("doc_id"))
      .withColumn("__s", col("score") * lit(factor) * col("__m"))
      .orderBy(col("__s").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), round(col("__s"), 6).as("score"))
  }

  /** function_score `random_score` with a SEED (X260 — the ES
    * deterministic jitter: serving diversity, A/B bucket assignment,
    * reproducible sampling): per doc, a uniform [0, 1) score from the
    * engine's md5 discipline — the first 7 hex digits of
    * md5(seed ‖ id) mod 10⁶, over 10⁶ — so any engine (and the
    * oracle) computes the IDENTICAL value from the same seed; never
    * JVM-specific hashing. Rank by (score desc, id asc) for a
    * reproducible "random" page; combine with a relevance frame via
    * [[fieldValueFactor]]-style multiplication if ES boost_mode
    * semantics are wanted. */
  def randomScore(docs: DataFrame, idCol: String, seed: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      (pmod(conv(substring(md5(concat(lit(seed),
          col(idCol).cast(org.apache.spark.sql.types.StringType))), 1, 7),
        16, 10).cast(org.apache.spark.sql.types.LongType), lit(1000000L))
        .cast(DoubleType) / lit(1000000.0)).as("score"))

  def disMax(legs: Seq[DataFrame], k: Int,
      tieBreaker: Double = 0.0): DataFrame = {
    require(legs.nonEmpty, "no legs")
    require(k > 0, s"k must be positive, got $k")
    require(tieBreaker >= 0.0 && tieBreaker <= 1.0,
      s"tieBreaker must be in [0,1], got $tieBreaker")
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 6)
    legs.map(_.select(col("doc_id"), col("score")))
      .reduce(_ unionAll _)
      .groupBy(col("doc_id"))
      .agg(max(col("score")).as("best"),
        sum(col("score").cast(dec)).cast(DoubleType).as("__sum"),
        count(lit(1)).as("n_legs"))
      .withColumn("__combined",
        col("best") + lit(tieBreaker) * (col("__sum") - col("best")))
      .orderBy(col("__combined").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("best"), col("n_legs"),
        round(col("__combined"), 6).as("score"))
  }

  /** Boosting query (X231 — the Elasticsearch `boosting` compound /
    * Lucene BoostingQuery): rank by the positive query, DEMOTE (never
    * exclude) documents matching the negative query by multiplying
    * their score with `negativeBoost` ∈ [0, 1) — "sql the language,
    * demote sql the cocktail" without the recall loss of must_not.
    * `hits` is the positive ranking ((doc_id, score), round-6);
    * `negative` the matching doc ids (a pruned
    * [[graft.sources.InvertedIndex.termPostings]] projection or
    * booleanSearch output — duplicates tolerated).
    *
    * One distinct + one left join against the k-bounded-or-full hit
    * frame + a per-row map and a top-k heap; ordering on the
    * UNROUNDED demoted score (doc_id tiebreak), round-6 output.
    * Output: (doc_id, score, demoted). */
  def boostingQuery(hits: DataFrame, negative: DataFrame, k: Int,
      negativeBoost: Double): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(negativeBoost >= 0.0 && negativeBoost < 1.0,
      s"negativeBoost must be in [0,1), got $negativeBoost")
    val neg = negative.select(col("doc_id")).distinct()
      .withColumn("__neg", lit(true))
    hits.select(col("doc_id"), col("score"))
      .join(neg, Seq("doc_id"), "left")
      .withColumn("__s", when(col("__neg"),
        col("score") * lit(negativeBoost)).otherwise(col("score")))
      .withColumn("demoted", coalesce(col("__neg"), lit(false)))
      .orderBy(col("__s").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), round(col("__s"), 6).as("score"),
        col("demoted"))
  }

  /** Field-value-factor function score (X221 — the Elasticsearch
    * `function_score` / `field_value_factor` contract): re-rank a hit
    * list by folding a per-document NUMERIC signal (length, popularity
    * count, static rank) into the relevance score —
    * `score' = score ⊕ weight·modifier(factor)` with `⊕` the
    * `boostMode` (`multiply`, the ES default, or `sum`) and `modifier`
    * one of `none` / `log1p` / `sqrt` (the ES names; `log1p` is the
    * safe default for unbounded counts). Negative factors are rejected
    * at scoring time the way ES rejects them (ln/sqrt of a negative is
    * a data error, not a sort key).
    *
    * Scale shape: one equi-join of the hit list (k rows) against the
    * column-pruned (id, factor) projection — broadcast-sized by
    * construction — then a per-row map and a re-cut heap. The factor
    * side reads ONLY the id and factor columns (pushdown-friendly).
    * Output: (doc_id, score, boosted) re-ranked by `boosted` (round-6,
    * doc_id tiebreak), cut to `k`. */
  def fieldValueBoost(hits: DataFrame, docs: DataFrame, idCol: String,
      factor: Column, k: Int, weight: Double = 1.0,
      modifier: String = "log1p", boostMode: String = "multiply"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val f = col("__factor").cast(DoubleType)
    val modified = modifier match {
      case "none"  => f
      case "log1p" => log(lit(1.0) + f)
      case "sqrt"  => sqrt(f)
      case other => throw new IllegalArgumentException(
        s"modifier must be none|log1p|sqrt, got '$other'")
    }
    val guarded = when(f < 0, raise_error(concat(
        lit("field_value_factor: negative factor for doc "), col("doc_id"))))
      .otherwise(lit(weight) * modified)
    val combined = boostMode match {
      case "multiply" => col("score") * guarded
      case "sum"      => col("score") + guarded
      case other => throw new IllegalArgumentException(
        s"boostMode must be multiply|sum, got '$other'")
    }
    val factors = docs.select(col(idCol).as("doc_id"), factor.as("__factor"))
    hits.join(factors, Seq("doc_id"))
      .withColumn("__boosted", combined)
      .orderBy(col("__boosted").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("score"),
        round(col("__boosted"), 6).as("boosted"))
  }
}
