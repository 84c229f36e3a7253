package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions over the real testdata — the properties that
  * make queries scale (pushdown, pruning, broadcast, TakeOrdered instead
  * of global sort/limit funnels) must hold structurally, not just produce
  * right answers at toy sizes.
  *
  * Notes: scan pushdown is asserted via FileSourceScanExec.metadata (the
  * toString truncates long filter lists); codegen via the FINAL adaptive
  * plan (AQE only materializes WholeStageCodegen stages after execution).
  */
class PlanAuditSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def df(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)

  private def scans(name: String): Seq[Map[String, String]] =
    df(name).queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s.metadata }

  private def staticPlan(name: String): String =
    df(name).queryExecution.sparkPlan.toString

  private def finalPlan(name: String): String = {
    val frame = df(name)
    frame.collect()
    frame.queryExecution.executedPlan.toString
  }

  test("point lookup pushes the predicate into the parquet scan (S2)") {
    val pushed = scans("q02_point_lookup").map(_("PushedFilters")).mkString
    assert(pushed.contains("EqualTo(o_orderkey,4242"), pushed)
  }

  test("range scan pushes both bounds and the quantity filter (P2)") {
    val pushed = scans("q04_range_scan").map(_("PushedFilters")).mkString
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate"), pushed)
    assert(pushed.contains("LessThan(l_shipdate"), pushed)
    assert(pushed.contains("GreaterThan(l_quantity,45.0)"), pushed)
  }

  test("projection prunes the scan to selected columns only (P1)") {
    val read = scans("q05_like_scan").map(_("ReadSchema")).mkString
    assert(read.contains("p_partkey") && read.contains("p_name") && read.contains("p_brand"), read)
    assert(!read.contains("p_retailprice") && !read.contains("p_comment"),
      s"unused columns must not be read: $read")
  }

  test("search: broadcasts, TakeOrderedAndProject top-k, no single-partition GlobalLimit") {
    val p = staticPlan("q37_search_e2e")
    assert(p.contains("TakeOrderedAndProject"),
      s"orderBy+limit must plan as a distributed top-k heap:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the stage-1 candidate join must broadcast the posts side:\n$p")
    assert(!p.contains("GlobalLimit"), s"no global-limit funnel in the default plan:\n$p")
  }

  test("search hamming stage reads only sketch columns, never the wide vector (column pruning)") {
    // a sketch-only projection of the store prunes the wide vector column;
    // the search's own scan reads vector to carry it into the rerank, and
    // the one-scan row below bounds its columns
    val emb = SparkEntry.embStore(spark, sf)
    val stage2 = emb.select(org.apache.spark.sql.functions.col("id"),
      org.apache.spark.sql.functions.col("binary_code"))
    val read = stage2.queryExecution.sparkPlan
      .collect { case s: FileSourceScanExec => s.metadata("ReadSchema") }.mkString
    assert(read.contains("vec_id"), read)
    assert(!read.contains("label"), s"pruned scan must not read unused columns: $read")
  }

  test("small-dim joins broadcast; aggregation is partial-then-final; codegen spans exist") {
    // static plan prints the full tree (AQE's final plan collapses
    // materialized stages into references, hiding the partial agg)
    val s = staticPlan("q10_revenue_by_nation")
    assert(s.contains("BroadcastHashJoin"), s)
    assert(s.contains("partial_sum"), "map-side combine must run before the shuffle")
    val p = finalPlan("q10_revenue_by_nation")
    // WholeStageCodegenExec prints as "*(id) Operator" in tree strings
    assert(p.contains("*("), s"agg pipeline must stay inside codegen:\n$p")
  }

  test("dedup banding plan: hash aggregate on the band key, no sort-based fallback") {
    val p = finalPlan("q43_band_buckets")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("top-k orders plan as TakeOrderedAndProject, not Sort+GlobalLimit (T1/T2)") {
    val p = staticPlan("q13_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("as-of join plans as one window pass — no cartesian/range-join blowup (X20)") {
    val p = finalPlan("q62_asof_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"as-of must not expand the pair space:\n$p")
    assert(p.contains("Window"), p)
    assert(p.contains("RunningWindowFunction") || p.contains("last("),
      s"running last-carry expected:\n$p")
  }

  test("packing never plans a global single-partition window (X26)") {
    val q = SparkEntry.queries("q64_packing")(spark, sf)
    q.collect()
    val p = q.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"prefix sum must use the two-pass scheme, not a window:\n$p")
  }

  test("tfidf: one exchange feeds both the tf aggregate and the top-N window (X19)") {
    // the doc_id repartition must satisfy BOTH the (doc_id, term) agg and
    // the per-doc window: exactly one real doc_id Exchange in the final
    // plan (the df branch reads it back via ReusedExchange), and the
    // top-N cut pushed below the sort as WindowGroupLimit
    val finalSection = finalPlan("q60_tfidf").split("== Initial Plan ==")(0)
    val real = finalSection.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning(doc_id") && !l.contains("ReusedExchange"))
      .size
    assert(real == 1, s"expected one doc_id exchange, found $real:\n$finalSection")
    assert(finalSection.contains("ReusedExchange"),
      s"df branch must reuse the postings exchange:\n$finalSection")
    assert(finalSection.contains("WindowGroupLimit"),
      s"top-N must prune below the window sort:\n$finalSection")
  }

  test("source cap: partial WindowGroupLimit caps per-key rows BEFORE the exchange (X30)") {
    val p = finalPlan("q71_source_cap")
    // the scale property: each map task keeps at most n rows per key, so
    // the shuffle moves O(n·keys) rows, not the whole corpus
    assert(p.contains("row_number(), 20, Partial"),
      s"expected a map-side partial WindowGroupLimit:\n$p")
    assert(p.contains("row_number(), 20, Final"), p)
    val read = scans("q71_source_cap").map(_("ReadSchema")).mkString
    assert(!read.contains("text"), s"cap must not read the wide text column: $read")
  }

  test("corpus-freq score: postings exchange reused across tf and ctf branches (X29)") {
    val finalSection = finalPlan("q70_corpus_freq").split("== Initial Plan ==")(0)
    assert(finalSection.contains("ReusedExchange"),
      s"ctf branch must reuse the postings exchange, not re-explode the corpus:\n$finalSection")
    assert(finalSection.contains("partial_sum"),
      s"per-doc sums must map-side combine:\n$finalSection")
    assert(!finalSection.contains("CartesianProduct"), finalSection)
  }

  test("balanced sample: rate table broadcasts; the corpus side is never re-shuffled (X36)") {
    val finalSection = finalPlan("q75_balanced_sample").split("== Initial Plan ==")(0)
    assert(finalSection.contains("BroadcastHashJoin"),
      s"per-key rates are one row per source — must broadcast:\n$finalSection")
    // every shuffle in the plan belongs to the rate branch (keyed on __k /
    // the final output sort): the corpus rows themselves never ride a hash
    // exchange carrying doc_id
    val docExchanges = finalSection.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") && l.contains("doc_id")).toList
    assert(docExchanges.isEmpty,
      s"corpus side re-shuffled:\n${docExchanges.mkString("\n")}")
  }

  test("incremental dedup: bloom rides as a subquery, verify is an anti-join, no cartesian (X41)") {
    val p = staticPlan("q79_incremental_dedup")
    assert(p.contains("Subquery") || p.contains("subquery"),
      s"bloom sketch must ride as a scalar subquery:\n$p")
    assert(p.contains("LeftAnti"), s"exact verify must be an anti-join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("top terms: distributed top-k heap over the term agg, no full vocab sort (X39)") {
    val p = staticPlan("q78_top_terms")
    assert(p.contains("TakeOrderedAndProject"),
      s"vocabulary head must be a top-k heap, not Sort+GlobalLimit:\n$p")
  }

  test("shard shuffle: scan prunes to the id column only (X31)") {
    val read = scans("q72_shard_shuffle").map(_("ReadSchema")).mkString
    assert(read.contains("doc_id") && !read.contains("text"),
      s"shard assignment must not read document payloads: $read")
  }

  test("sessionize: both window passes and the session agg share ONE user exchange (X34)") {
    val finalSection = finalPlan("q73_sessionize").split("== Initial Plan ==")(0)
    val userExchanges = finalSection.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning(user_id") && !l.contains("ReusedExchange"))
      .size
    assert(userExchanges == 1,
      s"lag flag, running session number and the agg must share one exchange:\n$finalSection")
  }

  test("decontamination: no inferred-filter shingle recompute below the explode (X28)") {
    val p = finalPlan("q66_decontaminate")
    // the 18s-class regression shape: predicate pushdown inlines the
    // tokenize->shingle chain into a scan-level filter. The tokenizer must
    // appear only in projections (2 sides), never inside Filter conditions.
    val filterLines = p.linesIterator.filter(_.contains("Filter ")).mkString("\n")
    assert(!filterLines.contains("split(lower"),
      s"tokenizer inlined into a filter — InferFiltersFromGenerate regression:\n$filterLines")
  }

  test("admin page: TakeOrderedAndProject with offset, posts broadcast — no sort funnel (T7/T9)") {
    val p = staticPlan("q84_admin_page")
    assert(p.contains("TakeOrderedAndProject") && p.contains("offset=25"),
      s"pagination must plan as a distributed heap with offset, not Sort+GlobalLimit:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the posts listing slice must broadcast:\n$p")
  }

  test("image roundtrip: payload bytes never cross an exchange (X22)") {
    // the text shuffle (parallelizing the encode) happens BEFORE payloads
    // exist; the final sort exchange carries only the 4 decoded columns —
    // no Exchange may ever move the binary payload at any scale. Checked
    // on the exchange INPUT attributes (plan strings only print
    // partitioning expressions, so a toString grep cannot fail).
    val plan = df("q85_image_roundtrip").queryExecution.sparkPlan
    val shuffled = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.child.output.map(a => (a.name, a.dataType))
    }
    assert(shuffled.nonEmpty,
      "expected the pre-render repartition exchange in the plan")
    val binCols = shuffled.flatten.collect {
      case (n, org.apache.spark.sql.types.BinaryType) => n }
    assert(binCols.isEmpty, s"an exchange is moving binary payload bytes: $binCols")
    assert(staticPlan("q85_image_roundtrip").contains("RoundRobinPartitioning"),
      "the pre-render repartition must spread the encode across cores")
  }

  // The new-op audits drive the operator on a repartitioned input (the
  // sf0.001 parquet is one split, whose SinglePartition satisfies every
  // required distribution — no exchange would be planned at all) and
  // assert on the PREPARED plan: EnsureRequirements inserts
  // distribution-driven exchanges after sparkPlan, so only executedPlan
  // (AQE's initial tree, pre-execution) shows them.

  private def prepPlan(frame: DataFrame): String =
    frame.queryExecution.executedPlan.toString

  test("line dedup: census shuffles the md5 line key, never the raw line; map-side combine (X47)") {
    import org.apache.spark.sql.functions.{col, concat_ws}
    val docs = spark.read.parquet(s"$sf/documents.parquet").repartition(4)
      .select(col("doc_id"), concat_ws("\n", col("text"), col("source")).as("text"))
    val p = prepPlan(operators.Dedup.lineDedup(docs, "doc_id", col("text")))
    // the duplicate-line census exchange must be keyed by the 16-byte md5
    // prefix (lk) with a partial aggregate below it — a raw-line key would
    // put every boilerplate body on the wire once per occurrence
    assert(p.contains("hashpartitioning(lk"),
      s"census exchange must key on the md5 line prefix:\n$p")
    assert(p.contains("partial_count"),
      s"the distinct-doc census needs a map-side partial below the exchange:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian in the flagging join:\n$p")
  }

  test("semantic dedup: pair join keys on the cluster id, no cartesian (X48)") {
    import org.apache.spark.sql.functions.col
    val embs = spark.read.parquet(s"$sf/embeddings.parquet").repartition(4)
    val cents = Seq(Array.fill(64)(0.1f), Array.fill(64)(-0.1f))
    val p = prepPlan(operators.Dedup.semanticDedup(embs, "vec_id", "embedding", cents, 0.4))
    // SemDeDup's whole point: candidates form inside coarse clusters, so
    // the self-join must plan as an equi-join KEYED by the cluster id —
    // broadcast at this toy size, cluster-keyed exchange at scale; either
    // way the cosine runs only inside matching clusters
    assert(p.contains("hashpartitioning(cluster") || p.contains("BroadcastHashJoin [cluster"),
      s"pair join must be an equi-join on the cluster id:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"within-cluster pairing must never fall back to all-pairs:\n$p")
  }

  test("bigram table: (w1,w2) agg map-side combines; per-head top-k stays a partial window cut (X52)") {
    val p = finalPlan("q95_bigram_table")
    // the shuffle carries combined (w1, w2, count) rows, not raw bigrams,
    // and each map task pre-cuts to k rows per head before the exchange
    assert(p.contains("partial_count"),
      s"bigram counts must map-side combine below the exchange:\n$p")
    assert(p.contains("row_number(), 3, Partial"),
      s"per-head top-k must pre-cut map-side (WindowGroupLimit Partial):\n$p")
  }

  test("winnow overlap: postings carry 8-byte fps, pair join is an fp equi-join (X55)") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet").repartition(4)
    val p = prepPlan(operators.Dedup.winnowedOverlap(docs, "doc_id", col("text")))
    assert(p.contains("hashpartitioning(fp") || p.contains("SortMergeJoin [fp")
      || p.contains("BroadcastHashJoin [fp"),
      s"the sketch self-join must key on the fingerprint:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"sketch pairing must never fall back to all-pairs:\n$p")
  }

  test("matryoshka funnel: both stages are distributed top-k heaps over one scan, no rerank join (X61)") {
    val p = staticPlan("q104_matryoshka_search")
    assert("TakeOrderedAndProject".r.findAllIn(p).length == 2,
      s"prefix stage AND rerank must each plan as a top-k heap:\n$p")
    assert(!p.contains("GlobalLimit"), s"no single-partition limit funnel:\n$p")
    assert(scans("q104_matryoshka_search").size == 1 && !p.contains("Join"),
      s"the prefix heap carries the vectors into the rerank, no join re-scans them:\n$p")
  }

  test("mixture sample: single source-keyed exchange, literal budget map — no join at all (X49)") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet").repartition(4)
    val frame = operators.Curation.mixtureSample(docs, col("source"), "doc_id",
      col("n_chars"), Seq("src0" -> 100L, "src1" -> 50L))
    val p = prepPlan(frame)
    // exactly one hash exchange (the window's source partition); the
    // audit input's own RoundRobin repartition is the only other exchange
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"mixture sampling is ONE window pass -> one hash exchange:\n$p")
    assert(p.contains("hashpartitioning(source"),
      s"the hash exchange must key on the source (the window partition):\n$p")
    assert(!p.contains("Join"),
      s"budgets ride as a literal map expression, never a join:\n$p")
  }

  test("lm score: corpus scanned once, count table pinned for all three consumers (X64)") {
    val p = staticPlan("q107_lm_score")
    // scored-side generate is the ONLY parquet scan; the model's count
    // join, head aggregate, and V aggregate all read the pinned table
    assert("FileScan parquet".r.findAllIn(p).length == 1,
      s"reference-model consumers must read the checkpointed count table, not rescan:\n$p")
    assert("Scan ExistingRDD".r.findAllIn(p).length == 3,
      s"count join + head agg + V agg = three reads of the pinned table:\n$p")
    assert(p.contains("partial_sum(cast(__lp"),
      s"per-doc mean must map-side combine:\n$p")
  }

  test("bm25: one doc-keyed pass, stats broadcast, top-k heap — no postings joins (X76)") {
    val p = staticPlan("q118_bm25")
    assert("FileScan parquet".r.findAllIn(p).length <= 2,
      s"per-doc tf/dl and corpus stats must come from one pass (exchange reuse), not per-term scans:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"the cut must be a distributed heap:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the single stats row must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no postings joins in the BM25 plan:\n$p")
  }

  test("session traces: ONE user exchange serves sessionize windows and the trace agg (X78)") {
    import org.apache.spark.sql.functions.col
    val ev = SparkEntry.events(spark, sf)
    val frame = operators.Sessionize.sessionTraces(ev, col("user_id"), col("ts"),
      col("event_id"), col("event_type"), 1800000000L)
    val p = prepPlan(frame)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"window passes and the (user, session) aggregation must share one exchange:\n$p")
  }

  test("cdc chunks: ONE doc exchange serves both windows and the chunk aggregate (X87)") {
    import org.apache.spark.sql.functions.col
    val frame = operators.TextAnalysis.cdcChunks(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id", col("text"))
    val p = prepPlan(frame)
    // hash(doc_id) clusters (doc_id, chunk_no) too: the prefix-count
    // window, the in-chunk rank window, and the per-chunk aggregate must
    // all ride the same exchange
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"cdcChunks must plan exactly one doc-keyed exchange:\n$p")
  }

  test("ngram diversity: ONE corpus scan feeds all three gram orders (X92)") {
    import org.apache.spark.sql.functions.col
    val frame = operators.CorpusStats.ngramDiversity(
      spark.read.parquet(s"$sf/documents.parquet"), col("source"), col("text"))
    val p = frame.queryExecution.sparkPlan.toString
    assert("FileScan parquet".r.findAllIn(p).length == 1,
      s"all gram orders must explode from one staged scan:\n$p")
  }

  test("jl projection: shuffle-free per-row map, matrix broadcast not inlined (X95)") {
    val frame = operators.Ann.jlProject(
      spark.read.parquet(s"$sf/embeddings.parquet"), "embedding", 64, 16)
    val p = prepPlan(frame)
    assert(!p.contains("Exchange"), s"projection must not shuffle:\n$p")
    assert(p.contains("jl_project"), s"expected the broadcast codegen kernel:\n$p")
  }

  test("matryoshka over a stored prefix column: one scan reads the prefix and the full vector once (X61)") {
    import org.apache.spark.sql.functions.{col, lit}
    val dir = java.nio.file.Files.createTempDirectory("graft_mrl_audit").toString
    val store = new sources.EmbeddingStore(spark, s"$dir/emb", numBuckets = 4,
      prefixDims = Some(2))
    store.bulkLoad(
      spark.range(1, 33).select(col("id").as("post_id"), lit(0).as("sequence_no"),
        org.apache.spark.sql.functions.array(
          (col("id") % 7).cast("float"), (col("id") % 5).cast("float"),
          (col("id") % 3).cast("float"), (col("id") % 2).cast("float")).as("vector"),
        lit("m").as("vector_type")))
    val frame = operators.Ann.matryoshkaTopK(store.read(), "id", "vector",
      Array(1f, 2f, 3f, 4f), prefixDims = 2, candidates = 8, k = 4,
      prefixCol = Some("vector_prefix"))
    val metas = frame.queryExecution.sparkPlan
      .collect { case s: FileSourceScanExec => s.metadata("ReadSchema") }
    // stage 1 ranks on the stored prefix; its heap carries the full
    // vector into the rerank, so no second scan reads it again
    assert(metas.size == 1 && metas.head.contains("vector_prefix") && metas.head.contains("vector:"),
      s"one scan reads the prefix and the full vector:\n${metas.mkString("\n")}")
    assert(!metas.head.contains("normalized_vector"),
      s"the scan prunes the columns neither stage uses:\n${metas.head}")
    // and the prefix path returns the same rows as the slice path
    val viaSlice = operators.Ann.matryoshkaTopK(store.read(), "id", "vector",
      Array(1f, 2f, 3f, 4f), 2, 8, 4).collect().toSeq
    assert(frame.collect().toSeq == viaSlice, "stored prefix changed the results")
  }

  test("pack slices: per-row generate over the assignment frame, no new exchange (X109)") {
    import org.apache.spark.sql.functions.{col, size => asize}
    val asg = operators.Packing.packAssignments(
      spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"),
          asize(operators.TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens")),
      "doc_id", "n_tokens", 2048L)
    val p = prepPlan(operators.Packing.packSlices(asg, "doc_id", "n_tokens", 2048L))
    assert(!p.contains("Exchange"),
      s"the cut-list expansion must not add an exchange:\n$p")
  }

  test("oov rate: vocab rides a broadcast join, corpus side never sort-merges (X110)") {
    import org.apache.spark.sql.functions.col
    val frame = operators.CorpusStats.oovRate(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id", col("text"), 50)
    val p = prepPlan(frame)
    assert(p.contains("BroadcastHashJoin"), s"vocab must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a corpus-sized shuffle join defeats the bounded-vocab design:\n$p")
  }

  test("coverage histogram: bucket equi-join, never a cartesian product (X98)") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val frame = operators.Ann.coverageHistogram(
      e.filter(col("vec_id") % 5 === 0), e.filter(col("vec_id") % 5 =!= 0),
      "vec_id", "embedding", bits = 8)
    val p = prepPlan(frame)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"the NN pass must join on the sign bucket, not cross:\n$p")
  }

  test("bpe pairs: vocab census before char explode, top-k heap not global sort (X90)") {
    import org.apache.spark.sql.functions.col
    val frame = operators.TextAnalysis.bpePairStats(
      spark.read.parquet(s"$sf/documents.parquet"), col("text"))
    val p = prepPlan(frame)
    // census exchange + pair exchange, nothing else; the k-cut must be a
    // distributed heap
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2,
      s"census + pair aggregation = exactly two exchanges:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must heap, not sort:\n$p")
  }

  test("embedding health: partials collapse map-side, one dim exchange, no vector shuffle (X88)") {
    val frame = operators.Ann.embeddingHealth(
      spark.read.parquet(s"$sf/embeddings.parquet"), "embedding")
    val p = prepPlan(frame)
    assert("Exchange hashpartitioning\\(dim".r.findAllIn(p).length == 1,
      s"one dim-keyed exchange of O(tasks*dim) partials:\n$p")
    assert(p.contains("partial_count"),
      s"per-dim aggregation must map-side combine before the exchange:\n$p")
  }

  test("datasheet: one corpus scan, one key exchange for aggregate + majority window (X80)") {
    val p = staticPlan("q122_datasheet")
    assert("FileScan parquet".r.findAllIn(p).length <= 2,
      s"per-row signals must not rescan per consumer:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2,
      s"the key repartition must satisfy the aggregate, lang counts, and window:\n$p")
  }

  test("dsir: one scored-side generate, two pinned models, no extra corpus pass (X65)") {
    val p = staticPlan("q108_dsir_weights")
    // documents is read once for the scored bigrams and once for the
    // target filter's model build... the target model build happens at
    // checkpoint time, so the RESULT plan sees exactly one parquet scan
    assert("FileScan parquet".r.findAllIn(p).length == 1,
      s"both models must come from pinned count tables:\n$p")
    assert("Scan ExistingRDD".r.findAllIn(p).length == 6,
      s"2 models x (count join + head agg + V agg) = six pinned-table reads:\n$p")
    assert(p.contains("partial_count(1)"),
      s"per-doc aggregation must map-side combine:\n$p")
  }

  test("rollup datasheet: one Expand, group-sized exchanges, text never shuffles (X116)") {
    val scanned = scans("q158_rollup_datasheet").map(_("ReadSchema")).mkString
    assert(scanned.contains("text") && scanned.contains("lang") && scanned.contains("source"),
      scanned)
    assert(!scanned.contains("doc_id") && !scanned.contains("n_chars"),
      s"rollup needs only text/lang/source: $scanned")
    val finalSection = finalPlan("q158_rollup_datasheet").split("== Initial Plan ==")(0)
    assert("Expand ".r.findAllIn(finalSection).length == 1,
      s"rollup is ONE map-side Expand:\n$finalSection")
    val ex = finalSection.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning") && !l.contains("ReusedExchange"))
      .toList
    assert(ex.size <= 2,
      s"group-sized exchanges only (agg + count-distinct re-agg):\n$finalSection")
    assert(!ex.exists(_.contains("text#")),
      s"exchanges carry signals, never the text payload:\n$ex")
  }

  test("span corruption: windows and reassembly share ONE doc exchange (X117)") {
    val finalSection = finalPlan("q159_span_corrupt").split("== Initial Plan ==")(0)
    val real = finalSection.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning(doc_id") && !l.contains("ReusedExchange"))
      .size
    assert(real == 1,
      s"lag/sum windows + per-doc aggregate = one doc_id exchange, found $real:\n$finalSection")
    assert(!finalSection.contains("Exchange SinglePartition") || 
      finalSection.split("Exchange SinglePartition").length <= 2,
      s"no global funnel beyond the final orderBy:\n$finalSection")
  }

  test("length batching: ONE (cap, shard) exchange serves both windows (X118)") {
    val finalSection = finalPlan("q160_length_batches").split("== Initial Plan ==")(0)
    val real = finalSection.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning(bucket_cap") && !l.contains("ReusedExchange"))
      .toList
    assert(real.size == 1,
      s"row_number + batch_max must share the (cap, shard) exchange:\n$finalSection")
    assert(real.head.contains("shard"),
      s"the exchange must carry the shard key (the parallelism lever): ${real.head}")
    val scanned = scans("q160_length_batches").map(_("ReadSchema")).mkString
    assert(!scanned.contains("lang") && !scanned.contains("source"),
      s"batching reads only id + text: $scanned")
  }

  test("score calibration: rank window + moments share one source exchange (X119)") {
    val finalSection = finalPlan("q161_score_calibrate").split("== Initial Plan ==")(0)
    val real = finalSection.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning(source") && !l.contains("ReusedExchange"))
      .size
    assert(real == 1,
      s"window and moment aggregate must share ONE source exchange, found $real:\n$finalSection")
    // Both the rank window and the whole-partition moment windows stack on
    // that single exchange: no join, no second shuffle, nothing to re-use.
    assert(!finalSection.contains("Join"),
      s"moments are window aggregates over the same partitioning, not a join-back:\n$finalSection")
  }

  test("containment: chain evaluated <= 2x, in-group pairs; text never shuffles (X120)") {
    val q = SparkEntry.queries("q162_containment")(spark, sf)
    q.collect()
    val p = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the tokenize->shingle->hash chain feeds exactly the census and the
    // postings shuffle — the 6x re-derivation (size-lookup joins with the
    // chain pushed into scan filters) must not come back
    assert("FileScan parquet".r.findAllIn(p).length <= 2,
      s"the shingle chain must be evaluated at most twice (census + postings):\n$p")
    assert(p.contains("collect_list"),
      s"candidate pairs must be generated in-group from bounded df lists:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no postings self-join — pairs come from the list aggregate:\n$p")
    // Under AQE the ShuffleExchangeExec nodes live inside materialized query
    // stages beneath AdaptiveSparkPlanExec, which `.collect` on the wrapper
    // does not traverse — audit the printed final plan instead.
    val exchangeLines = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning")).toList
    assert(exchangeLines.nonEmpty,
      s"postings census and pair aggregate must shuffle on hash keys:\n$p")
    assert(exchangeLines.size <= 3,
      s"only the postings repartition, the census, and the (id1,id2) pair " +
        s"aggregate may shuffle: $exchangeLines")
    assert(exchangeLines.forall(l => !l.contains("text")),
      s"exchanges carry ids/hashes only, never document text: $exchangeLines")
  }

  test("dup spans: census discipline, one doc-keyed island exchange; text never shuffles (X121)") {
    val q = SparkEntry.queries("q164_dup_spans")(spark, sf)
    q.collect()
    val p = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("FileScan parquet".r.findAllIn(p).length <= 2,
      s"the window chain feeds only the census and the postings shuffle:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the census join must be co-partitioned, not sort-merge over fresh exchanges:\n$p")
    val exchangeLines = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning")).toList
    assert(exchangeLines.size <= 3,
      s"only the postings repartition, the census, and the doc-keyed island " +
        s"merge may shuffle: $exchangeLines")
    assert(exchangeLines.forall(l => !l.contains("text")),
      s"exchanges carry (doc_id, pos, hash) only, never text: $exchangeLines")
    assert(exchangeLines.count(_.contains("doc_id")) <= 1,
      s"lag/sum windows and the span aggregate share ONE doc exchange: $exchangeLines")
  }

  test("cut spans: span side broadcasts; token arrays stay in scan partitions (X125)") {
    val q = SparkEntry.queries("q169_cut_spans")(spark, sf)
    q.collect()
    val p = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"),
      s"the per-doc span arrays must broadcast to the corpus, not shuffle it:\n$p")
    val exchangeLines = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning")).toList
    assert(exchangeLines.forall(l => !l.contains("text#")),
      s"no hash exchange may carry document text: $exchangeLines")
  }

  // ---- approx-path plan shapes (X58/X66/X92/X104) ------------------------
  // The approx variants cannot hash-match an oracle (sketches), so their
  // SCALE promises are pinned structurally instead: each must deliver the
  // plan shape its scaladoc sells, not just a tolerable answer.

  test("adaptive cutoff approx: sketch partials, broadcast cut, no corpus exchange (X58)") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet").repartition(4)
    val p = prepPlan(operators.Curation.adaptiveQualityCutoff(
      docs, "doc_id", col("text"), keepFrac = 0.8, approx = true))
    assert(p.contains("percentile_approx"),
      s"the cutoff must come from the GK sketch:\n$p")
    assert(p.contains("partial_percentile_approx"),
      s"sketch state must combine map-side (constant-size partials):\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"one single-row cut + a filter pass — the corpus itself never hash-shuffles:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the single-row cutoff must ride back as a broadcast:\n$p")
  }

  test("ppl buckets approx: no per-group sort/ntile, boundaries broadcast by value (X66)") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet").repartition(4)
      .select(col("doc_id"), col("text"), col("source"))
    val exact = prepPlan(operators.Curation.pplBuckets(
      docs, docs, "doc_id", col("text"), col("source")))
    // "ntile(" not "ntile": perceNTILE_approx would match the bare word
    assert(exact.contains("ntile(3"),
      s"sanity: the exact path ranks with NTILE:\n$exact")
    val p = prepPlan(operators.Curation.pplBuckets(
      docs, docs, "doc_id", col("text"), col("source"), approx = true))
    assert(!p.contains("ntile(3"),
      s"approx buckets by VALUE comparison, never a rank window:\n$p")
    assert(p.contains("partial_percentile_approx"),
      s"per-group boundary sketches must combine map-side:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the per-group cut rows must broadcast back, not shuffle the docs:\n$p")
  }

  test("ngram diversity approx: HLL partials, no gram-keyed exchange, still one scan (X92)") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def exchanges(p: String) = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toList
    val exact = operators.CorpusStats.ngramDiversity(docs, col("source"), col("text"))
      .queryExecution.executedPlan.toString
    assert(exchanges(exact).exists(_.contains("gram")),
      s"sanity: exact distinct pre-aggregates on the gram key (corpus-sized exchange):\n$exact")
    val frame = operators.CorpusStats.ngramDiversity(docs, col("source"), col("text"),
      approx = true)
    val p = frame.queryExecution.executedPlan.toString
    assert(p.contains("approx_count_distinct"),
      s"the distinct count must be the HLL sketch:\n$p")
    assert(!exchanges(p).exists(_.contains("gram")),
      s"HLL partials are constant-size per (source, n) — the gram-keyed exchange must vanish:\n$p")
    assert(exchanges(p).size == 1,
      s"one group-keyed exchange of sketch partials only:\n$p")
    assert("FileScan parquet".r.findAllIn(p).length == 1,
      s"all gram orders still explode from one staged scan:\n$p")
  }

  test("clip recommendation approx: one dim exchange, sketch partials map-side (X104)") {
    val embs = spark.read.parquet(s"$sf/embeddings.parquet").repartition(4)
    val p = prepPlan(operators.Quantize.clipRecommendation(embs, "embedding",
      approx = true))
    assert("Exchange hashpartitioning\\(dim".r.findAllIn(p).length == 1,
      s"exact and approx share the single dim-keyed exchange:\n$p")
    assert(p.contains("partial_percentile_approx"),
      s"the per-dim sort state must collapse to a bounded map-side sketch:\n$p")
    assert(!p.contains("SortAggregate"),
      s"sketch aggregation must not fall back to sort-based agg:\n$p")
  }

  test("decontamination spans: postings-only exchanges, test side collapses to a hash set (X133)") {
    val q = SparkEntry.queries("q178_decontaminate")(spark, sf)
    q.collect()
    val p = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("FileScan parquet".r.findAllIn(p).length <= 2,
      s"train and test sides scan once each — the shingle chain must not re-derive:\n$p")
    val exchangeLines = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning")).toList
    assert(exchangeLines.size <= 3,
      s"train-postings repartition + test-hash distinct + doc island merge only: $exchangeLines")
    assert(exchangeLines.forall(l => !l.contains("text#")),
      s"exchanges carry (doc_id, pos, hash) postings only, never text: $exchangeLines")
    assert(exchangeLines.count(_.contains("doc_id")) <= 1,
      s"lag/sum windows and the span aggregate share ONE doc exchange: $exchangeLines")
    assert(p.contains("partial_"),
      s"the test hash-set distinct must map-side combine:\n$p")
  }

  test("tag dictionary: lexicon broadcasts, only matches reach the (doc, tag) exchange (X137)") {
    import org.apache.spark.sql.functions.col
    val frame = operators.TextAnalysis.tagDictionary(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id", col("text"),
      Seq(("a", "hash"), ("b", "row scan")))
    val p = prepPlan(frame)
    assert(p.contains("BroadcastHashJoin"),
      s"the dictionary side must broadcast, never shuffle the corpus grams:\n$p")
    // exactly one hash exchange: the (doc, tag) count of the MATCHES;
    // gram postings themselves stay map-side
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"only matched (doc, tag) partial counts may shuffle:\n$p")
    assert(p.contains("partial_count"),
      s"per-(doc, tag) counts must combine map-side:\n$p")
  }

  test("cluster datasheet: top-terms cut pushed below the shuffle as WindowGroupLimit (X139)") {
    import org.apache.spark.sql.functions.col
    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = embs.filter(col("vec_id") < 4).orderBy(col("vec_id")).collect()
      .map(r => r.getSeq[Float](r.fieldIndex("embedding")).toArray).toSeq
    val assign = operators.Ann.ivfAssign(embs, "embedding", cents)
      .select(col("vec_id").as("id"), col("ivf_list").as("cluster"))
    val frame = operators.CorpusStats.clusterDatasheet(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id",
      col("text"), col("source"), assign, topTerms = 5)
    val p = prepPlan(frame)
    assert(p.contains("WindowGroupLimit"),
      s"per-cluster top-k must cut before the full term table sorts:\n$p")
    assert(!p.contains("text#") || !"Exchange[^\\n]*text#".r.findAllIn(p).hasNext,
      s"exchanges must carry postings/stats, never document text:\n$p")
  }

  test("url profile: pure per-row projection — no exchange, no UDF (X122)") {
    val q = SparkEntry.queries("q165_url_profile")(spark, sf)
    val p = prepPlan(q)
    assert(!p.contains("Exchange hashpartitioning"),
      s"normalization is a projection; only the final ORDER BY may range-shuffle:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"regexp/array functions only, no UDFs:\n$p")
    assert("FileScan parquet".r.findAllIn(p).length == 1,
      s"one scan serves the whole profile:\n$p")
  }

  test("unimax plan: corpus collapses map-side before any window touches it (X150)") {
    import org.apache.spark.sql.functions.{col, size}
    val docs = spark.read.parquet(s"$sf/documents.parquet").repartition(4)
    val p = prepPlan(operators.Curation.uniMaxPlan(docs, col("source"),
      size(operators.TextAnalysis.tokens(col("text"))).cast("long"), 48000L, 2))
    // the ONLY corpus-width work is the per-source aggregate, and it must
    // partial map-side; the waterfill windows then run on ≤|sources| rows
    assert(p.contains("partial_count") && p.contains("partial_sum"),
      s"per-source aggregate needs map-side partials below its exchange:\n$p")
    assert(p.contains("hashpartitioning(source"),
      s"one source-keyed exchange collapses the corpus:\n$p")
    // no join anywhere — the budget is literal arithmetic over the agg
    assert(!p.contains("Join"), s"waterfill is windows over the agg, no join:\n$p")
  }

  test("quality classifier scoring: exchange-free projection over the pinned features (X151)") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet").repartition(4)
    val scored = operators.Curation.qualityClassifier(docs, "doc_id", col("text"),
      col("source") === "src0", dims = 8, iters = 1, lr = 0.5)
    val p = prepPlan(scored)
    // training already ran (driver-sequenced aggregates over the pin);
    // the returned frame is a pure per-row projection of the 17-byte
    // (id, label, mask) pin — no exchange, no text re-read, no UDF
    assert(p.contains("Scan ExistingRDD"),
      s"scoring must read the pinned feature frame, not re-tokenize:\n$p")
    assert(!p.contains("Exchange"),
      s"scoring is per-row logit arithmetic — nothing may shuffle:\n$p")
    assert(!p.contains("FileScan"),
      s"text must not be re-read at scoring time:\n$p")
    graft.util.Pins.release(scored)
  }

  test("audio perceptual dups: payload bytes never cross an exchange (X153)") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet").repartition(4)
      .limit(40).select(col("doc_id"), col("source").as("text"))
    val media = operators.Multimodal.fromTextAsWavs(docs, "doc_id", "text")
    val frame = operators.Multimodal.audioPerceptualDups(media, 0, 4)
    val plan = frame.queryExecution.executedPlan
    val shuffled = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.child.output.map(a => (a.name, a.dataType))
    }
    val binCols = shuffled.flatten.collect {
      case (n, org.apache.spark.sql.types.BinaryType) => n }
    assert(binCols.isEmpty, s"an exchange is moving WAV payload bytes: $binCols")
    // candidates must form inside (band, key) buckets, never all-pairs
    val p = plan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"banding join must never fall back to all-pairs:\n$p")
    graft.util.Pins.release(frame)
  }

  test("stupid backoff: count tables map-side combine; doc text never shuffles (X154)") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet").repartition(4)
    val frame = operators.TextAnalysis.stupidBackoff(docs, docs, "doc_id", col("text"))
    val plan = frame.queryExecution.executedPlan
    val p = plan.toString
    assert(p.contains("partial_count"),
      s"tri/bi/uni counts must partial map-side below their exchanges:\n$p")
    val shuffled = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.child.output.map(_.name)
    }
    assert(!shuffled.flatten.contains("text"),
      s"exchanges carry tokens and counts, never the document text: $shuffled")
  }

  test("snippets: anchor pick is a per-row fold, text never rides an exchange (X177)") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet").repartition(4)
    val idx = operators.TextAnalysis.positionalPostings(docs, "doc_id", col("text"))
    val frame = operators.TextAnalysis.snippets(docs, "doc_id", col("text"),
      idx, Seq("sort", "merge"), window = 8)
    val p = prepPlan(frame)
    assert(!p.contains("Window"),
      s"the densest window is a higher-order fold over the hit array, not a window function:\n$p")
    val shuffled = frame.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.child.output.map(_.name)
    }
    assert(!shuffled.flatten.exists(n => n == "text" || n == "__tk"),
      s"only (doc_id, pos) postings and anchors shuffle — never text or tokens: $shuffled")
  }

  test("streaming index replay guard: corpus ids probe map-side, no corpus exchange (X176)") {
    import org.apache.spark.sql.functions.col
    import java.nio.file.Files
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = Files.createTempDirectory("graft_audit_ingest").toString
    val idx = new sources.InvertedIndex(spark, s"$dir/inv", buckets = 4)
    idx.build(docs.filter(col("doc_id") < 100), "doc_id", col("text"))
    val frame = streaming.IndexIngest.freshOnly(idx,
      docs.filter(col("doc_id") >= 100), "doc_id")
    val p = prepPlan(frame)
    // the batch-sized dropDuplicates exchange is fine; what must never
    // happen is a JOIN that shuffles the corpus-sized doclens side
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"both guard joins broadcast the batch-sized side — the doclens id scan never shuffles:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the guard must be broadcast joins:\n$p")
  }

  test("fuzzy suggest: candidates equi-join on variants, never a cross join (X183)") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = prepPlan(operators.TextAnalysis.fuzzySuggest(
      docs, "doc_id", col("text"), Seq("sorrt", "mergee"), topK = 5))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the V×Q cross join must never form — candidates come from the variant equi-join:\n$p")
    assert(p.contains("variant"),
      s"the join key must be the deletion-neighborhood variant:\n$p")
  }

  test("static pruning window: rank cut plans as partial WindowGroupLimit — hot-term skew bounded map-side (X204)") {
    import org.apache.spark.sql.functions.{col, count, explode, lit, lower, row_number, split}
    import org.apache.spark.sql.expressions.Window
    // the exact frame shape prunedCopy's survivor selection builds: a
    // per-term row_number cut. InferWindowGroupLimit must insert the
    // PARTIAL group-limit below the exchange, so a stopword-class term
    // with corpus-proportional postings ships at most keepPerTerm rows
    // per map task instead of its whole list to one reducer.
    val shaped = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("term"))
          .orderBy(col("tf").desc, col("doc_id").asc)))
      .filter(col("rk") <= 50)
    val p = shaped.queryExecution.sparkPlan.toString
    assert(p.contains("WindowGroupLimit"),
      s"the rank filter must infer a WindowGroupLimit:\n$p")
    assert(p.contains("Partial"),
      s"a PARTIAL group limit must sit below the exchange:\n$p")
  }

  test("batched QL/Boolean: postings pruned to the batch vocabulary's buckets, no cartesian grid (X201)") {
    for (name <- Seq("q244_ql_batch", "q245_boolean_batch")) {
      val postingScans = scans(name).filter(
        _.get("Location").exists(_.contains("postings")))
      assert(postingScans.nonEmpty, s"$name must read the persisted postings")
      assert(postingScans.forall(_("PartitionFilters").contains("tbucket")),
        s"$name postings scans must carry the bucket PartitionFilters")
      val p = staticPlan(name)
      assert(!p.contains("CartesianProduct"),
        s"the batch shape must never form |queries|x|corpus|:\n$p")
    }
    // the candidates x query-terms grid joins by equi keys; only the
    // one-row stats frame rides a broadcast nest
    val p244 = staticPlan("q244_ql_batch")
    assert(p244.contains("TakeOrderedAndProject") || p244.contains("Window"),
      s"per-query rank cut missing:\n$p244")
  }

  test("filters/date_range aggs: one conditional-count row, zero row-mass exchange (X269/X274)") {
    for (name <- Seq("q311_filters_agg", "q315_date_range")) {
      val p = staticPlan(name)
      // the only shuffle allowed is the one-row-per-task partial
      // aggregate collapsing to the global row (SinglePartition); a
      // hashpartitioning exchange would mean row mass moved
      assert(!p.contains("Exchange hashpartitioning"),
        s"$name must not shuffle row mass:\n$p")
      assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
        s"$name must be a conditional-count aggregate:\n$p")
    }
  }

  test("bucket_sort: size-bounded cut plans as a TakeOrderedAndProject heap (X275)") {
    val p = staticPlan("q316_bucket_sort")
    assert(p.contains("TakeOrderedAndProject"),
      s"from/size must push into the heap, not a global sort + slice:\n$p")
  }

  test("span containment: only the involved terms' buckets are listed (X273)") {
    for (name <- Seq("q317_span_within", "q318_span_containing")) {
      val postingScans = scans(name).filter(
        _.get("Location").exists(_.contains("postings")))
      assert(postingScans.nonEmpty, s"$name must read the persisted postings")
      assert(postingScans.forall(_("PartitionFilters").contains("tbucket")),
        s"$name postings scans must prune to the terms' buckets")
      assert(!staticPlan(name).contains("CartesianProduct"),
        s"$name must band, not cross-product")
    }
  }

  test("sampler cut plans as a TakeOrderedAndProject heap, never a global sort (X284)") {
    val p = staticPlan("q327_sampler")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("diversified sampler: per-key cap pruned below the window, then the heap (X284)") {
    val p = finalPlan("q328_diversified_sampler")
    assert(p.contains("WindowGroupLimit"),
      s"the per-key cap must prune before the exchange:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"the global cut must be a heap, not Sort+GlobalLimit:\n$p")
  }

  test("top_metrics: one map-side-combined aggregate, no window (X296)") {
    val p = staticPlan("q342_top_metrics")
    assert(!p.contains("Window"), s"argmax must be max_by, not a window:\n$p")
    // struct-valued max_by plans as SortAggregate; the scale property is
    // the PARTIAL side — per-task maxima before the exchange
    assert(p.contains("partial_max_by"),
      s"max_by must combine map-side:\n$p")
  }

  test("filtered PQ probe: the probe set still reaches the codes scan as partition filters (X294)") {
    val parts = df("q340_knn_filtered_pq").queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec
          if s.metadata.get("Location").exists(_.contains("codes")) =>
        s.metadata.getOrElse("PartitionFilters", "")
    }
    assert(parts.exists(_.contains("ivf_list")),
      s"probe must prune the codes directories: $parts")
  }

  test("string_stats: raw text never crosses an exchange — only (key, char, count) rows shuffle (X291)") {
    // exchanges only exist after preparation; the UNEXECUTED adaptive
    // plan still holds plain ShuffleExchangeExec nodes (no stage wrappers)
    val prepared = df("q337_string_stats").queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val shuffles = prepared.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => s
    }
    assert(shuffles.nonEmpty, "the per-key/per-char aggregates shuffle their keys")
    assert(shuffles.forall(_.output.forall(a => a.name != "text")),
      s"exchanges must carry aggregate rows, not document text: " +
        shuffles.map(_.output.map(_.name).mkString("[", ",", "]")).mkString(" "))
  }

  test("normalize: serves from the pinned bucket frame — one-row stats broadcast, zero row-mass exchange (X295)") {
    // the q341 daily aggregate pins at build; the six method passes then
    // read the LogicalRDD + broadcast one-row stats frames — the only
    // remaining exchanges are SinglePartition (one-row stats collapse)
    // and the output-order range partition, never hashpartitioning
    val p = finalPlan("q341_normalize")
    assert(!p.contains("Exchange hashpartitioning"),
      s"normalize must not re-shuffle the bucket frame:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the per-method stats rows must broadcast:\n$p")
  }

  test("ip_range: one conditional-count pass, zero row-mass exchange (X298)") {
    val p = staticPlan("q343_ip_range")
    assert(!p.contains("Exchange hashpartitioning"),
      s"ip_range must not shuffle row mass:\n$p")
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
      s"ip_range is a conditional-count aggregate:\n$p")
  }

  test("percentile family: every rank window is key-partitioned, never a global row-mass sort (X292/X293/X303)") {
    for (name <- Seq("q338_boxplot", "q339_mad", "q347_moving_percentiles")) {
      val plan = df(name).queryExecution.sparkPlan
      val windows = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.nonEmpty, s"$name ranks via a window")
      assert(windows.forall(_.partitionSpec.nonEmpty),
        s"$name: a window without a partition spec pulls all rows to one task")
      assert(!plan.toString.contains("CartesianProduct"),
        s"$name must not expand the pair space")
    }
  }

  test("three-leg hybrid: each leg cut is a heap, fusion never cross-products row mass (X299/q348)") {
    val p = staticPlan("q348_hybrid_maxsim")
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 2,
      s"the bounded leg cuts plan as heaps:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"only one-row stats frames may nested-loop (BNLJ BuildRight):\n$p")
  }

  // ---- the flagship filtered search over real file scans -----------------

  /** A 2-bucket store and posts/postmeta parquet tables, shaped like the
    * benchmark's filtered search: a meta predicate OR'd with a posts one,
    * a posts group, a meta sort key and a posts sort key. */
  private lazy val searchFixture = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_search_audit").toString
    (1L to 40L).map(i => (i, if (i % 2 == 0) "publish" else "draft", i * 7 % 50))
      .toDF("ID", "post_status", "comment_count").write.parquet(s"$dir/posts")
    (1L to 40L).flatMap(i => Seq((i, "lang", if (i % 3 == 0) "en" else "de"),
        (i, "rating", (i % 9).toString)))
      .toDF("post_id", "meta_key", "meta_value").write.parquet(s"$dir/meta")
    val store = new sources.EmbeddingStore(spark, s"$dir/emb", numBuckets = 2)
    store.bulkLoad((1L to 40L).flatMap(p => (0 until 2).map(s =>
        (p, s, Array.tabulate(8)(d => ((p * 31 + s * 7 + d * 13) % 17 - 8).toFloat), "m")))
      .toDF("post_id", "sequence_no", "vector", "vector_type"))
    (store, spark.read.parquet(s"$dir/posts"), spark.read.parquet(s"$dir/meta"))
  }

  private val filtered = {
    import query._
    QueryBuilder(
      Seq(Seq(Filter("lang", FilterOp.Eq, FilterValue.S("en"), meta = true),
          Filter("comment_count", FilterOp.Gt, FilterValue.I(20))),
        Seq(Filter("post_status", FilterOp.Eq, FilterValue.S("publish")))),
      Seq(Sort("rating", SortDir.Desc, Some(MetaCast.AsDecimal)),
        Sort("comment_count", SortDir.Desc)))
  }

  private val searchQuery = Array.tabulate(8)(d => (d % 3 - 1).toFloat)

  private def search(b: query.QueryBuilder, q: Array[Float] = searchQuery): DataFrame = {
    val (store, posts, meta) = searchFixture
    operators.SearchEngine.search(store.read(), posts, meta, q, 5, b)
  }

  /** The prepared, not yet executed, physical plan: its exchanges are plain
    * nodes, not hidden behind adaptive query stages. */
  private def prepared(frame: DataFrame) = frame.queryExecution.executedPlan match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  /** Spark jobs launched by `body`, counted under a job group of its own. */
  private def jobsOf(body: => Any): Int = jobNamesOf(body).size

  /** The names of the Spark jobs `body` launches (each its first stage's
    * call site, e.g. `collect at IvfIndex.scala:NNN`), collected under a
    * job group of its own. A marker job after it flushes the listener
    * queue (events arrive in order), so the list is final when it is
    * read. */
  private def jobNamesOf(body: => Any): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"audit-${java.util.UUID.randomUUID()}"
    val names = new java.util.concurrent.ConcurrentHashMap[String, Vector[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => names.merge(g, Vector(e.stageInfos.map(_.name).headOption.getOrElse("")),
            (a: Vector[String], b: Vector[String]) => a ++ b))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "audited")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!names.containsKey(s"$group-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(names.containsKey(s"$group-marker"), "listener never saw the marker job")
      Option(names.get(group)).getOrElse(Vector.empty)
    } finally sc.removeSparkListener(listener)
  }

  /** The jobs of `names` that infer a parquet schema: reading a directory
    * with no schema runs a job named after the `parquet` call (so is a
    * parquet write's; the serve paths audited with it write nothing). */
  private def footerJobs(names: Seq[String]): Seq[String] = names.filter(_.startsWith("parquet at "))

  /** A 48-vector IVF index over 4 lists with raw lists and PQ codes. */
  private lazy val pqFixture = {
    import spark.implicits._
    val rnd = new scala.util.Random(9)
    val vecs = (1L to 48L).map(i => i -> Array.fill(8)(rnd.nextFloat() * 2f - 1f))
    val embs = vecs.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_jobs").toString
    val idx = new sources.IvfIndex(spark, s"$dir/ivf")
    idx.buildWithPq(embs, "vec_id", "embedding", vecs.take(4).map(_._2),
      operators.Pq.seedCodebooks(embs, "vec_id", "embedding", m = 4, k = 4))
    idx
  }

  for ((name, probe) <- Seq[(String, sources.IvfIndex => DataFrame)](
      "search" -> (_.search(fresh.head, k = 5, nprobe = 2)),
      "searchWhere" -> (_.searchWhere(fresh.head, k = 5, nprobe = 2,
        org.apache.spark.sql.functions.col("id") > 3)),
      "searchPq" -> (_.searchPq(fresh.head, topK = 5, nprobe = 2)))) {
    test(s"job counts: a warm IvfIndex.$name runs one job, and no job infers a parquet schema") {
      probe(pqFixture).collect()
      val names = jobNamesOf(probe(pqFixture).collect())
      assert(names.size <= 1, s"a warm $name launched ${names.size} jobs: $names")
      assert(footerJobs(names).isEmpty, s"a warm $name inferred a schema: $names")
    }
  }

  test("job counts: a warm InvertedIndex.bm25 runs no footer-inference job") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_jobs").toString
    val inv = new sources.InvertedIndex(spark, s"$dir/inv", buckets = 4)
    inv.build(Seq((1L, "merge sort beats bubble sort"), (2L, "sort merge join"),
      (3L, "unrelated text"), (4L, "another sort document")).toDF("doc_id", "text"),
      "doc_id", $"text")
    inv.delete(Seq(4L).toDF("doc_id"))
    inv.bm25(Seq("sort", "merge"), k = 3).collect()
    val names = jobNamesOf(inv.bm25(Seq("sort", "merge"), k = 3).collect())
    assert(names.nonEmpty && footerJobs(names).isEmpty, s"a warm bm25 inferred a schema: $names")
  }

  test("job counts: a layout's own partition rewrites and appends keep its pinned schemas") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val dir = java.nio.file.Files.createTempDirectory("graft_own_commit_jobs").toString
    val rnd = new scala.util.Random(13)
    def raw(from: Long, n: Int) = (from until from + n).map(i => (i, 0, Array.fill(8)(rnd.nextFloat() * 2f - 1f).toSeq))
      .toDF("post_id", "sequence_no", "vector").withColumn("vector", col("vector").cast("array<float>"))
      .withColumn("vector_type", lit("t"))
    val store = new sources.EmbeddingStore(spark, s"$dir/store", numBuckets = 2)
    store.bulkLoad(raw(0L, 40))
    val idx = new sources.IvfIndex(spark, s"$dir/ivf", assignBuckets = 4)
    idx.build(store.read(), "id", "vector", store.read().orderBy("id").limit(3)
      .select("vector").collect().map(_.getSeq[Float](0).toArray).toSeq)
    store.read(); idx.listsView // schemas pinned
    // building a frame launches no job but its schema's inference
    store.upsert(raw(100L, 5))
    assert(jobsOf(store.read()) == 0, "an upsert's bucket rewrite must keep the store's schema")
    val added = store.read().filter(col("post_id") >= 100L).select(col("id"), col("vector")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toSeq.toDF("id", "vector")
    idx.append(added, "id", "vector")
    assert(jobsOf(idx.listsView) == 0, "an append must keep the lists' schema")
    idx.delete(added.select(col("id")).limit(2))
    assert(jobsOf(idx.listsView) == 0, "a delete's list rewrite must keep the lists' schema")
    store.deleteMany(Seq(1L, 2L))
    assert(jobsOf(store.read()) == 0, "a delete's bucket rewrite must keep the store's schema")
  }

  // ---- a pinned schema follows the layout: its own and others' rebuilds --

  /** Each layout: `build(path, handle, wide)` writes it through `handle`
    * with the narrow schema (Int ids) or a changed one (Long ids, or a
    * retyped column); `read(handle)` is a live-directory read; `changed`
    * holds for the changed schema's frame. A stale pinned schema fails
    * the read: parquet cannot decode a Long column as Int, nor a double
    * or string column as Long. */
  private case class Rebuild[H](layout: String, open: String => H, build: (String, H, Boolean) => Unit,
      read: H => DataFrame, changed: DataFrame => Boolean)

  private def idType(c: String)(f: DataFrame): Boolean =
    f.schema(c).dataType == org.apache.spark.sql.types.LongType

  private def rebuilds: Seq[Rebuild[_]] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    def ids(wide: Boolean) = (1 to 24).toDF("i").select(
      (if (wide) col("i").cast("long") else col("i")).as("id"),
      (col("i") % 3).cast("long").as("post_id"))
    val rnd = new scala.util.Random(3)
    val vec = (1 to 24).map(i => i -> Array.fill(8)(rnd.nextFloat() * 2f - 1f)).toMap
    val vecCol = org.apache.spark.sql.functions.udf((i: Int) => vec(i).toSeq)
    def embs(wide: Boolean) = ids(wide).withColumn("vector",
      vecCol(col("id").cast("int")).cast("array<float>"))
    def docs(wide: Boolean) = ids(wide).select(col("id").as("doc_id"),
      org.apache.spark.sql.functions.concat(lit("sort merge w"), col("id").cast("string")).as("text"))
    /** Replace the live `rel` under `root` through a committed batch: a
      * writer that changes a column's type where the layout's own API
      * cannot. */
    def replace(root: String, rel: String, partCol: Option[String])(rows: DataFrame): Unit = {
      val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      sources.LayoutFs.commit(fs, new org.apache.hadoop.fs.Path(root))(_.stageRows(rel, partCol, rows))
    }
    Seq(
      Rebuild[sources.EmbeddingStore]("EmbeddingStore", new sources.EmbeddingStore(spark, _, numBuckets = 2),
        (_, h, wide) => h.bulkLoad(embs(wide).drop("id").withColumn("post_id",
            if (wide) col("post_id") else col("post_id").cast("int"))
            .withColumn("sequence_no", lit(0)).withColumn("vector_type", lit("t"))),
        _.read(), idType("post_id")),
      Rebuild[sources.IvfIndex]("IvfIndex", new sources.IvfIndex(spark, _),
        (_, h, wide) => h.build(embs(wide), "id", "vector", vec.values.take(2).toSeq),
        _.search(fresh.head, k = 5, nprobe = 2), idType("id")),
      Rebuild[sources.InvertedIndex]("InvertedIndex", new sources.InvertedIndex(spark, _, buckets = 2),
        (_, h, wide) => h.build(docs(wide), "doc_id", col("text")),
        _.bm25(Seq("sort", "merge"), k = 3), idType("doc_id")),
      Rebuild[sources.QueryStore]("QueryStore", new sources.QueryStore(spark, _, buckets = 2),
        (_, h, wide) => h.build(ids(wide)
          .select(col("id").as("query_id"), lit("sort").as("term"), lit("must").as("clause"))),
        _.liveClauses, idType("query_id")),
      Rebuild[sources.GraphIndex]("GraphIndex", new sources.GraphIndex(spark, _, buckets = 2),
        (p, h, wide) => {
          h.build(Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"))
          if (wide) replace(p, "edges", Some("gbucket"))(Seq(("1", "2", 0)).toDF("src", "dst", "gbucket"))
        },
        _.edges(), _.schema("src").dataType == org.apache.spark.sql.types.StringType),
      Rebuild[sources.NgramLm]("NgramLm", new sources.NgramLm(spark, _),
        (p, h, wide) => {
          h.build(docs(wide = false), "doc_id", col("text"))
          if (wide) replace(p, "v=1/uni", None)(Seq(("sort", 1.5)).toDF("term", "c1"))
        },
        _.score(docs(wide = false), "doc_id", col("text")), _ => true))
  }

  for (layout <- Seq("EmbeddingStore", "IvfIndex", "InvertedIndex", "QueryStore", "GraphIndex", "NgramLm");
       own <- Seq(false, true))
    test(s"pinned schema: $layout reads the schema ${if (own) "its own" else "another handle's"} rebuild wrote") {
    def run[H](r: Rebuild[H]): Unit = {
      val dir = java.nio.file.Files.createTempDirectory("graft_schema_follow").toString
      val p = s"$dir/${r.layout}"
      val first = r.open(p)
      r.build(p, first, false)
      assert(r.read(first).collect().nonEmpty, s"${r.layout}: the narrow layout reads rows")
      Thread.sleep(5) // a commit in a later millisecond: the root's mtime moves
      r.build(p, if (own) first else r.open(p), true)
      val again = r.read(first)
      assert(r.changed(again), s"${r.layout}: the first handle kept the old schema: ${again.schema}")
      assert(again.collect().nonEmpty, s"${r.layout}: the first handle reads the rebuilt layout")
    }
    run(rebuilds.find(_.layout == layout).get)
  }

  // ---- a memo follows the layout: others' commits, own commits ----------

  /** One memo of a layout handle ([[sources.LayoutFs.Live.memo]]):
    * `build` writes the layout through the handle, `value` reads the
    * memoized value, `other` changes it through a second handle, `keep`
    * makes own commits that leave the memo's directories alone, and
    * `touch` makes an own commit that rewrites them. */
  private case class MemoKind[H](kind: String, open: String => H, build: H => Unit,
      value: H => Any, other: String => Unit, keep: (String, H) => Unit, touch: H => Unit)

  private def memoKinds: Seq[MemoKind[_]] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit}
    val rnd = new scala.util.Random(21)
    def embs(from: Int, to: Int) = (from to to).map(i => (i.toLong, Array.fill(8)(rnd.nextFloat() * 2f - 1f).toSeq))
      .toDF("id", "vector").withColumn("vector", col("vector").cast("array<float>"))
    val base = embs(1, 24)
    val cents = base.orderBy("id").limit(3).select("vector").collect().map(_.getSeq[Float](0).toArray).toSeq
    val books = operators.Pq.seedCodebooks(base, "id", "vector", m = 4, k = 4)
    val books2 = books.map(_.map(_.map(_ * 2f)))
    def docs(from: Int, to: Int) = (from to to).map(i => (i.toLong, s"sort merge w$i join")).toDF("doc_id", "text")
    def ids(c: String, xs: Long*) = xs.toDF(c)
    def clauses(from: Int, to: Int) = (from to to).map(i => (i.toLong, "sort", "must")).toDF("query_id", "term", "clause")
    val adj = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    def ivf(b: Int)(p: String) = new sources.IvfIndex(spark, p, assignBuckets = b)
    def inv(b: Int)(p: String) = new sources.InvertedIndex(spark, p, buckets = b)
    def qs(b: Int)(p: String) = new sources.QueryStore(spark, p, buckets = b)
    def ivfKeep(h: sources.IvfIndex): Unit = { h.append(embs(25, 28), "id", "vector"); h.delete(ids("id", 1L, 2L)) }
    def invKeep(h: sources.InvertedIndex): Unit = { h.append(docs(13, 14), "doc_id", col("text")); h.delete(ids("doc_id", 1L)) }
    Seq(
      MemoKind[sources.IvfIndex]("IvfIndex centroids", ivf(4), _.build(base, "id", "vector", cents),
        _.centroids().map(_.toSeq), ivf(4)(_).build(base, "id", "vector", cents.take(2)),
        (_, h) => ivfKeep(h), _.mergeLists(0, 1)),
      MemoKind[sources.IvfIndex]("IvfIndex codebooks", ivf(4),
        _.buildWithPq(base, "id", "vector", cents, books),
        _.codebooks().map(_.map(_.toSeq).toSeq).toSeq,
        ivf(4)(_).buildPq(base, "id", "vector", cents, books2),
        (_, h) => { h.appendPq(embs(25, 28), "id", "vector"); h.deletePq(ids("id", 1L, 2L)) },
        _.buildPq(base, "id", "vector", cents, books2)),
      MemoKind[sources.IvfIndex]("IvfIndex assign-bucket meta", ivf(4),
        _.build(base, "id", "vector", cents), _.readAssignBuckets("assign"),
        ivf(8)(_).build(base, "id", "vector", cents), (_, h) => ivfKeep(h),
        _.build(base, "id", "vector", cents)),
      MemoKind[sources.InvertedIndex]("InvertedIndex meta", inv(4), _.build(docs(1, 12), "doc_id", col("text")),
        _.bucketCount, inv(8)(_).build(docs(1, 12), "doc_id", col("text")), (_, h) => invKeep(h),
        _.build(docs(1, 12), "doc_id", col("text"))),
      MemoKind[sources.QueryStore]("QueryStore meta", qs(4), _.build(clauses(1, 6)),
        _.readBuckets(), qs(8)(_).build(clauses(1, 6)),
        (_, h) => { h.append(clauses(7, 8)); h.delete(ids("query_id", 1L)) }, _.build(clauses(1, 6))),
      MemoKind[sources.GraphIndex]("GraphIndex meta", new sources.GraphIndex(spark, _, buckets = 2),
        _.build(adj), _.storedMeta(),
        new sources.GraphIndex(spark, _, buckets = 2).build(adj.withColumn("cosine", lit(0.5))),
        (_, h) => h.delete(ids("id", 3L)), _.build(adj.withColumn("cosine", lit(0.5)))),
      MemoKind[sources.InvertedIndex]("InvertedIndex fielded head length", inv(4),
        h => { h.build(docs(1, 12), "doc_id", col("text")); h.buildFielded(2) },
        _.fieldedHeadLen, inv(4)(_).buildFielded(3),
        (p, h) => {
          invKeep(h)
          // a head length planted in place leaves the root's stamp as it
          // was: only a re-read, not a kept memo, returns it
          val fs = new org.apache.hadoop.fs.Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
          val out = fs.create(new org.apache.hadoop.fs.Path(s"$p/fielded/meta/head_len.txt"), true)
          try out.write("7".getBytes("UTF-8")) finally out.close()
        },
        _.buildFielded(3)),
      MemoKind[sources.InvertedIndex]("InvertedIndex live count", inv(4),
        _.build(docs(1, 12), "doc_id", col("text")), _.liveDocCount(),
        inv(4)(_).delete(ids("doc_id", 1L)), (_, h) => h.buildForward(), invKeep),
      MemoKind[sources.NgramLm]("NgramLm version", new sources.NgramLm(spark, _),
        h => { h.build(docs(1, 6), "doc_id", col("text")); h.append(docs(7, 8), "doc_id", col("text")) },
        _.currentVersion(), new sources.NgramLm(spark, _).append(docs(9, 10), "doc_id", col("text")),
        (_, h) => h.vacuum(), _.append(docs(9, 10), "doc_id", col("text"))))
  }

  for (kind <- Seq("IvfIndex centroids", "IvfIndex codebooks", "IvfIndex assign-bucket meta",
      "InvertedIndex meta", "QueryStore meta", "GraphIndex meta", "InvertedIndex fielded head length",
      "InvertedIndex live count", "NgramLm version");
       row <- Seq("another handle's commit", "an own commit that leaves its directories", "an own commit that rewrites them"))
    test(s"memo: $kind after $row") {
      def run[H](m: MemoKind[H]): Unit = {
        val p = s"${java.nio.file.Files.createTempDirectory("graft_memo_follow")}/layout"
        val h = m.open(p)
        m.build(h)
        val before = m.value(h)
        row match {
          case "another handle's commit" =>
            Thread.sleep(5) // a commit in a later millisecond: the root's mtime moves
            m.other(p)
            val after = m.value(h)
            assert(after != before, s"${m.kind}: the first handle kept $before")
            assert(after == m.value(m.open(p)), s"${m.kind}: the first handle reads $after")
          case "an own commit that leaves its directories" =>
            m.keep(p, h)
            var after: Any = null
            val names = jobNamesOf { after = m.value(h) }
            assert(names.isEmpty && after == before, s"${m.kind}: re-read as $after by $names")
          case _ =>
            m.touch(h)
            var after: Any = null
            val names = jobNamesOf { after = m.value(h) }
            assert(after == m.value(m.open(p)), s"${m.kind}: the handle kept $after")
            assert(after != before || names.nonEmpty, s"${m.kind}: the handle kept $after without a read")
        }
      }
      run(memoKinds.find(_.kind == kind).get)
    }

  test("filtered search with a meta filter and a meta sort plans no shuffle exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val frame = search(filtered)
    val shuffles = prepared(frame).collect { case s: ShuffleExchangeLike => s }
    assert(shuffles.isEmpty, s"stage 1 and stage 4 must not shuffle:\n${prepared(frame)}")
    frame.collect()
    val p = frame.queryExecution.executedPlan.toString
    assert(!"Exchange (hash|range|Single|Round)".r.findFirstIn(p).isDefined,
      s"the final plan shuffles:\n$p")
  }

  /** The store scans of `frame`'s prepared plan, subqueries included:
    * each one's read columns. */
  private def storeScans(frame: DataFrame): Seq[Seq[String]] =
    prepared(frame).collectWithSubqueries {
      case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.toString.endsWith("/emb")) =>
        s.requiredSchema.fieldNames.toSeq
    }

  private def searchPosts(b: query.QueryBuilder): DataFrame = {
    val (store, posts, meta) = searchFixture
    operators.SearchEngine.searchPosts(store.read(), posts, meta, searchQuery, 3, b)
  }

  test("stage 1 is a LeftSemi join condition inside the one store scan of a search") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val plan = prepared(search(filtered))
    val semis = plan.collect {
      case j: BroadcastHashJoinExec if j.joinType == LeftSemi && j.condition.isDefined => j
    }
    assert(semis.size == 1, s"one stage-1 semi join with a condition:\n$plan")
    val cond = semis.head.condition.get.references.map(_.name).toSeq
    assert(cond.exists(_.startsWith("__pf_")), s"posts predicate in the join condition: $cond")
    assert(cond.contains("exists"), s"meta existence flag in the join condition: $cond")
    val columns = Set("id", "post_id", "binary_code", "vector", "magnitude")
    for ((name, frame) <- Seq("filtered search" -> search(filtered),
        "search" -> search(query.QueryBuilder()), "searchPosts" -> searchPosts(query.QueryBuilder()))) {
      val reads = storeScans(frame)
      assert(reads.size == 1, s"$name: exactly one store scan, got $reads:\n${prepared(frame)}")
      assert(reads.head.toSet.subsetOf(columns), s"$name: the store scan reads ${reads.head}")
    }
  }

  test("stage-1 cap: no heap carries vectors past the hamming cut, and the capped search matches the model") {
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    val (store, posts, meta) = searchFixture
    val n = 2
    val cfg = model.SearchConfig(stage1Limit = Some(30L))
    assert(cfg.stage1Limit.get > cfg.stage2Factor * n, "the cap must exceed the hamming cut")
    for (b <- Seq(query.QueryBuilder(), filtered)) {
      val frame = operators.SearchEngine.search(store.read(), posts, meta, searchQuery, n, b, cfg)
      val heaps = prepared(frame).collectWithSubqueries {
        case t: TakeOrderedAndProjectExec if t.child.output.exists(_.name == "vector") => t.limit
      }
      assert(heaps.nonEmpty, s"the hamming heap carries the survivors' vectors:\n${prepared(frame)}")
      assert(heaps.forall(_ <= cfg.stage2Factor * n),
        s"a heap holding vectors has limit ${heaps.max} > ${cfg.stage2Factor * n}:\n${prepared(frame)}")
      val model = operators.SearchEngineSuite.Reference.search(store.read(), posts, meta, searchQuery, n, b, cfg)
      assert(frame.collect().toSeq == model.collect().toSeq, s"capped search diverged from the model for $b")
    }
  }

  test("job counts: filtered search <= 5, unfiltered <= 1, searchPosts <= 1, a warm store.read() 0") {
    val (store, _, _) = searchFixture
    search(filtered).collect(); search(query.QueryBuilder()).collect() // warm
    searchPosts(query.QueryBuilder()).collect()
    assert(jobsOf(store.read()) == 0, "read() must not infer the schema again")
    val f = jobsOf(search(filtered).collect())
    assert(f <= 5, s"filtered search launched $f jobs")
    val u = jobsOf(search(query.QueryBuilder()).collect())
    assert(u <= 1, s"unfiltered search launched $u jobs")
    val p = jobsOf(searchPosts(query.QueryBuilder()).collect())
    assert(p <= 1, s"searchPosts launched $p jobs")
  }

  test("job counts: registering and planning SQL views over more partition dirs than the parallel-listing threshold start no job") {
    import spark.implicits._
    val threshold = spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt
    val parts = threshold + 8
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 2 * parts).map(i => i.toLong -> Array.fill(8)(rnd.nextFloat() * 2f - 1f))
    val dir = java.nio.file.Files.createTempDirectory("graft_wide_listing").toString
    new sources.IvfIndex(spark, s"$dir/ivf").build(vecs.toDF("vec_id", "embedding"),
      "vec_id", "embedding", vecs.take(parts).map(_._2))
    new sources.InvertedIndex(spark, s"$dir/inv", buckets = parts).build(
      (0 until 40).map(d => d.toLong -> (0 until 30).map(t => s"w${d * 30 + t}").mkString(" "))
        .toDF("doc_id", "text"), "doc_id", $"text")
    def dirs(p: String, col: String) =
      new java.io.File(p).listFiles().count(_.getName.startsWith(s"$col="))
    assert(dirs(s"$dir/ivf/lists", "ivf_list") > threshold &&
      dirs(s"$dir/inv/postings", "tbucket") > threshold, "fixture must exceed the threshold")
    val catalog = new sources.StoreCatalog(spark)
    assert(jobsOf(catalog.registerIvfIndex("wide_listing", s"$dir/ivf")) == 0)
    assert(jobsOf(catalog.registerInvertedIndex("wide_listing_inv", s"$dir/inv")) == 0)
    for (sql <- Seq("SELECT id FROM wide_listing_lists WHERE ivf_list IN (0, 1)",
        "SELECT doc_id, pos FROM wide_listing_inv_postings WHERE tbucket = 3",
        "SELECT term, df FROM wide_listing_inv_vocab WHERE term = 'w7'")) {
      val frame = spark.sql(sql)
      assert(jobsOf(frame.queryExecution.executedPlan) == 0, s"planning `$sql` started a job")
      assert(frame.count() > 0, s"`$sql` must read rows")
    }
  }

  // ---- compile once: no per-request constant reaches generated code ------

  /** Three distinct 8-d queries of one shape. */
  private val fresh = Seq.tabulate(3)(k =>
    Array.tabulate(8)(d => ((d * (k + 3) + k) % 7 - 3) * (0.37f + 0.11f * k)))

  /** A 32-vector IVF index over 4 lists, registered as SQL views too. */
  private lazy val ivfFixture = {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val vecs = (1L to 32L).map(i => i -> Array.fill(8)(rnd.nextFloat() * 2f - 1f))
    val dir = java.nio.file.Files.createTempDirectory("graft_compile_audit").toString
    val idx = new sources.IvfIndex(spark, s"$dir/ivf")
    idx.build(vecs.toDF("vec_id", "embedding"), "vec_id", "embedding", vecs.take(4).map(_._2))
    new sources.StoreCatalog(spark).registerIvfIndex("compile_audit", s"$dir/ivf")
    functions.GraftFunctions.register(spark)
    idx
  }

  private def floatArray(q: Array[Float]): String =
    q.map(v => s"CAST('$v' AS FLOAT)").mkString("array(", ", ", ")")

  /** The 2 lists whose centroids best match `q`, picked driver-side. */
  private def sqlIvfProbes(q: Array[Float]): Seq[Int] =
    ivfFixture.centroids().zipWithIndex
      .map { case (c, i) => (i, c.zip(q).map { case (x, y) => x.toDouble * y }.sum) }
      .sortBy { case (i, d) => (-d, i) }.take(2).map(_._1)

  /** The benchmark's SQL IVF probe: score the probed lists with
    * `vec_cosine` over the registered views. */
  private def sqlIvf(q: Array[Float]): DataFrame =
    spark.sql(s"""SELECT id, round(vec_cosine(vector, ${floatArray(q)}), 6) AS cosine
                 |FROM compile_audit_lists WHERE ivf_list IN (${sqlIvfProbes(q).mkString(", ")})
                 |ORDER BY vec_cosine(vector, ${floatArray(q)}) DESC, id ASC LIMIT 5""".stripMargin)

  test("SQL IVF probe over registerIvfIndex views: vectorized parquet scan, probe lists pruned as PartitionFilters") {
    import org.apache.spark.sql.execution.{ColumnarToRowExec, FilterExec}
    import org.apache.spark.sql.execution.datasources.FilePartition
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
    val frame = sqlIvf(fresh.head)
    frame.collect()
    val plan = frame.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(plan.collect { case c: ColumnarToRowExec => c }.nonEmpty,
      s"the lists scan must decode vectorized:\n$plan")
    assert(plan.collect { case f: FilterExec => f }.isEmpty,
      s"ivf_list must not survive as a Filter above the scan:\n$plan")
    val scans = plan.collect { case b: BatchScanExec => b.scan }
      .collect { case s: ParquetScan => s }
    assert(scans.size == 1, s"one parquet scan of the lists:\n$plan")
    val scan = scans.head
    assert(scan.partitionFilters.nonEmpty &&
      scan.partitionFilters.forall(_.references.map(_.name).toSet == Set("ivf_list")),
      s"the probe must be the scan's PartitionFilters: ${scan.partitionFilters}")
    assert(scan.dataFilters.isEmpty, s"no data filter expected: ${scan.dataFilters}")
    val listsDir = scan.fileIndex.rootPaths.head.toUri.getPath
    val probedFiles = sqlIvfProbes(fresh.head).flatMap(l =>
      Option(new java.io.File(s"$listsDir/ivf_list=$l").listFiles()).toSeq.flatten)
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .map(_.getName).toSet
    val planned = scan.planInputPartitions()
      .flatMap(_.asInstanceOf[FilePartition].files.map(_.toPath.getName)).toSet
    assert(planned.nonEmpty && planned == probedFiles,
      s"the scan must open exactly the probed lists' files: $planned vs $probedFiles")
  }

  private def compiles(body: => Any): Long = {
    import org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val before = METRIC_COMPILATION_TIME.getCount
    body
    METRIC_COMPILATION_TIME.getCount - before
  }

  /** Each serve plan compiles once: two queries run the same generated
    * source, and once one has run, a query never seen before compiles
    * nothing (Janino's class cache is keyed by the source text, so a
    * literal inlined into it would compile every request afresh). */
  for ((name, plan) <- Seq[(String, Array[Float] => DataFrame)](
      "search" -> (q => search(query.QueryBuilder(), q)),
      "filtered and sorted search" -> (q => search(filtered, q)),
      "searchPosts" -> { q =>
        val (store, posts, meta) = searchFixture
        operators.SearchEngine.searchPosts(store.read(), posts, meta, q, 3)
      },
      "IvfIndex.search" -> (q => ivfFixture.search(q, k = 5, nprobe = 2)),
      "searchSqlText" -> { q =>
        searchFixture._1.read().createOrReplaceTempView("compile_audit_embeddings")
        functions.GraftFunctions.register(spark)
        spark.sql(operators.SearchEngine.searchSqlText(q, 5, "compile_audit_embeddings"))
      },
      "vec_cosine over registerIvfIndex views" -> sqlIvf)) {
    test(s"compile once: $name runs one generated source for every query vector") {
      def source(q: Array[Float]): Seq[String] = {
        val frame = plan(q)
        frame.collect()
        frame.queryExecution.debug.codegenToSeq().map(_._2)
      }
      val Seq(q1, q2, q3) = fresh
      val first = source(q1)
      assert(first.nonEmpty, s"$name: no whole-stage code to compare")
      val second = source(q2)
      val diff = first.flatMap(_.linesIterator).zipAll(second.flatMap(_.linesIterator), "", "")
        .find { case (a, b) => a != b }
      assert(diff.isEmpty, s"$name: a new query vector changed the generated source: $diff")
      val n = compiles(plan(q3).collect())
      assert(n == 0, s"$name: a fresh query vector compiled $n classes after a warm call")
    }
  }
}
