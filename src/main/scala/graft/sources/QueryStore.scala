package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.TextAnalysis

/** Persisted stored-query table for percolation at scale (X212 — the
  * productionized state side of X208/X210): a production percolator
  * holds 10⁵–10⁶ saved searches, and matching an arriving batch against
  * a literal in-memory clause frame (q252's shape) stops being free the
  * moment the query table outgrows a broadcast. This layout stores the
  * (query_id, term, clause) rows in `tbucket=N` directory partitions
  * keyed by the engine-wide 28-bit md5 TERM bucket — the
  * [[InvertedIndex]] postings discipline applied to the QUERY side — so
  * a batch's membership join prunes at the file listing to the buckets
  * of the batch's own vocabulary: I/O ∝ |batch-vocab|/B of the stored
  * clause mass, never the full query table (plan-audited in the suite).
  *
  * The clause gate needs each query's FULL must/should totals, which a
  * pruned slice cannot provide (a query whose must term is absent from
  * the batch must still fail the all-musts check) — so build/append
  * also maintain a `totals/` sidecar of (query_id, n_must, n_should)
  * rows, read whole (queries-count-sized, the aggregate's join side;
  * AQE broadcasts it while small). must_not needs no totals: a stored
  * must_not term absent from the arriving doc contributes zero matched
  * rows, which is exactly the pass condition.
  *
  * Lifecycle mirrors the index family: [[build]] validates and writes
  * the partitioned layout + totals + a one-row meta (bucket count);
  * [[append]] adds new queries' rows directory-additively (new
  * query_ids must be disjoint from stored ones — the [[InvertedIndex
  * .append]] contract); [[delete]] tombstones query ids (alert
  * unsubscribe: O(batch), clause files untouched, effective on the
  * next read via the size-gated anti-join — the
  * [[InvertedIndex.delete]] vacuum-cadence contract); [[vacuum]]
  * rewrites clauses and totals without the tombstoned queries. Every
  * mutation commits as one [[LayoutFs.Batch]], so a crash never leaves
  * clause rows without their totals row. Reads are LIVE per
  * action: [[percolate]] re-lists the directories every call, so a
  * just-appended alert matches the very next batch —
  * [[graft.streaming.PercolateStream.startStored]] leans on exactly
  * that. */
final class QueryStore(spark: SparkSession, path: String, buckets: Int = 16) {
  require(buckets >= 1, s"buckets must be >= 1, got $buckets")

  private[graft] def storePath: String = path

  private def clausesPath = s"$path/clauses"
  private def totalsPath = s"$path/totals"
  private def metaPath = s"$path/meta"
  private def tombstonesPath = s"$path/tombstones"

  /** The store's one handle on its root ([[LayoutFs.Live]]): recovery
    * (a committed batch rolled forward and a crashed swap of a top-level
    * directory resolved, from one glob of the root), reads of the live
    * layout directories with pinned schemas, memos and commits. */
  private[graft] val layout = new LayoutFs.Live(spark, path)
  import layout.fs

  private def bucketCol(term: Column, b: Int): Column =
    pmod(conv(substring(md5(term), 1, 7), 16, 10).cast(LongType), lit(b.toLong))
      .cast(IntegerType)

  private[graft] def bucketOf(term: String, b: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(term.getBytes("UTF-8"))
    val hex = d.take(4).map("%02x".format(_)).mkString.take(7)
    (java.lang.Long.parseLong(hex, 16) % b).toInt
  }

  // stored bucket count: immutable between build()s — memoized per
  // instance (the InvertedIndex rule)
  private val bucketsMemo = layout.memo[Int]("meta")
  private[graft] def readBuckets(): Int =
    bucketsMemo(layout(metaPath).head().getInt(0))

  private def totalsOf(c: DataFrame): DataFrame =
    c.groupBy(col("query_id")).agg(
      count(when(col("clause") === "must", 1)).as("n_must"),
      count(when(col("clause") === "should", 1)).as("n_should"))

  /** Validate (the [[TextAnalysis.validateClauseBatch]] contract) and
    * write the partitioned clause layout, totals sidecar and meta. */
  def build(clauses: DataFrame): Unit = layout.call {
    val c = TextAnalysis.validateClauseBatch(clauses, 1)
      .localCheckpoint(true) // two consumers: layout write + totals
    import spark.implicits._
    layout.commit { b =>
      b.stageRows("meta", None, Seq(buckets).toDF("n_buckets").coalesce(1))
      b.stageRows("clauses", Some("tbucket"), c.withColumn("tbucket", bucketCol(col("term"), buckets)))
      b.stageRows("totals", None, totalsOf(c))
      b.drop("tombstones")
    }
    graft.util.Pins.release(c)
  }

  /** Add new stored queries — directory-additive, work ∝ the batch.
    * New query_ids must be disjoint from stored ones (including
    * tombstoned ids until [[vacuum]] clears them) — the
    * [[InvertedIndex.append]] disjointness contract, which is also what
    * keeps the totals sidecar additive. Clause and totals rows stage in
    * one batch and move into the live directories together. */
  def append(clauses: DataFrame): Unit = layout.call {
    val b = readBuckets()
    val c = TextAnalysis.validateClauseBatch(clauses, 1)
      .localCheckpoint(true)
    layout.commit { batch =>
      batch.add("clauses")(dir => c.withColumn("tbucket", bucketCol(col("term"), b))
        .write.partitionBy("tbucket").parquet(dir.toString))
      batch.add("totals")(dir => totalsOf(c).write.parquet(dir.toString))
      graft.util.Pins.release(c)
    }
  }

  /** Unsubscribe: tombstone the query ids in one committed batch —
    * O(batch) I/O, clause files untouched, effective on the very next
    * read. Same vacuum-cadence
    * contract as [[InvertedIndex.delete]]: run [[vacuum]] often enough
    * that the mask stays inside the `graft.mask.broadcast.maxBytes`
    * gate. */
  def delete(queryIds: DataFrame): Unit = layout.call {
    require(queryIds.columns.toSeq == Seq("query_id"),
      s"ids must be a single-column (query_id) frame, got ${queryIds.columns.toSeq}")
    layout.commit(_.add("tombstones")(dir =>
      queryIds.select(col("query_id").cast(StringType)).write.parquet(dir.toString)))
  }

  private def tombstoneIds(): DataFrame = {
    val ts = layout(tombstonesPath)
      .select(col("query_id")).distinct()
    val bytes = fs.listStatus(new Path(tombstonesPath))
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
      .map(_.getLen).sum
    if (bytes <= InvertedIndex.maskBroadcastBytes(spark)) broadcast(ts) else ts
  }

  private def liveOnly(df: DataFrame): DataFrame =
    if (fs.exists(new Path(tombstonesPath)))
      df.join(tombstoneIds(), Seq("query_id"), "left_anti")
    else df

  /** Physically drop tombstoned queries: one anti-join rewrite each of
    * clauses (partition layout preserved) and totals, committed with the
    * tombstones' drop as one batch. */
  def vacuum(): Unit = vacuumImpl(compactToo = false)

  /** [[vacuum]], optionally folding [[compact]]'s one-file-per-bucket
    * normalization into the SAME rewrite — [[maintain]] uses this when
    * both policies trigger, where vacuum-then-compact would rewrite the
    * whole layout twice back-to-back for the identical end state. */
  private def vacuumImpl(compactToo: Boolean): Unit = layout.call {
    if (!fs.exists(new Path(tombstonesPath))) return
    val ts = tombstoneIds()
    layout.commit { batch =>
      val clauses = layout(clausesPath).join(ts, Seq("query_id"), "left_anti")
      batch.stageRows("clauses", Some("tbucket"),
        if (compactToo) clauses.repartition(col("tbucket")) else clauses)
      val totals = layout(totalsPath).join(ts, Seq("query_id"), "left_anti")
      batch.stageRows("totals", None, if (compactToo) totals.coalesce(1) else totals)
      batch.drop("tombstones")
    }
  }

  /** Per-bucket file-accretion health: (tbucket, n_files, n_bytes) from
    * the listing alone — every [[append]] adds part-files to each
    * touched bucket, and the serve's pruned read pays per-file open
    * cost. The [[InvertedIndex.fileStats]] surface on the query side. */
  def fileStats(): DataFrame = layout.call {
    import spark.implicits._
    layout.partFiles(clausesPath, "tbucket").toDF("tbucket", "n_files", "n_bytes")
  }

  /** Rewrite the clause layout to ONE file per bucket (and totals to
    * one file), committed as one batch — the amortized answer to
    * append's per-batch part-file accretion. Answers are bit-identical
    * (pure layout). */
  def compact(): Unit = layout.call {
    layout.commit { batch =>
      batch.stageRows("clauses", Some("tbucket"),
        layout(clausesPath).repartition(col("tbucket")))
      batch.stageRows("totals", None, layout(totalsPath).coalesce(1))
    }
  }

  /** Maintenance policy as code — the [[InvertedIndex.maintain]] X186
    * contract on the stored-query side: read the cheap health surfaces
    * (file listings + two row counts, never clause data), decide, ACT,
    * and return one decision row per policy with the observed metric,
    * threshold and whether the action ran.
    *
    *  - `vacuum` when distinct tombstoned ids / stored queries >
    *    `maxTombstoneFrac` (the enforcement arm of the vacuum-cadence
    *    contract on [[delete]]);
    *  - `compact` when any clause bucket holds more than
    *    `maxFilesPerBucket` part-files. Evaluated on the PRE-action
    *    listing; a triggered vacuum's rewrite usually satisfies compact
    *    too — compact still runs when its threshold was crossed
    *    (idempotent) so the report never claims an action it skipped.
    *
    * Each row also carries `metric_after` — the same surface re-read
    * once the actions ran — so the record is self-verifying: an action
    * that failed to clear its own trigger shows in the report instead
    * of in the next incident. */
  def maintain(maxFilesPerBucket: Int = 8,
      maxTombstoneFrac: Double = 0.2): DataFrame = layout.call {
    require(maxFilesPerBucket >= 1,
      s"maxFilesPerBucket must be >= 1, got $maxFilesPerBucket")
    require(maxTombstoneFrac > 0.0,
      s"maxTombstoneFrac must be > 0, got $maxTombstoneFrac")
    import spark.implicits._
    def tombFracNow(): Double =
      if (!fs.exists(new Path(tombstonesPath))) 0.0
      else {
        val nQueries = layout(totalsPath).count()
        if (nQueries == 0L) 1.0
        else layout(tombstonesPath)
          .select(col("query_id")).distinct().count().toDouble / nQueries
      }
    def maxFilesNow(): Int =
      fileStats().agg(max(col("n_files"))).head() match {
        case r if r.isNullAt(0) => 0
        case r => r.getInt(0)
      }
    val tombFrac = tombFracNow()
    val maxFiles = maxFilesNow()
    val doVacuum = tombFrac > maxTombstoneFrac
    val doCompact = maxFiles > maxFilesPerBucket
    // both triggered: ONE fused rewrite reaches the identical end state
    // (anti-joined rows, one file per bucket) at half the layout I/O
    if (doVacuum && doCompact) vacuumImpl(compactToo = true)
    else { if (doVacuum) vacuum(); if (doCompact) compact() }
    // post-action recheck: the decision record shows the metric that
    // TRIGGERED each action AND the state it left behind, so the report
    // is self-verifying (an action that didn't clear its own trigger
    // would show metric_after still over threshold); recomputed only
    // when something acted — two cheap listing/count reads
    val (tombAfter, filesAfter) =
      if (doVacuum || doCompact) (tombFracNow(), maxFilesNow())
      else (tombFrac, maxFiles)
    Seq(
      ("vacuum", tombFrac, maxTombstoneFrac, doVacuum, tombAfter),
      ("compact", maxFiles.toDouble, maxFilesPerBucket.toDouble, doCompact,
        filesAfter.toDouble))
      .toDF("action", "metric", "threshold", "acted", "metric_after")
  }

  /** Consistent on-disk snapshot of the whole store — clauses, totals,
    * meta and pending tombstones ([[LayoutFs.Live.snapshot]]), after
    * recovery; tombstone masks and maintenance debt travel with the
    * copy, so it percolates exactly like the source at snapshot time.
    * Open it with `new QueryStore(spark, target)`. */
  def snapshot(targetPath: String): Unit = layout.snapshot(targetPath)

  /** The full LIVE clause frame (tombstones masked), `tbucket` kept as
    * the pruning surface — the SQL-registration view behind
    * [[StoreCatalog.registerQueryStore]]. */
  def liveClauses: DataFrame = layout.call {
    liveOnly(layout(clausesPath))
  }

  /** The LIVE (query_id, n_must, n_should) totals frame. */
  def liveTotals: DataFrame = layout.call {
    liveOnly(layout(totalsPath))
  }

  /** The stored clause rows of exactly the given terms' buckets — the
    * pruned slice [[percolate]] joins; exposed for plan audits. */
  def clausesForTerms(terms: Seq[String]): DataFrame = layout.call {
    require(terms.nonEmpty, "need at least one term")
    val b = readBuckets()
    clausesForBuckets(terms.map(bucketOf(_, b)).distinct.sorted)
  }

  /** The stored clause rows of exactly the given BUCKETS — the pruned
    * slice [[percolate]] joins; exposed for plan audits. */
  def clausesForBuckets(bucketIds: Seq[Int]): DataFrame = layout.call {
    require(bucketIds.nonEmpty, "need at least one bucket")
    liveOnly(layout(clausesPath)
      .filter(col("tbucket").isin(bucketIds: _*))
      .select(col("query_id"), col("term"), col("clause")))
  }

  /** Percolate an arriving batch against the STORED query table: the
    * membership join against only the batch vocabulary's clause
    * BUCKETS (pruned at the file listing), the clause gate against the
    * totals sidecar — semantics identical to
    * [[TextAnalysis.percolate]] over [[liveClauses]] (suite-pinned),
    * cost ∝ batch × matched clause terms with stored-query I/O ∝
    * |batch-vocab buckets|/B.
    *
    * The pruning is UNCONDITIONAL: the probe is a distributed
    * `distinct tbucket` aggregate over the batch vocabulary, so the
    * driver collects at most B ints for ANY batch size (map-side
    * partial distinct keeps the shuffle to ≤ B rows per task) — no
    * term-list collect, no batch-size fallback, and a 100×-bigger
    * batch still prunes to exactly the buckets its vocabulary touches.
    * The probe runs its own terms-only tokenize pass and the
    * membership side recomputes lazily in the join, so nothing pins
    * across the call (two batch-sized passes, the documented trade —
    * the alternative pins a batch-sized frame the CALLER would have to
    * release). Output: (query_id, doc_id, n_should). */
  def percolate(docs: DataFrame, idCol: String, text: Column,
      minShould: Int = 1): DataFrame = layout.call {
    require(minShould >= 1, s"minShould must be >= 1, got $minShould")
    val (deduped, batchBuckets) = stageBatch(docs, idCol, text)
    if (batchBuckets.isEmpty) return emptyFired(deduped, idCol)
    // membership needs (doc, term) SETS only — explode without
    // positions, so the distinct shuffles two columns, not three
    val membership = deduped
      .select(col(idCol).as("doc_id"),
        explode(TextAnalysis.tokens(text)).as("term"))
      .filter(col("term") =!= "").dropDuplicates("doc_id", "term")
    val pairs = clausesForBuckets(batchBuckets).join(membership, Seq("term"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(when(col("clause") === "must", 1)).as("__n_must"),
        count(when(col("clause") === "should", 1)).as("n_should"),
        count(when(col("clause") === "must_not", 1)).as("__n_not"))
    gateFired(pairs, minShould)
      .select(col("query_id"), col("doc_id"), col("n_should"))
  }

  /** Shared serve front half of [[percolate]]/[[percolateScored]]: the
    * doc-keyed deduped batch plus the batch-vocabulary bucket probe.
    *
    * ONE explicit doc-keyed exchange up front carries the whole serve:
    * HashPartitioning(id) satisfies the dedup, the (doc, term) distinct
    * or tf aggregate AND the (query, doc) clause-count aggregate
    * (grouping keys are supersets of the partitioning), so after the
    * broadcast clause join the pair aggregate runs exchange-free. The
    * explicit numPartitions matters: left to ENSURE_REQUIREMENTS, AQE
    * sizes the exchange by the tiny pre-explode bytes and coalesces
    * toward ONE partition, funneling the explode × clause-match blowup
    * (100×+ the input bytes) through a single task — measured
    * 6.7 s → 0.6 s at sf0.1 for the 30k-doc batch gate.
    *
    * The probe is a distributed `distinct tbucket` aggregate over the
    * batch vocabulary, so the driver collects at most B ints for ANY
    * batch size. */
  private def stageBatch(docs: DataFrame, idCol: String,
      text: Column): (DataFrame, Seq[Int]) = {
    val b = readBuckets()
    val deduped = docs
      .repartition(spark.sessionState.conf.numShufflePartitions, col(idCol))
      .dropDuplicates(idCol)
    val batchBuckets = deduped
      .select(explode(TextAnalysis.tokens(text)).as("term"))
      .filter(col("term") =!= "")
      .select(bucketCol(col("term"), b).as("tbucket")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    (deduped, batchBuckets)
  }

  /** The typed empty fired-pairs frame for a no-vocabulary batch.
    * doc_id keeps the BATCH id column's physical type (the layout family
    * supports non-long ids) so the degenerate empty frame unions cleanly
    * with the populated one. */
  private def emptyFired(deduped: DataFrame, idCol: String): DataFrame =
    liveTotals.limit(0)
      .select(col("query_id"),
        lit(null).cast(deduped.schema(idCol).dataType).as("doc_id"),
        lit(0L).as("n_should"))

  /** The shared clause gate: join the per-pair match counts against the
    * totals sidecar and keep pairs with all musts, no must_nots and the
    * should threshold met. Columns `__n_must`/`n_should`/`__n_not` are
    * the caller's per-(query_id, doc_id) counts; gate columns stay on
    * the output for the caller's final projection. */
  private def gateFired(pairs: DataFrame, minShould: Int): DataFrame = {
    val totals = liveTotals.select(col("query_id"),
      col("n_must").as("__m_tot"), col("n_should").as("__s_tot"))
    pairs.join(totals, Seq("query_id"))
      .filter(col("__n_must") === col("__m_tot") && col("__n_not") === 0 &&
        (col("__s_tot") === 0 ||
          col("n_should") >= least(lit(minShould.toLong), col("__s_tot"))))
  }

  /** SCORED percolation (X246 — ES percolate returns `_score`, not just
    * membership): exactly [[percolate]]'s fired (query, doc) pairs,
    * each with a BM25 relevance score of the stored query against the
    * arriving document — "which alerts fire, and how strongly".
    *
    * Statistics are BATCH-RELATIVE (documented contract): N = batch
    * docs with ≥ 1 token, df(t) = batch docs containing t, dl/avgdl
    * from the batch — the engine-shaped analog of ES's percolator,
    * which scores against the in-memory index of the percolated
    * document(s) rather than any stored corpus (the store holds
    * QUERIES; there is no document corpus to take stats from). Per
    * matched must/should clause term: the [[graft.operators
    * .TextAnalysis.bm25Scored]] round-6 partial (same expression
    * shapes); must_not rows gate but never score. The per-(query, doc)
    * sum accumulates in DECIMAL(38,6) — order-free, so any cluster
    * layout reproduces the same bits (a fired pair has no fixed term
    * order to chain doubles through).
    *
    * Plan shape — the [[percolate]] one-doc-keyed-exchange discipline,
    * DELIVERED by pinning: the (doc_id, term, __tf) staging frame is
    * `localCheckpoint(true)`-pinned (the [[graft.util.Pins]] contract —
    * the caller releases after materializing the result), so its four
    * consumers (clause join, per-doc dl, batch stats, per-term df) read
    * the pin instead of each re-running the batch tokenize→explode→agg.
    * The serve side then takes ONE explicit doc-keyed exchange of the
    * pinned (post-aggregate, three-column) frame — the AQE-materialized
    * pin reports UnknownPartitioning, so the layout is re-declared
    * rather than inherited — and everything downstream rides it:
    * `__dl` is a window over that layout (sort, no exchange), stats
    * ride a broadcast one-row frame, dfs is one vocabulary-sized term
    * aggregate over the pin broadcast into the enrichment join, and the
    * final (query, doc) aggregate runs exchange-free on the streamed
    * side (suite-audited: zero Generate, one doc_id exchange). The
    * clause join and gate are [[percolate]]'s. Output (query_id,
    * doc_id, n_should, score), score round-6 DESC-ranking-ready. */
  def percolateScored(docs: DataFrame, idCol: String, text: Column,
      minShould: Int = 1, k1: Double = 1.2, b: Double = 0.75): DataFrame = layout.call {
    require(minShould >= 1, s"minShould must be >= 1, got $minShould")
    val (deduped, batchBuckets) = stageBatch(docs, idCol, text)
    if (batchBuckets.isEmpty)
      return emptyFired(deduped, idCol).withColumn("score", lit(0.0))
    // counts-carrying membership: (doc_id, term, tf) — [[percolate]]'s
    // frame plus the per-pair frequency the partials need. Pinned: the
    // second (and last) batch-sized pass of the serve.
    val tf = deduped
      .select(col(idCol).as("doc_id"),
        explode(TextAnalysis.tokens(text)).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("__tf"))
      .localCheckpoint(true)
    // a throw between the pin and the return (clause read, store
    // drift) must not strand the pin until the global sweep — release
    // on failure, keep the caller-release contract on success
    try {
    // the serve's ONE doc-keyed exchange, re-declared over the pin (the
    // checkpointed RDD reports UnknownPartitioning); the dl window, the
    // enrichment joins' streamed side and the (query, doc) aggregate
    // all run on this layout without further shuffles
    val tfDl = tf
      .repartition(spark.sessionState.conf.numShufflePartitions, col("doc_id"))
      .withColumn("__dl",
        sum(col("__tf")).over(Window.partitionBy(col("doc_id"))).cast(LongType))
    // batch stats off the raw pin, NOT the declared exchange: the per-doc
    // collapse map-side-combines to ≤ one (doc_id, partial_dl) row per
    // doc per task before its shuffle, so this branch's exchange carries
    // ~n_docs aggregated rows — cheaper than re-flowing the full
    // postings layout for a one-row broadcast stat
    val stats = tf.groupBy(col("doc_id"))
      .agg(sum(col("__tf")).cast(LongType).as("__dl"))
      .agg(count(lit(1)).as("__n_docs"),
        (sum(col("__dl")).cast(DoubleType) / count(lit(1))).as("__avgdl"))
    // batch-vocabulary-sized (term, df) — small by the same contract
    // that lets the bucket probe collect, so it broadcasts
    val dfs = tf.groupBy(col("term"))
      .agg(count(lit(1)).cast(LongType).as("__df"))
    val enriched = clausesForBuckets(batchBuckets)
      .join(tfDl, Seq("term"))
      .join(broadcast(dfs), Seq("term"))
      .crossJoin(broadcast(stats))
    val tfD = col("__tf").cast(DoubleType)
    val dfD = col("__df").cast(DoubleType)
    val idf = log(lit(1.0) +
      (col("__n_docs").cast(DoubleType) - dfD + lit(0.5)) / (dfD + lit(0.5)))
    val norm = tfD + lit(k1) * (lit(1.0) - lit(b) +
      lit(b) * col("__dl").cast(DoubleType) / col("__avgdl"))
    val dec = DataTypes.createDecimalType(38, 6)
    val partial = when(col("clause") =!= "must_not",
      round(idf * tfD * lit(k1 + 1.0) / norm, 6)).otherwise(lit(0.0))
    val pairs = enriched
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(when(col("clause") === "must", 1)).as("__n_must"),
        count(when(col("clause") === "should", 1)).as("n_should"),
        count(when(col("clause") === "must_not", 1)).as("__n_not"),
        sum(partial.cast(dec)).as("__score"))
    gateFired(pairs, minShould)
      .select(col("query_id"), col("doc_id"), col("n_should"),
        round(col("__score").cast(DoubleType), 6).as("score"))
    } catch {
      case t: Throwable => graft.util.Pins.release(tf); throw t
    }
  }
}
