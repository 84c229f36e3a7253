package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.TextAnalysis

/** Persisted positional inverted index (X172): the
  * [[TextAnalysis.positionalPostings]] table materialized in
  * `tbucket=N` parquet directory partitions keyed by a term-hash bucket
  * — the storage design [[TextAnalysis.positionalPostings]]'s scaladoc
  * promises ("write this table bucketed by term and phrase/proximity
  * queries never rescan the corpus"), realized with the engine's
  * directory-partition discipline (the [[IvfIndex]] `ivf_list=N` /
  * sidecar `abucket=N` family) so a term lookup becomes
  * PartitionFilters-pruned I/O: only the queried terms' bucket
  * directories are listed, opened, or decoded — ≈ |terms|/B of the
  * postings, from the file listing alone (plan-audited in the suite).
  *
  * [[termPostings]] output is schema-identical to the in-memory
  * postings slice, so [[TextAnalysis.phraseMatch]] /
  * [[TextAnalysis.proximityMatch]] compose unchanged — the index is
  * pure I/O, bit-identical results (q213 reuses q117's oracle
  * verbatim). [[append]] is directory-additive like [[IvfIndex.append]]
  * — new documents' postings land as new files in their term buckets,
  * batch-proportional, build(A)+append(B) ≡ build(A ∪ B) (suite-pinned;
  * postings are per-doc-independent rows).
  *
  * Deletion (X175) is the tombstone model every production inverted
  * index uses (Lucene's live-docs design): a doc's terms scatter across
  * every bucket, so IN-PLACE removal would rewrite work ∝ the index per
  * batch — instead [[delete]] appends the ids to a tiny `tombstones/`
  * table (O(batch) I/O, postings untouched) and every read path
  * ([[termPostings]], [[bm25]]) anti-joins the broadcast tombstone set
  * from both the postings slice and the doclens table, so phrase hits
  * AND corpus stats (N, avgdl, df) see exactly the surviving corpus —
  * bit-identical to an index rebuilt without the deleted docs
  * (suite-pinned; q217 gates it against q214's oracle + a WHERE).
  * [[vacuum]] amortizes the physical removal: one anti-join rewrite of
  * postings, doclens and the census, committed with the tombstone drop
  * as one batch.
  *
  * The serving surface on top of the layout: [[termPostings]] (pruned
  * slices feeding phrase/proximity), [[bm25]] (+ msm), [[qlTopK]]
  * (Dirichlet query likelihood), [[booleanSearch]], [[bm25Page]] /
  * [[bm25Ranked]] (keyset paging), [[bm25Batch]] (bulk multi-query),
  * [[vocab]] (census-served term stats feeding fuzzy/prefix
  * suggestions) — plus [[StoreCatalog.registerInvertedIndex]] for the
  * `spark.sql` route over the same live frames.
  *
  * Term statistics are served from an ADDITIVE census sidecar
  * (`census/base`, (term, df) rows): [[build]] writes the full census,
  * [[append]] adds the batch's census rows (df is additive because
  * appended doc_ids are disjoint from stored ones — the append
  * contract), [[vacuum]] subtracts the removed docs' contributions, and
  * [[vocab]] serves from the sidecar without touching the postings
  * layout at all when no tombstones are pending (plan-audited).
  *
  * Every mutation commits through ONE [[LayoutFs.Batch]] on the index
  * root: [[build]], the derived builders, [[vacuum]] and [[compact]]
  * stage replacement directories, [[append]], [[mergeFrom]] and
  * [[delete]] stage their files and list moves into the live
  * directories, and the derived-delta apply lists moves out of the
  * pending delta dirs. A crash leaves the old layout or the new one
  * whole, so no read ever sees postings and census out of step; readers
  * roll a committed batch forward and never delete an uncommitted one. */
final class InvertedIndex(spark: SparkSession, path: String,
    buckets: Int = 16) {
  require(buckets >= 1, s"buckets must be >= 1, got $buckets")

  /** The layout root — what [[StoreCatalog.registerInvertedIndex]] and
    * suites need to re-address this index (the [[IvfIndex]] accessor
    * convention). */
  private[graft] def indexPath: String = path

  private def postingsPath = s"$path/postings"
  private def metaPath = s"$path/meta"

  /** The index's one handle on its root ([[LayoutFs.Live]]): reads of
    * the live layout directories, with pinned schemas, memos and
    * commits. Its recovery — a committed [[LayoutFs.Batch]] rolled
    * forward and a crashed two-rename swap of a top-level directory
    * resolved, from one glob of the root, which also fails on a census
    * delta an earlier version's crashed vacuum left — runs at every entry
    * point that touches the layout (the [[IvfIndex]] recover rule). An
    * uncommitted batch is left alone: the next mutation discards it. */
  private[graft] val layout = new LayoutFs.Live(spark, path)
  import layout.fs

  /** The engine-wide 28-bit md5 bucket (the minhash/sidecar idiom) —
    * Column form for writes, Scala form for query-time pruning; the
    * suite pins their agreement. */
  private def bucketCol(term: Column, b: Int): Column =
    pmod(conv(substring(md5(term), 1, 7), 16, 10).cast(LongType), lit(b.toLong))
      .cast(IntegerType)

  private[graft] def bucketOf(term: String, b: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(term.getBytes("UTF-8"))
    val hex = d.take(4).map("%02x".format(_)).mkString.take(7)
    (java.lang.Long.parseLong(hex, 16) % b).toInt
  }

  /** Census partition key (X226): the md5 bucket of the term's FIRST
    * character — `tprefix=N` directory partitions over the census
    * base, so a prefix/wildcard expansion lists only its first
    * character's partition instead of the whole vocabulary (the
    * [[vocabForPrefixes]] serve). First character = first CODE POINT
    * on both sides: Spark's `substring(term, 1, 1)` is code-point
    * aware, and the Scala form matches it through
    * `Character.toChars(codePointAt(0))` — so an astral-plane first
    * character buckets identically at write and read. */
  private def tprefixCol(term: Column): Column =
    bucketCol(substring(term, 1, 1), InvertedIndex.CensusPrefixBuckets)

  private[graft] def tprefixOf(term: String): Int = {
    require(term.nonEmpty, "empty term has no prefix bucket")
    bucketOf(new String(Character.toChars(term.codePointAt(0))),
      InvertedIndex.CensusPrefixBuckets)
  }

  /** Write a (term, df) census frame as the `tprefix=N`-partitioned
    * base layout — the single write shape every census producer
    * ([[build]], [[append]] staging, [[stageCensus]], [[prunedCopy]])
    * shares. `onePerPrefix` pre-shuffles one task per partition value
    * (the [[compact]] merge target: one file per tprefix dir). */
  private[graft] def writeCensusBase(census: DataFrame, dir: String,
      onePerPrefix: Boolean = false): Unit = {
    val rows = census.select(col("term"), col("df"))
      .withColumn("tprefix", tprefixCol(col("term")))
    val sized = if (onePerPrefix) rows.repartition(col("tprefix")) else rows
    sized.write.partitionBy("tprefix").parquet(dir)
  }

  // stored bucket count: immutable between build()s — memoized per
  // instance (the r22 profile showed this one-row read scheduled 6x per
  // SERP query)
  private val bucketsMemo = layout.memo[Int]("meta")
  private def readBuckets(): Int =
    bucketsMemo(layout(metaPath).head().getInt(0))

  private def doclensPath = s"$path/doclens"
  private def tombstonesPath = s"$path/tombstones"
  private def censusPath = s"$path/census"
  private def censusBasePath = s"$censusPath/base"

  /** Tokenize and write the partitioned postings layout plus the
    * (doc_id, dl) doclens table — the corpus-stat side BM25 needs
    * without rescanning text — plus the (term, df) census sidecar
    * [[vocab]] serves from. One generate pass, shuffle-free partitioned
    * write + one doc-keyed and one term-keyed aggregate; B is recorded
    * in a one-row meta parquet (the [[IvfIndex]] sidecar-meta rule, so
    * later sessions and appends agree on the hash). */
  def build(docs: DataFrame, idCol: String, text: Column): Unit = layout.call {
    import spark.implicits._
    layout.commit { batch =>
      batch.stageRows("meta", None, Seq(buckets).toDF("n_buckets").coalesce(1))
      val postings = TextAnalysis.positionalPostings(docs, idCol, text)
        .localCheckpoint(true) // three consumers: layout write, doclens, census
      batch.stageRows("postings", Some("tbucket"), postings
        .withColumn("tbucket", bucketCol(col("term"), buckets))
        // tbucket repartition: the same structural file-locality guarantee
        // append/mergeFrom carry — a later buildBlockMax derives per-file
        // tf bounds from THIS layout, and a (term, doc) split across two
        // files of one bucket would make those bounds unsound
        .repartition(col("tbucket")))
      batch.stageRows("doclens", None, postings.groupBy(col("doc_id")).agg(count(lit(1)).as("dl")))
      stageCensus(batch, postings.groupBy(col("term"))
        .agg(count_distinct(col("doc_id")).as("df")), onePerPrefix = false)
      graft.util.Pins.release(postings)
      // a fresh build is a fresh live set: old block-max bounds would
      // under-bound the NEW corpus (the unsafe direction), a stale
      // fielded sidecar would serve the OLD corpus's per-field tfs, and
      // pending sidecar deltas describe the OLD corpus's append batches —
      // rebuild the derived artifacts on the cadence
      Seq("tombstones", "blockmax", "blockmax_files", "fielded", "derived_meta/fielded",
        "derived_meta/blockmax", "forward_delta", "fielded_delta").foreach(batch.drop)
    }
  }

  /** One-time layout migration: a census base written before the
    * `tprefix=` partitioning (X226) holds its data files FLAT at the
    * base root. Appending `tprefix=` subdirectories onto a flat base
    * would commit a mixed flat+partitioned directory that Spark's
    * partition discovery rejects — detect the old layout at the
    * mutation entry points and rewrite it once through the partitioned
    * writer (same rows, one batch), after which every append is
    * directory-additive again. No-op on current layouts (one
    * listStatus). */
  private def migrateFlatCensusBase(): Unit = {
    val baseP = new Path(censusBasePath)
    if (fs.exists(baseP) && fs.listStatus(baseP).exists(s =>
        s.isFile && !s.getPath.getName.startsWith("_"))) {
      layout.commit(stageCensus(_, censusSummed(), onePerPrefix = true))
    }
  }

  /** Append new documents' postings, doclens and census rows —
    * directory-additive, work ∝ the batch. Uses the STORED bucket
    * count, not this instance's. New doc_ids must be disjoint from the
    * stored ones — including TOMBSTONED ids (a re-sent live doc would
    * double its postings and doclens row; a re-sent tombstoned id would
    * stay masked until [[vacuum]] clears the tombstone — run vacuum
    * before re-inserting a deleted id). Disjointness is also what makes
    * the census additive: a batch's per-term distinct-doc counts sum
    * exactly with the stored ones.
    *
    * The batch is ATOMIC under crashes: postings, census, the derived
    * sidecars' deltas and doclens stage in one [[LayoutFs.Batch]] whose
    * moves publish them in that order (doclens LAST, so the replay-guard
    * surface [[appendedIds]] recognizes a doc only once its postings are
    * all live). Every read rolls a committed batch forward, so every
    * read — including a streaming replay guard
    * ([[graft.streaming.IndexIngest]]) — sees the batch fully applied
    * or not at all, never a torn half. */
  def append(docs: DataFrame, idCol: String, text: Column): Unit = layout.call {
    migrateFlatCensusBase()
    val b = readBuckets()
    layout.commit { batch =>
      val postings = TextAnalysis.positionalPostings(docs, idCol, text)
        .localCheckpoint(true)
      // the batch's (doc, dl) and (doc, term, tf) aggregates feed up to
      // FOUR staged artifacts (doclens, term-grain block-max, file-grain
      // block-max join, forward delta) — aggregated ONCE each and lazily
      // checkpointed (the first consumer's job materializes them; no
      // extra action) WHEN more than one consumer exists; a single
      // consumer keeps the fused pipeline (checkpoint storage would be
      // pure overhead)
      val hasBm = fs.exists(new Path(blockmaxPath))
      val hasBmFiles = fs.exists(new Path(blockmaxFilesPath))
      val hasFwd = fs.exists(new Path(forwardPath))
      def shared(df: DataFrame, consumers: Int): DataFrame =
        if (consumers >= 2) df.localCheckpoint(false) else df
      val dl = shared(
        postings.groupBy(col("doc_id")).agg(count(lit(1)).as("dl")),
        1 + (if (hasBm) 1 else 0) + (if (hasBmFiles) 1 else 0))
      val tfDocTerm = shared(
        postings.groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("tf")),
        (if (hasBm) 1 else 0) + (if (hasFwd) 1 else 0))
      batch.add("postings")(dir => postings
        .withColumn("tbucket", bucketCol(col("term"), b))
        // repartition by tbucket (the mergeFrom/compact discipline) so
        // each staged bucket is ONE task's file: without it, a (term,
        // doc)'s rows staying file-local depends on explode locality in
        // the upstream plan plus maxRecordsPerFile=0 — incidental, and a
        // split would break buildBlockMax's file-grain invariant that
        // per-file tf IS the doc's exact tf (X228's skip could then drop
        // a true top-k doc). Structural beats incidental.
        .repartition(col("tbucket"))
        .write.partitionBy("tbucket").parquet(dir.toString))
      if (fs.exists(new Path(censusBasePath)))
        batch.add("census/base")(dir => writeCensusBase(postings.groupBy(col("term"))
          .agg(count_distinct(col("doc_id")).as("df")), dir.toString))
      // block-max maintenance: the batch's bound rows join the sidecar
      // in the same commit as the docs they bound; max/min-merge at read
      // time absorbs the accreted files
      if (hasBm) batch.add("blockmax")(dir => termBounds(tfDocTerm, dl).write.parquet(dir.toString))
      stageFileBlockMax(batch, dl)
      stageDerivedDeltas(batch, postings, tfDocTerm, b)
      batch.add("doclens")(dir => dl.write.parquet(dir.toString))
      graft.util.Pins.release(postings)
      graft.util.Pins.release(dl)
      graft.util.Pins.release(tfDocTerm)
    }
  }

  /** Merge ANOTHER index's corpus into this one (X238 — the Lucene
    * segment-merge shape at layout grain): adopt the other layout's
    * postings, doclens and census rows directory-additively through
    * the SAME one-batch commit as [[append]], so the merge is atomic
    * under crashes and batch- (i.e. source-) proportional — never a
    * rewrite of this index. The source is read, not mutated (the
    * non-destructive merge); its rows land as fresh files.
    *
    * Contracts: equal bucket counts (tbucket values carry over
    * verbatim — a re-bucketing merge is a rebuild, not a merge); doc
    * ids DISJOINT from this index's (the append contract — also what
    * keeps doclens and census additive); the SOURCE must have no
    * pending tombstones (run its vacuum first — adopting rows its
    * reads were masking would resurrect its deletes). THIS index's
    * tombstones stay in force unchanged. Block-max term-grain bounds
    * for the adopted rows commit in the same batch (the [[append]]
    * rule); derived sidecars (forward/fielded/file-grain block-max)
    * go stale exactly as after an append — [[maintainDerived]]'s
    * policy covers the rebuild. */
  def mergeFrom(other: InvertedIndex): Unit = layout.call {
    other.layout.recover()
    migrateFlatCensusBase()
    val b = readBuckets()
    require(other.readBuckets() == b,
      s"bucket-count mismatch: this=$b source=${other.readBuckets()} — " +
        "a re-bucketing merge is a rebuild")
    require(!other.layout.fs.exists(new Path(other.tombstonesPath)),
      s"source ${other.indexPath} has pending tombstones — vacuum it first")
    layout.commit { batch =>
      val srcPostings = other.layout(other.postingsPath)
      // repartition by tbucket (the compact() discipline) so each staged
      // bucket is ONE task's file: a plain read→write can split a
      // multi-row-group source file across tasks at row-group boundaries,
      // scattering one (term, doc)'s position rows over two files of the
      // same bucket dir — which would break buildBlockMax's file-grain
      // invariant that per-file tf IS the doc's exact tf (X228's file
      // skip would then undercount ceilings and could drop a top-k doc)
      batch.add("postings")(dir => srcPostings
        .repartition(col("tbucket"))
        .write.partitionBy("tbucket").parquet(dir.toString))
      val srcDoclens = other.layout(other.doclensPath)
      if (fs.exists(new Path(censusBasePath)))
        batch.add("census/base")(dir => writeCensusBase(other.vocab(), dir.toString))
      // shared (doc, term, tf) aggregate — the block-max bounds and the
      // forward delta both consume it (the append-path discipline);
      // checkpointed only when both actually exist on this target
      val srcTfBase = srcPostings.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val srcTf =
        if (fs.exists(new Path(blockmaxPath)) &&
            fs.exists(new Path(forwardPath))) srcTfBase.localCheckpoint(false)
        else srcTfBase
      if (fs.exists(new Path(blockmaxPath)))
        batch.add("blockmax")(dir => termBounds(srcTf, srcDoclens).write.parquet(dir.toString))
      stageFileBlockMax(batch, srcDoclens.select(col("doc_id"), col("dl")))
      stageDerivedDeltas(batch, srcPostings.select(col("doc_id"), col("term"),
        col("pos")), srcTf, b)
      batch.add("doclens")(dir => srcDoclens.write.parquet(dir.toString))
      graft.util.Pins.release(srcTf)
    }
  }

  /** Every doc_id ever appended — the doclens key set, tombstoned docs
    * INCLUDED until [[vacuum]] physically removes them. This is the
    * replay-guard membership surface for streaming ingest
    * ([[graft.streaming.IndexIngest]]): a replayed at-least-once batch of
    * a doc that was later tombstoned must still be recognized as
    * already-ingested (re-appending it would resurrect the doc), so the
    * guard is deliberately NOT [[liveOnly]]-filtered. */
  def appendedIds: DataFrame = layout.call {
    layout(doclensPath).select(col("doc_id"))
  }

  /** Logical deletion (X175): add the ids to the tombstone table, one
    * committed batch.
    *
    * '''Vacuum cadence — the tombstone-bound contract.''' Every read
    * masks tombstones with an anti-join whose cost (and, on the fast
    * path, driver/executor memory) is ∝ the UNVACUUMED tombstone mass,
    * so the operational contract is: run [[vacuum]] (or [[maintain]],
    * whose `maxTombstoneFrac` policy encodes exactly this bound) often
    * enough that the tombstone table stays within the
    * `graft.mask.broadcast.maxBytes` broadcast gate (default 32 MiB —
    * tens of millions of ids). Within the gate reads pay one broadcast
    * anti-join; past it [[tombstoneIds]] drops the hint and reads
    * degrade gracefully to a shuffled anti-join (correct, never an
    * OOM) until the next vacuum restores the fast path. The SQL views
    * ([[graft.sources.StoreCatalog.registerInvertedIndex]]) mask through
    * the same plan-level anti-join and share this contract. —
    * O(batch) I/O, no postings or doclens files touched. Deleting an id
    * that is not in the index is a harmless no-op (the anti-join finds
    * nothing to mask). Takes effect on the very next read; [[vacuum]]
    * later makes it physical. */
  def delete(ids: DataFrame): Unit = layout.call {
    require(ids.columns.toSeq == Seq("doc_id"),
      s"ids must be a single-column (doc_id) frame, got ${ids.columns.toSeq}")
    // cast to the stored doclens id type: two delete batches with
    // different integer widths must not leave conflicting parquet
    // schemas in the tombstone dir (the next read would mis-infer)
    val idType = layout(doclensPath).schema("doc_id").dataType
    layout.commit(_.add("tombstones")(dir =>
      ids.select(col("doc_id").cast(idType)).write.parquet(dir.toString)))
  }

  /** Total on-disk bytes of the tombstone table — the size-gate input
    * for [[tombstoneIds]], from the file listing alone (no job). */
  private def tombstoneBytes(): Long =
    fs.listStatus(new Path(tombstonesPath))
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
      .map(_.getLen).sum

  /** The distinct tombstoned-id frame, broadcast-hinted ONLY while the
    * table is small (on-disk bytes ≤ `graft.mask.broadcast.maxBytes`,
    * default 32 MiB — see [[InvertedIndex.maskBroadcastBytes]]). The
    * hint is the fast path the vacuum cadence is expected to maintain;
    * past the gate the hint is DROPPED and AQE/stats pick the join
    * strategy, so a takedown batch of 10⁷–10⁸ ids landed before the
    * next vacuum degrades to a shuffled anti-join instead of a driver
    * OOM — reads stay correct and bounded either way. */
  private def tombstoneIds(): DataFrame = {
    val ts = layout(tombstonesPath)
      .select(col("doc_id")).distinct()
    if (tombstoneBytes() <= InvertedIndex.maskBroadcastBytes(spark))
      broadcast(ts)
    else ts
  }

  /** Anti-join the tombstone set out of a doc_id-keyed frame — the
    * read-side half of the tombstone contract, size-gated through
    * [[tombstoneIds]]. No tombstone table ⇒ the frame passes through
    * untouched (zero plan change for an index that never deleted, so
    * q213/q214 stay bit-identical). Single-writer caveat: the existence
    * check happens at plan-build time but the read executes lazily, so
    * a query frame must not straddle a concurrent [[vacuum]] (which
    * deletes the tombstone dir) — the engine-wide
    * single-maintenance-writer assumption every layout here shares. */
  private def liveOnly(df: DataFrame): DataFrame = liveMask()(df)

  /** [[liveOnly]] as a mask, from one probe of the tombstones directory:
    * what a call that masks several frames applies to each of them. */
  private def liveMask(): DataFrame => DataFrame =
    if (fs.exists(new Path(tombstonesPath))) {
      val ts = tombstoneIds()
      _.join(ts, Seq("doc_id"), "left_anti")
    } else identity

  /** One LIVE doc count per layout state, not per serve call. The
    * serve surface counts the live doclens in several entry points
    * (hot-term elision, MLT idf, PRF idf, JLH background) and a single
    * SERP-class query composes several of them — r22 profiling showed
    * the same count job scheduled 2-4× per query. The count is memoized
    * on THIS instance ([[LayoutFs.Live.memo]]): any other handle's
    * commit moves its stamp, and this handle's own append, delete,
    * vacuum or compact touches the doclens or tombstones directory and
    * drops it. */
  private val liveCountMemo = layout.memo[Long]("doclens", "tombstones")
  private[graft] def liveDocCount(): Long =
    liveCountMemo(liveOnly(layout(doclensPath)).count())

  /** Physically remove tombstoned docs (X175): ONE anti-join rewrite
    * each of postings (partition layout preserved) and doclens, plus a
    * census base with the removed docs' df subtracted (counted from the
    * still-live postings), staged and committed with the drop of the
    * tombstones and of the pending sidecar deltas as ONE
    * [[LayoutFs.Batch]] — a crash at ANY point leaves the old layout or
    * the vacuumed one whole, so [[vocab]] stays exact across it. Run
    * when the tombstone set has grown enough that the broadcast +
    * read-side anti-join is worth amortizing away (the caller's policy,
    * like [[IvfIndex.compact]]). */
  def vacuum(): Unit = vacuumImpl(compactToo = false)

  /** [[vacuum]], optionally folding [[compact]]'s layout normalization
    * into the SAME rewrite — [[maintain]] uses this when both policies
    * trigger at once, where vacuum-then-compact would rewrite the whole
    * layout twice back-to-back for the identical end state. */
  private def vacuumImpl(compactToo: Boolean): Unit = layout.call {
    if (!fs.exists(new Path(tombstonesPath))) return
    val ts = tombstoneIds()
    layout.commit { batch =>
      val postings = layout(postingsPath)
      if (fs.exists(new Path(censusBasePath)))
        stageCensus(batch, minusDelta(censusSummed(), postings
          .join(ts, Seq("doc_id"), "left_semi")
          .groupBy(col("term"))
          .agg(count_distinct(col("doc_id")).as("df"))), onePerPrefix = compactToo)
      val survPostings = postings.join(ts, Seq("doc_id"), "left_anti")
      batch.stageRows("postings", Some("tbucket"),
        if (compactToo) survPostings.repartition(col("tbucket")) else survPostings)
      val survDoclens = layout(doclensPath).join(ts, Seq("doc_id"), "left_anti")
      batch.stageRows("doclens", None,
        if (compactToo) survDoclens.repartition(1) else survDoclens)
      // pending sidecar deltas may describe docs this vacuum just removed
      // — applying them later would resurrect ghosts; drop them and let
      // maintainDerived fall back to the full rebuild
      Seq("forward_delta", "fielded_delta", "tombstones").foreach(batch.drop)
    }
  }

  /** `base` minus a (term, df) delta, zero-df terms dropped — the
    * read-side adjustment shared by the full census and the
    * prefix-pruned slice. */
  private def minusDelta(base: DataFrame, delta: DataFrame): DataFrame =
    base
      .join(delta.withColumnRenamed("df", "__tdf"), Seq("term"), "left")
      .withColumn("df", col("df") - coalesce(col("__tdf"), lit(0L)))
      .filter(col("df") > 0)
      .select(col("term"), col("df"))

  /** The stored census base, one (term, df) row per term. */
  private def censusSummed(): DataFrame =
    layout(censusBasePath)
      .groupBy(col("term")).agg(sum(col("df")).cast(LongType).as("df"))

  /** Stage the WHOLE census directory as `{base: newBase}` in `batch`. */
  private def stageCensus(batch: LayoutFs.Batch, newBase: DataFrame,
      onePerPrefix: Boolean): Unit =
    batch.stage("census")(dir =>
      writeCensusBase(newBase, new Path(dir, "base").toString, onePerPrefix))

  /** LIVE (term, df) vocabulary census — the serving input for
    * [[graft.operators.TextAnalysis.fuzzySuggestVocab]] ("did you
    * mean") and any term-statistics consumer: document frequency per
    * term, tombstones excluded. Served from the additive census sidecar
    * — a vocabulary-sized read that never opens the postings layout
    * when no tombstones are pending (plan-audited). With tombstones
    * pending, the masked docs' contribution subtracts out through one
    * column-pruned (term, doc_id) pass over the postings restricted to
    * the tombstone set — the transient cost [[vacuum]] amortizes away,
    * exactly like [[liveOnly]]'s anti-join. A [[vacuum]] rewrites
    * postings, census and tombstones in one commit, so the two sides
    * never disagree. A pre-census layout falls back to the full
    * live-postings census (documented fallback, the [[IvfIndex]]
    * pre-sidecar rule). */
  def vocab(): DataFrame = vocabSlice(None)

  /** The LIVE (term, df) census rows of terms sharing the given
    * prefixes' FIRST characters (X226): the [[vocab]] semantics
    * restricted to, and READ FROM, only those characters' `tprefix=`
    * census partitions — a prefix/wildcard expansion's vocabulary
    * lookup prunes at the file listing instead of scanning the whole
    * census (plan-audited in the suite). The slice is a SUPERSET of
    * the exact prefix matches (every term whose first character
    * hash-collides into the same bucket), so downstream `startswith`/
    * regex filters apply exactly as over [[vocab]] — identical
    * results, ≤ |prefixes|/B of the census read. The live-tombstone
    * adjustment masks with the same bucket restriction, so the
    * exactness contract of [[vocab]] carries over unchanged. */
  def vocabForPrefixes(prefixes: Seq[String]): DataFrame = {
    require(prefixes.nonEmpty, "no prefixes")
    require(prefixes.forall(_.nonEmpty), s"empty prefix in $prefixes")
    vocabSlice(Some(prefixes.map(tprefixOf).distinct.sorted))
  }

  private def vocabSlice(buckets: Option[Seq[Int]]): DataFrame = layout.call {
    // base rows prune by the PARTITION column (file-listing prune);
    // delta/fallback rows — tiny by the vacuum-cadence contract —
    // recompute the bucket from the term on the fly
    def maskBase(df: DataFrame) =
      buckets.fold(df)(bs => df.filter(col("tprefix").isin(bs: _*)))
    def maskTerm(df: DataFrame) =
      buckets.fold(df)(bs => df.filter(tprefixCol(col("term")).isin(bs: _*)))
    if (!fs.exists(new Path(censusBasePath)))
      return maskTerm(liveOnly(layout(postingsPath))
        .groupBy(col("term"))
        .agg(count_distinct(col("doc_id")).as("df")))
    val delta =
      if (fs.exists(new Path(tombstonesPath)))
        Some(maskTerm(layout(postingsPath)
          .join(tombstoneIds(), Seq("doc_id"), "left_semi")
          .groupBy(col("term"))
          .agg(count_distinct(col("doc_id")).as("df"))))
      else None
    val base = maskBase(layout(censusBasePath))
      .groupBy(col("term")).agg(sum(col("df")).cast(LongType).as("df"))
    delta.fold(base)(d => minusDelta(base, d))
  }

  /** Per-bucket LIVE-postings census (X181) — the index-health surface
    * an operator watches: posting/term/doc counts per term bucket
    * expose hash skew (a hot bucket slows every query whose term lands
    * there) and, against [[fileStats]], how much dead weight tombstones
    * are masking (vacuum policy). Tombstoned docs are excluded — this
    * reports what queries actually see. One full-layout scan by design:
    * it is the monitoring pass, run at monitoring cadence. */
  def stats(): DataFrame = layout.call {
    liveOnly(layout(postingsPath))
      .groupBy(col("tbucket"))
      .agg(count(lit(1)).as("n_postings"),
        count_distinct(col("term")).as("n_terms"),
        count_distinct(col("doc_id")).as("n_docs"))
  }

  /** Part-file counts per bucket directory — the [[compact]]-policy
    * input, from the file listing alone (no data read). */
  def fileStats(): DataFrame = layout.call {
    import spark.implicits._
    layout.partFiles(postingsPath, "tbucket").map(r => (r._1, r._2)).toDF("tbucket", "n_files")
  }

  /** Small-file compaction (X178): every [[append]] (and every
    * [[graft.streaming.IndexIngest]] micro-batch) adds one part-file to
    * ESSENTIALLY EVERY `tbucket=N` directory — a batch's terms scatter
    * across the whole hash range, unlike an IVF append's few touched
    * lists — so a long-running ingest accretes files uniformly until
    * open/seek overhead dominates the pruned read. The honest unit of
    * compaction is therefore the WHOLE layout: one job rewrites postings
    * to a single file per term bucket (rows hash to one shuffle
    * partition per bucket value) and doclens to `doclensFiles` files
    * (1 for tests; size it ∝ corpus at scale), committed with the
    * merge-summed census as one batch, like [[vacuum]]. Content is
    * bit-identical (suite-pinned); running [[vacuum]] then compact is
    * the classic merge step a segment-based index performs. WHEN to
    * compact is the caller's read of file counts (the [[IvfIndex]]
    * monitoring convention). */
  def compact(doclensFiles: Int = 1): Unit = layout.call {
    require(doclensFiles >= 1, s"doclensFiles must be >= 1, got $doclensFiles")
    layout.commit { batch =>
      batch.stageRows("postings", Some("tbucket"),
        layout(postingsPath).repartition(col("tbucket")))
      batch.stageRows("doclens", None,
        layout(doclensPath).repartition(doclensFiles))
      // census base accretes files per append too — merge-sum it to one
      // file per tprefix partition (vocabulary-sized job)
      if (fs.exists(new Path(censusBasePath)))
        stageCensus(batch, censusSummed(), onePerPrefix = true)
    }
  }

  /** Maintenance policy as code (X186): the ops loop [[fileStats]] /
    * [[stats]] / the tombstone mass previously left to prose, wired to
    * the actions. Reads the cheap health surfaces (file listings + two
    * row counts — never the postings data), decides, ACTS, and returns
    * the decision record: one row per policy with the observed metric,
    * its threshold, and whether the action ran.
    *
    *  - `vacuum` when distinct tombstoned ids / doclens rows >
    *    `maxTombstoneFrac` — the broadcast + read-side anti-join tax
    *    has outgrown its amortization (this policy is the enforcement
    *    arm of the vacuum-cadence contract documented on [[delete]]:
    *    run on a cadence that keeps the mask inside the
    *    `graft.mask.broadcast.maxBytes` gate);
    *  - `compact` when any term bucket holds more than
    *    `maxFilesPerBucket` part-files — open/seek overhead starts to
    *    dominate the pruned read. Evaluated on the PRE-action listing;
    *    vacuum's own rewrite already leaves few files, so a triggered
    *    vacuum typically satisfies the compact policy too — compact
    *    still runs when its threshold was crossed (idempotent, one
    *    extra pass) so the report never claims an action it skipped.
    *
    * Thresholds are arguments, not constants — the caller's ops policy;
    * run on the monitoring cadence. */
  def maintain(maxFilesPerBucket: Int = 8,
      maxTombstoneFrac: Double = 0.2): DataFrame = layout.call {
    require(maxFilesPerBucket >= 1,
      s"maxFilesPerBucket must be >= 1, got $maxFilesPerBucket")
    require(maxTombstoneFrac > 0.0,
      s"maxTombstoneFrac must be > 0, got $maxTombstoneFrac")
    import spark.implicits._
    val tombFrac =
      if (!fs.exists(new Path(tombstonesPath))) 0.0
      else {
        val nDocs = layout(doclensPath).count()
        if (nDocs == 0L) 1.0
        else layout(tombstonesPath)
          .select(col("doc_id")).distinct().count().toDouble / nDocs
      }
    val maxFiles = fileStats().agg(max(col("n_files"))).head() match {
      case r if r.isNullAt(0) => 0
      case r => r.getInt(0)
    }
    val doVacuum = tombFrac > maxTombstoneFrac
    val doCompact = maxFiles > maxFilesPerBucket
    // both triggered: ONE fused rewrite reaches the identical end state
    // (anti-joined rows, one file per bucket) at half the layout I/O
    if (doVacuum && doCompact) vacuumImpl(compactToo = true)
    else { if (doVacuum) vacuum(); if (doCompact) compact() }
    Seq(
      ("vacuum", tombFrac, maxTombstoneFrac, doVacuum),
      ("compact", maxFiles.toDouble, maxFilesPerBucket.toDouble, doCompact))
      .toDF("action", "metric", "threshold", "acted")
  }

  private def derivedMetaPath(name: String) = s"$path/derived_meta/$name"
  private def forwardDeltaPath = s"$path/forward_delta"
  private def fieldedDeltaPath = s"$path/fielded_delta"
  private def fieldedDeltaDoclensPath = s"$fieldedDeltaPath/doclens"

  /** Stage the batch's DERIVED-SIDECAR DELTAS in the append's `batch`
    * (so they commit atomically with it, or not at all): for an
    * existing forward sidecar, the batch's (doc_id, term, tf) rows in
    * their `dbucket` partitions; for an existing fielded sidecar, the
    * batch's per-field tf rows (the STORED headLen) plus per-doc field
    * lengths. Per-(doc, term) rows are disjoint from the stored
    * artifacts' by the append doc-disjointness contract, so the deltas
    * are pure directory additions — [[maintainDerived]] APPLIES the
    * accreted pending deltas with O(delta-files) file moves instead
    * of a full rebuild whenever they provably cover the drift
    * (doc-count equality, no pending tombstones). Work here is ∝ the
    * batch, replacing full-corpus rebuild scans later: the forward delta
    * is `tfDocTerm`, the batch's (doc_id, term, tf) aggregate, computed
    * once by the caller and shared with the block-max staging; the
    * fielded delta adds two map-side aggregates of the already-pinned
    * batch postings. */
  private def stageDerivedDeltas(batch: LayoutFs.Batch, postings: DataFrame,
      tfDocTerm: DataFrame, b: Int): Unit = {
    if (fs.exists(new Path(forwardPath)))
      batch.add("forward_delta")(dir => tfDocTerm
        .withColumn("dbucket", bucketCol(col("doc_id").cast(StringType), b))
        .write.partitionBy("dbucket").parquet(dir.toString))
    if (fs.exists(new Path(fieldedPostingsPath))) {
      val hl = fieldedHeadLen
      batch.add("fielded_delta/postings")(dir => postings
        .groupBy(col("doc_id"), col("term"))
        .agg(count(when(col("pos") < hl, 1)).as("tf_head"),
          count(when(col("pos") >= hl, 1)).as("tf_body"))
        .withColumn("tbucket", bucketCol(col("term"), b))
        .write.partitionBy("tbucket").parquet(dir.toString))
      batch.add("fielded_delta/doclens")(dir => postings.groupBy(col("doc_id"))
        .agg(count(when(col("pos") < hl, 1)).cast(LongType).as("dlh"),
          count(when(col("pos") >= hl, 1)).cast(LongType).as("dlb"))
        .write.parquet(dir.toString))
    }
  }

  /** Add EXACT (term, file)-grain block-max rows for the batch's staged
    * postings files to the live sidecar, in the same batch. The staged
    * files keep their names through the batch's moves, a (term, doc) is
    * file-local in them (one input row → one task → one file per
    * bucket), and the docs are NEW (append disjointness) so `dl` comes
    * wholly from the batch — the rows are the exact [[buildBlockMax]]
    * file-grain bounds for those files. After the commit the sidecar
    * covers the new files exactly, so [[maintainDerived]] can ADOPT it
    * (meta refresh, no rebuild). */
  private def stageFileBlockMax(batch: LayoutFs.Batch,
      batchDoclens: DataFrame): Unit = {
    if (!fs.exists(new Path(blockmaxFilesPath))) return
    val staged = spark.read.parquet(batch.staged("postings").toString)
      .withColumn("__fname", substring_index(input_file_name(), "/", -1))
    batch.add("blockmax_files")(dir => fileBounds(staged, batchDoclens)
      .write.partitionBy("tbucket").parquet(dir.toString))
  }

  /** Term-grain block-max rows: each term's max tf and min dl over the
    * docs of `tf` ((doc_id, term, tf)) joined to `dl` ((doc_id, dl)). */
  private def termBounds(tf: DataFrame, dl: DataFrame): DataFrame =
    tf.join(dl, Seq("doc_id"))
      .groupBy(col("term"))
      .agg(max(col("tf")).cast(LongType).as("max_tf"),
        min(col("dl")).cast(LongType).as("min_dl"))

  /** (term, file)-grain block-max rows of a postings scan carrying
    * `__fname`: each (term, file)'s max tf and min dl. */
  private def fileBounds(post: DataFrame, dl: DataFrame): DataFrame =
    post.groupBy(col("term"), col("tbucket"), col("__fname"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
      .join(dl, Seq("doc_id"))
      .groupBy(col("term"), col("tbucket"), col("__fname"))
      .agg(max(col("tf")).cast(LongType).as("max_tf"),
        min(col("dl")).cast(LongType).as("min_dl"))
      .select(col("term"), col("tbucket"), col("__fname").as("fname"),
        col("max_tf"), col("min_dl"))

  /** Stage `derived_meta/<name>` in `batch`: the live doc count a
    * derived artifact was built against (`knownLive`, else counted) —
    * the staleness input [[maintainDerived]] reads. Stored as a plain
    * one-line text file written driver-side: the r22 profile showed the
    * previous one-row parquet costing a Spark WRITE job per artifact
    * and a listing+head job pair per read — 12 jobs per q277-class
    * maintenance walk for 8 bytes of bookkeeping. Readers fall back to
    * the old parquet form for layouts written before this round
    * (snapshots travel byte-faithfully). */
  private def stageDerivedMeta(batch: LayoutFs.Batch, name: String,
      knownLive: Option[Long]): Unit = {
    val n = knownLive.getOrElse(liveDocCount())
    fs.mkdirs(new Path(derivedMetaPath(name)).getParent)
    batch.stage(s"derived_meta/$name") { dir =>
      val out = fs.create(new Path(dir, "built_n_docs.txt"), true)
      try out.write(n.toString.getBytes("UTF-8")) finally out.close()
    }
  }

  /** The live doc count `name` was last built against — text fast path,
    * parquet fallback for pre-r22 layouts, 0 for a missing meta. */
  private def readDerivedMeta(name: String): Long = {
    val dir = new Path(derivedMetaPath(name))
    val txt = new Path(dir, "built_n_docs.txt")
    if (fs.exists(txt)) {
      val in = fs.open(txt)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
      finally in.close()
    } else if (fs.exists(dir))
      layout(derivedMetaPath(name)).head().getLong(0)
    else 0L
  }

  /** Derived-artifact maintenance policy (X235 — the X186 pattern for
    * the rebuild-on-cadence sidecars): the forward (X206), fielded
    * (X225) and block-max (X211/X228) artifacts are DERIVED — an
    * append leaves forward/fielded missing the new docs until rebuilt,
    * and leaves the block-max bounds loose (sound, but the cut
    * weakens). This turns their prose cadence into code: each build
    * records the live doc count it ran against; the policy compares it
    * to the CURRENT live count (two cheap doclens counts + file
    * listings — no artifact data read) and rebuilds any artifact whose
    * relative drift exceeds `maxStaleFrac`. A pre-meta artifact (built
    * before this policy existed) counts as fully stale — one rebuild
    * adopts it. Absent artifacts are reported, never created (building
    * them is the caller's choice — fielded needs a headLen). Returns
    * the decision record: (artifact, built_n_docs, live_n_docs,
    * stale_frac, threshold, acted); built_n_docs = −1 marks an absent
    * artifact. [[maintainDerivedVerbose]] adds the HOW — which
    * mechanism each acted row actually ran. */
  def maintainDerived(maxStaleFrac: Double = 0.1): DataFrame =
    maintainDerivedVerbose(maxStaleFrac).drop("mode")

  /** [[maintainDerived]] plus a `mode` column naming the mechanism the
    * policy chose per artifact — the attribution a cost audit needs
    * (an acted row that delta-applied costs O(delta-files) metadata
    * moves; one that rebuilt re-scanned the corpus; the record should
    * say which): `delta_apply` (pending append deltas provably covered
    * the drift — forward/fielded), `adopt` (block-max file-grain rows
    * already exact for every live file — meta refresh only),
    * `rebuild` (full recompute), `none` (below threshold, no action),
    * `absent` (artifact missing, never created). */
  def maintainDerivedVerbose(maxStaleFrac: Double = 0.1): DataFrame = layout.call {
    require(maxStaleFrac > 0.0,
      s"maxStaleFrac must be > 0, got $maxStaleFrac")
    import spark.implicits._
    // one doclens count and one meta head PER PASS: the doclens table
    // never changes inside a maintain pass (appends committed it
    // earlier; delta-applies move ARTIFACT files), so the live count
    // and each artifact's built count thread through to deltaCovers /
    // stageDerivedMeta instead of being re-counted per decision — the
    // r21 profile showed 5 identical count jobs per q277 pass
    val live = liveDocCount()
    def builtCount(name: String): Long = readDerivedMeta(name)
    // two-phase pass (r22): each artifact first tries its CHEAP
    // mechanism (delta-apply / adopt — the decide step also drops a
    // stale delta, preserving the drop-before-rebuild crash rule);
    // artifacts that need a full rebuild are collected and rebuilt
    // TOGETHER from one shared live-postings scan + one shared
    // (doc, term) tf aggregate ([[rebuildDerived]]) — the previous
    // per-artifact rebuilds re-scanned the postings layout three
    // times for the identical rows. Decisions depend only on counts,
    // deltas and tombstones (all per-artifact), so deferring the
    // rebuilds changes no decision and no output row.
    val plan = Seq(
      ("forward", forwardPath,
        (built: Long) => maintainForwardCheap(built, live)),
      ("fielded", fieldedPostingsPath,
        (built: Long) => maintainFieldedCheap(built, live)),
      ("blockmax", blockmaxPath,
        (_: Long) => maintainBlockMaxCheap(live)))
    // fielded's headLen must be captured before any rebuild deletes the
    // sidecar tree (memoized — no job)
    val headLen0 =
      if (fs.exists(new Path(s"$fieldedPath/meta"))) Some(fieldedHeadLen)
      else None
    var rebuilds = List.empty[String]
    val rows = plan.map { case (name, p, cheap) =>
      if (!fs.exists(new Path(p)))
        (name, -1L, live, 0.0, maxStaleFrac, false, "absent")
      else {
        val built = builtCount(name)
        val frac =
          if (built == 0L) 1.0
          else math.abs(live - built).toDouble / built
        val act = frac > maxStaleFrac
        val mode =
          if (!act) "none"
          else cheap(built) match {
            case Some(m) => m
            case None => rebuilds = rebuilds :+ name; "rebuild"
          }
        (name, built, live,
          BigDecimal(frac).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .toDouble,
          maxStaleFrac, act, mode)
      }
    }
    if (rebuilds.nonEmpty)
      rebuildDerived(rebuilds, headLen0.getOrElse(1))
    rows.toDF("artifact", "built_n_docs", "live_n_docs",
      "stale_frac", "threshold", "acted", "mode")
  }

  /** True iff the accreted pending delta PROVABLY covers the artifact's
    * drift: no tombstones in force (a rebuild would also drop masked
    * docs the delta knows nothing about), a meta record to anchor the
    * count arithmetic, and built_n_docs + |delta docs| == |docs now| —
    * batches are doc-disjoint, so the counts add exactly, and any
    * removal in between (vacuum deletes the delta anyway) breaks the
    * equality toward the safe side. The check reads O(delta) rows. */
  private def deltaCovers(name: String, deltaDocs: => Long,
      built: Long, liveDocs: Long): Boolean = {
    // with no tombstones in force (checked first), liveOnly(doclens)
    // IS the raw doclens count, so the caller's pass-wide live count
    // substitutes for a fresh count job
    if (fs.exists(new Path(tombstonesPath))) return false
    if (built <= 0L) return false
    built + deltaDocs == liveDocs
  }

  /** Delta-apply when the pending forward delta covers the drift
    * (O(delta) check + O(files) moves, committed with the derived meta
    * and the delta dir's drop as one batch), else drop the stale delta
    * (FIRST — a crash can never leave a consumed-and-still-pending delta
    * to double-apply) and report None: the caller batches the rebuild
    * with its siblings' ([[rebuildDerived]]). */
  private def maintainForwardCheap(built: Long, live: Long): Option[String] =
    if (fs.exists(new Path(forwardDeltaPath)) &&
        deltaCovers("forward",
          layout(forwardDeltaPath)
            .select(col("doc_id")).distinct().count(), built, live)) {
      applyDelta("forward", Seq("forward_delta" -> "forward"), live)
      Some("delta_apply")
    } else {
      if (fs.exists(new Path(forwardDeltaPath))) layout.commit(_.drop("forward_delta"))
      None
    }

  private def maintainFieldedCheap(built: Long, live: Long): Option[String] =
    if (fs.exists(new Path(fieldedDeltaDoclensPath)) &&
        deltaCovers("fielded",
          layout(fieldedDeltaDoclensPath)
            .select(col("doc_id")).distinct().count(), built, live)) {
      applyDelta("fielded", Seq("fielded_delta/postings" -> "fielded/postings",
        "fielded_delta/doclens" -> "fielded/doclens"), live)
      Some("delta_apply")
    } else {
      if (fs.exists(new Path(fieldedDeltaPath))) layout.commit(_.drop("fielded_delta"))
      None
    }

  /** Move every pending delta file of `name` into its live artifact,
    * refresh its derived meta and drop the delta dir — one batch, so
    * no read ever sees the artifact half-applied. */
  private def applyDelta(name: String, moves: Seq[(String, String)],
      live: Long): Unit = {
    layout.commit { batch =>
      moves.foreach { case (src, dst) => batch.move(src, dst) }
      stageDerivedMeta(batch, name, Some(live))
      batch.drop(s"${name}_delta")
    }
  }

  /** The block-max sidecars maintain themselves THROUGH appends (term
    * grain max/min-merges at read; file grain gets exact staged rows
    * per batch), so when every live postings file is still covered —
    * file names are immutable, so covered ⇒ the bounds are exact — the
    * "rebuild" is just the meta refresh. Anything else (vacuum/compact
    * rewrote files, pre-delta appends, tombstones in force) rebuilds
    * for real. */
  private def maintainBlockMaxCheap(live: Long): Option[String] = {
    def covered: Boolean = {
      if (fs.exists(new Path(tombstonesPath))) return false
      if (!fs.exists(new Path(blockmaxFilesPath))) return false
      if (!fs.exists(new Path(derivedMetaPath("blockmax")))) return false
      val live = fs.listStatus(new Path(postingsPath))
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("tbucket="))
        .flatMap { d =>
          val bk = d.getPath.getName.stripPrefix("tbucket=").toInt
          fs.listStatus(d.getPath)
            .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
              !s.getPath.getName.startsWith("."))
            .map(f => (bk, f.getPath.getName))
        }.toSet
      val sidecar = layout(blockmaxFilesPath)
        .select(col("tbucket"), col("fname")).distinct()
        .collect().map(r => (r.getInt(0), r.getString(1))).toSet
      live.subsetOf(sidecar)
    }
    if (covered) {
      layout.commit(stageDerivedMeta(_, "blockmax", Some(live)))
      Some("adopt")
    }
    else None
  }

  /** The LIVE postings scan every derived builder aggregates from,
    * carrying the file-identity column block-max's file grain needs. */
  private def livePostingsScan(): DataFrame =
    liveOnly(layout(postingsPath)
      .withColumn("__fname", substring_index(input_file_name(), "/", -1)))

  /** Rebuild the named derived artifacts from ONE shared live-postings
    * scan; forward and block-max additionally share the (doc, term) tf
    * aggregate (identical in both). A single-artifact rebuild skips the
    * extra checkpoint and runs the standalone shape. */
  private def rebuildDerived(names: Seq[String], headLen: Int): Unit = {
    if (names.isEmpty) return
    if (names.size == 1) {
      names.head match {
        case "forward" => buildForwardFrom(None, None)
        case "fielded" => buildFieldedFrom(headLen, None)
        case "blockmax" => buildBlockMaxFrom(None, None)
      }
      return
    }
    val post = livePostingsScan().localCheckpoint(true)
    try {
      val shareTf = names.contains("forward") && names.contains("blockmax")
      val tf =
        if (shareTf)
          Some(post.groupBy(col("doc_id"), col("term"))
            .agg(count(lit(1)).as("tf")).localCheckpoint(false))
        else None
      if (names.contains("forward")) buildForwardFrom(Some(post), tf)
      if (names.contains("fielded")) buildFieldedFrom(headLen, Some(post))
      if (names.contains("blockmax")) buildBlockMaxFrom(Some(post), tf)
      tf.foreach(graft.util.Pins.release)
    } finally graft.util.Pins.release(post)
  }

  /** Build all three derived sidecars from ONE live-postings scan — the
    * fused form of `buildForward(); buildFielded(h); buildBlockMax()`,
    * byte-identical artifact rows (suite-pinned); the standalone
    * builders each re-scan the postings layout and forward/block-max
    * each re-aggregate the same (doc, term) tf table. */
  def buildDerived(headLen: Int): Unit = layout.call {
    require(headLen >= 1, s"headLen must be positive, got $headLen")
    rebuildDerived(Seq("forward", "fielded", "blockmax"), headLen)
  }

  /** BM25 top-k over the index (X173): tf from the PRUNED postings
    * buckets, dl/N/avgdl from the stored doclens — the
    * [[TextAnalysis.bm25TopK]] arithmetic ([[TextAnalysis.bm25Rank]]
    * shared core, bit-identical) with text never read. Per-query I/O =
    * the query terms' buckets + the (doc_id, dl) table.
    *
    * `msm` is minimum-should-match (X184, the Lucene/ES semantics): a
    * doc must contain at least `msm` DISTINCT query terms to score —
    * the precision knob between pure-OR (1, the default, unchanged
    * plans) and pure-AND (|terms|). The gate is a per-row predicate on
    * the tf columns the ranking already computed, applied AFTER the
    * stats aggregate — N/avgdl/df stay corpus-wide, exactly as
    * Lucene's msm leaves idf untouched: zero extra I/O, zero extra
    * exchanges, and it shrinks the ranked set BEFORE the top-k heap. */
  def bm25(queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75, msm: Int = 1,
      maxDfFrac: Double = 1.0): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // the input contract validates on the ORIGINAL query (empty input,
    // duplicates, msm out of range are caller mistakes, not elision
    // outcomes); msm then clamps to the survivor count
    require(queryTerms.nonEmpty, "no query terms")
    require(queryTerms.distinct.size == queryTerms.size,
      s"duplicate term in $queryTerms")
    require(msm >= 1 && msm <= queryTerms.size,
      s"msm must be in [1, ${queryTerms.size}], got $msm")
    val terms = elideHot(queryTerms, maxDfFrac)
    if (terms.isEmpty) return emptyBm25Frame()
    val (perDoc, gate, stats) = bm25PerDoc(terms, msm.min(terms.size))
    TextAnalysis.bm25Rank(perDoc, terms.size, k, k1, b, gate, Some(stats))
  }

  /** Synonym-aware BM25 served from the persisted index (X215 — the
    * Lucene `SynonymQuery` semantics over the X173 serving path): each
    * group of `groups` scores as one pseudo-term with tf = Σ member
    * tfs and df = max member df; see
    * [[graft.operators.TextAnalysis.bm25SynTopK]] for the contract —
    * the ranking half ([[graft.operators.TextAnalysis.bm25SynRank]]) is
    * SHARED with the tokenize path so the two surfaces cannot drift.
    * Per-query I/O = the member terms' pruned buckets + the live
    * doclens; expansion widens the bucket fetch by the synonym fan-out
    * only, never the corpus. */
  def bm25Synonyms(groups: Seq[Seq[String]], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val members = TextAnalysis.validateGroups(groups)
    require(k > 0, s"k must be positive, got $k")
    val tf = termPostings(members.map(_._1))
      .groupBy(col("doc_id"))
      .agg(members.head match { case (t, i) =>
        count(when(col("term") === t, 1)).as(s"tf$i") },
        members.tail.map { case (t, i) =>
          count(when(col("term") === t, 1)).as(s"tf$i") }: _*)
    val dls = liveOnly(layout(doclensPath))
    // match-only inner join (the bm25PerDoc contract): scored rows
    // bounded by the member terms' postings; N/avgdl stay corpus-wide
    // through the broadcast stats row
    val stats = dls.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast(DoubleType) / count(lit(1))).as("avgdl"))
    TextAnalysis.bm25SynRank(dls.join(tf, Seq("doc_id")), groups, k, k1, b,
      corpusStats = Some(stats))
  }

  /** Wildcard/prefix query (X219 — Lucene `WildcardQuery` under the
    * `TopTermsBlendedFreqScoringRewrite`, the default scoring rewrite):
    * `*` matches any run, `?` any single character; the pattern expands
    * against the CENSUS (a vocabulary-sized read — no postings bucket
    * is opened to expand, even for a leading wildcard) to the top
    * `maxExpansions` matching terms by df (term asc on ties, Lucene's
    * priority-queue order), and the expansion scores as ONE blended
    * group through [[bm25Synonyms]] — tf summed, df blended to the max,
    * exactly Lucene's `SynonymQuery`-based rewrite, so a wildcard over
    * morphological variants never double-counts the concept.
    *
    * A pattern matching nothing ranks to the empty frame (the
    * fully-elided degenerate case). Per-query I/O after expansion = the
    * expanded terms' pruned buckets + live doclens. */
  def wildcardSearch(pattern: String, k: Int, maxExpansions: Int = 50,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(pattern.nonEmpty, "empty wildcard pattern")
    require(pattern.exists(c => c != '*' && c != '?'),
      "pattern must contain at least one literal character")
    require(k > 0, s"k must be positive, got $k")
    require(maxExpansions >= 1 && maxExpansions <= 1024,
      s"maxExpansions must be in [1, 1024], got $maxExpansions")
    // a literal leading character prunes the census read to its
    // tprefix partition (X226) — for 'so*t'-class patterns (leading
    // literal, wildcard anywhere later) expansion lists 1/B of the
    // census; a leading-wildcard pattern keeps the full vocabulary
    // read, exactly Lucene's leading-wildcard cost cliff
    val litPrefix = pattern.takeWhile(c => c != '*' && c != '?')
    val vocabSrc =
      if (litPrefix.nonEmpty) vocabForPrefixes(Seq(litPrefix)) else vocab()
    val expanded = vocabSrc
      .filter(col("term").rlike(wildcardRegex(pattern)))
      .orderBy(col("df").desc, col("term").asc)
      .limit(maxExpansions)
      .select(col("term")).collect().map(_.getString(0)).toSeq
    if (expanded.isEmpty) emptyBm25Frame()
    else bm25Synonyms(Seq(expanded), k, k1, b)
  }

  /** Regexp query (X249 — the ES `regexp` query, implicitly anchored
    * like Lucene's): census terms matching the pattern expand capped
    * at `maxExpansions` by (df desc, term asc) — the [[wildcardSearch]]
    * rewrite rule — and score as ONE SynonymQuery group (blended idf,
    * no concept double-count). A LEADING LITERAL run prunes the census
    * read to its `tprefix=` partition (X226), but only when the prune
    * is PROVABLY sound: a top-level alternation (`ab|cd`) or a
    * quantifier on the run's last char (`a*b`) lets matches escape the
    * prefix, so those patterns read the full vocabulary — exactly
    * Lucene's leading-wildcard cost cliff, stated rather than hidden.
    * Pattern syntax: the common Java-regex/RE2 subset (the oracle runs
    * the same string), the caller's contract. */
  def regexpSearch(pattern: String, k: Int, maxExpansions: Int = 50,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(pattern.nonEmpty, "empty regexp pattern")
    require(k > 0, s"k must be positive, got $k")
    require(maxExpansions >= 1 && maxExpansions <= 1024,
      s"maxExpansions must be in [1, 1024], got $maxExpansions")
    val lit = pattern.takeWhile(_.isLetterOrDigit)
    // a quantifier right after the literal run makes its LAST char
    // optional/repeated — the run minus that char still binds
    val safeLit = pattern.drop(lit.length).headOption match {
      case Some(c) if "*+?{".contains(c) => lit.dropRight(1)
      case _ => lit
    }
    val vocabSrc =
      if (safeLit.nonEmpty && !pattern.contains('|'))
        vocabForPrefixes(Seq(safeLit))
      else vocab()
    val expanded = vocabSrc
      .filter(col("term").rlike("^" + pattern + "$"))
      .orderBy(col("df").desc, col("term").asc)
      .limit(maxExpansions)
      .select(col("term")).collect().map(_.getString(0)).toSeq
    if (expanded.isEmpty) emptyBm25Frame()
    else bm25Synonyms(Seq(expanded), k, k1, b)
  }

  /** Fuzzy query (X261 — the ES `fuzzy` query / Lucene FuzzyQuery,
    * the RANKED sibling of the X201 "did you mean" suggester): the
    * query term expands to its edit-distance-≤1 census neighbors
    * (the [[graft.operators.TextAnalysis.fuzzySuggestVocab]] deletion-
    * variant join — never a vocabulary cross-product), capped at
    * `maxExpansions` by (distance asc, df desc, term asc) — Lucene's
    * rewrite preference — and the expansion scores as ONE SynonymQuery
    * group (blended idf: "sorrt" retrieves sort's docs without
    * double-counting the concept, the Lucene top_terms_blended rewrite
    * in its principled form). A term with no live neighbor ranks to
    * the empty frame. */
  def fuzzyTermSearch(term: String, k: Int, maxExpansions: Int = 50,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(term.nonEmpty, "empty term")
    require(k > 0, s"k must be positive, got $k")
    require(maxExpansions >= 1 && maxExpansions <= 1024,
      s"maxExpansions must be in [1, 1024], got $maxExpansions")
    val expanded = TextAnalysis.fuzzySuggestVocab(vocab(), Seq(term),
        topK = maxExpansions)
      .orderBy(col("rank").asc)
      .select(col("term")).collect().map(_.getString(0)).toSeq
    if (expanded.isEmpty) emptyBm25Frame()
    else bm25Synonyms(Seq(expanded), k, k1, b)
  }

  /** Anchored regex for a Lucene wildcard pattern — `*` → `.*`, `?` →
    * `.`, everything else literal (backslash-escaped unless
    * alphanumeric, valid in both Java regex and RE2 so the oracle can
    * reuse the string verbatim). */
  private[sources] def wildcardRegex(pattern: String): String =
    "^" + pattern.flatMap {
      case '*' => ".*"
      case '?' => "."
      case c if c.isLetterOrDigit => c.toString
      case c => "\\" + c
    } + "$"

  /** Hot-term serve policy (the Lucene-class stop-term rule): query
    * terms whose LIVE document frequency exceeds `maxDfFrac` of the
    * live doc count are elided from the query before any postings I/O.
    * Such a term's idf ≈ 0 — it contributes almost nothing to the
    * ranking — but its postings are ∝ the corpus (a stopword's bucket
    * read dwarfs every other term's), so skipping it is the cheap 90%
    * of impact-ordered/block-max postings. The decision is served from
    * the census sidecar ([[vocab]] — a vocabulary-sized read) plus one
    * doclens count; NO postings bucket is opened to decide. Default 1.0
    * disables the policy with zero plan change. A query whose terms are
    * ALL elided returns an empty frame (nothing discriminative to
    * rank) — the documented degenerate case. */
  private def elideHot(terms: Seq[String], maxDfFrac: Double): Seq[String] = {
    require(maxDfFrac > 0.0 && maxDfFrac <= 1.0,
      s"maxDfFrac must be in (0, 1], got $maxDfFrac")
    if (maxDfFrac >= 1.0 || terms.isEmpty) return terms
    val n = liveDocCount()
    if (n == 0L) return terms
    val hot = vocab()
      .filter(col("term").isin(terms: _*))
      .filter(col("df").cast(DoubleType) > lit(maxDfFrac) * n)
      .select(col("term")).collect().map(_.getString(0)).toSet
    terms.filterNot(hot)
  }

  /** Zero-row (doc_id, dl, score) frame with the stored doc_id type —
    * what a fully-elided query ranks to. */
  private def emptyBm25Frame(): DataFrame =
    layout(doclensPath).limit(0)
      .select(col("doc_id"), col("dl"), lit(0.0).as("score"))

  /** The shared front half of [[bm25]] and [[bm25Page]]: per-doc tf
    * columns from the pruned postings buckets INNER-joined onto the
    * live doclens — the MATCH-ONLY contract (ES behavior): only docs
    * containing ≥ 1 query term flow into scoring, so the scored-row
    * mass is bounded by the query terms' postings, never the corpus.
    * Result-identical to the all-docs framing ([[graft.operators
    * .TextAnalysis.bm25Scored]]'s score > 0 filter excluded the
    * non-matching rows anyway — BM25 partials are strictly positive on
    * tf > 0); the third element is the ONE-ROW corpus-stats frame
    * (n_docs, avgdl over the full live doclens, the exact
    * [[graft.operators.TextAnalysis.bm25Scored]] expression shapes)
    * that keeps N/avgdl corpus-wide under the inner join — df still
    * aggregates from the matched frame (every doc with tf > 0 is in
    * it). Plus the X184 minimum-should-match gate. */
  private def bm25PerDoc(queryTerms: Seq[String], msm: Int)
      : (DataFrame, org.apache.spark.sql.Column, DataFrame) = {
    require(queryTerms.nonEmpty, "no query terms")
    require(queryTerms.distinct.size == queryTerms.size,
      s"duplicate term in $queryTerms")
    require(msm >= 1 && msm <= queryTerms.size,
      s"msm must be in [1, ${queryTerms.size}], got $msm")
    val terms = queryTerms.zipWithIndex
    val (slice, live) = termSlice(queryTerms)
    val tf = slice
      .groupBy(col("doc_id"))
      .agg(terms.head match { case (t, i) =>
        count(when(col("term") === t, 1)).as(s"tf$i") },
        terms.tail.map { case (t, i) =>
          count(when(col("term") === t, 1)).as(s"tf$i") }: _*)
    val dls = live(layout(doclensPath))
    val perDoc = dls.join(tf, Seq("doc_id"))
    val stats = dls.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast(DoubleType) / count(lit(1))).as("avgdl"))
    val gate = if (msm == 1) lit(true) else
      terms.map { case (_, i) => when(col(s"tf$i") > 0, 1).otherwise(0) }
        .reduce(_ + _) >= msm
    (perDoc, gate, stats)
  }

  /** Keyset-paginated BM25 (X187 — X179 composed with the ranked
    * serving path): one page of `n` hits under the TOTAL order
    * (round-6 score DESC, doc_id ASC), strictly after the previous
    * page's last row. The cursor is that row's (score, doc_id) — both
    * values exactly as emitted, which is why this surface ranks on the
    * ROUNDED score: a cursor must be reconstructible from what the
    * caller received (the [[graft.operators.TextAnalysis.bm25Scored]]
    * note).
    *
    * Interaction with the top-k heap, stated honestly: a page beyond
    * the first k cannot come from re-slicing a k-heap — the cursor
    * predicate must sit INSIDE the rank pipeline, filtering the scored
    * rows BEFORE the heap. That is exactly what happens here: scoring
    * work is unavoidable for every page (the stats pass and tf joins
    * rerun — cache the scored frame across pages if the UI walks deep),
    * but each page pays one filter + one n-heap
    * (TakeOrderedAndProject) instead of OFFSET's produce-and-discard of
    * every earlier page on every partition — the quadratic-in-pages
    * walk [[graft.operators.Paging.keysetPage]] exists to kill.
    * Chained pages ≡ the OFFSET answer under the same total order
    * (oracle-gated, the q219 pattern on q214's output). */
  def bm25Page(queryTerms: Seq[String], n: Int,
      after: Option[(Double, Long)] = None,
      k1: Double = 1.2, b: Double = 0.75, msm: Int = 1): DataFrame =
    graft.operators.Paging.keysetPage(bm25Ranked(queryTerms, k1, b, msm),
      Seq(("score", false), ("doc_id", true)),
      after.map { case (s, id) => Seq(s, id) }, n)

  /** The full rounded ranking [[bm25Page]] pages over — (doc_id, dl,
    * round-6 score) for every matching doc, unordered. Exposed so a UI
    * session walking deep can `persist` it ONCE and feed
    * [[graft.operators.Paging.keysetPage]] per page, paying the stats
    * pass and tf joins a single time instead of per page. */
  def bm25Ranked(queryTerms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75, msm: Int = 1): DataFrame = {
    val (perDoc, gate, stats) = bm25PerDoc(queryTerms, msm)
    TextAnalysis.bm25Scored(perDoc, queryTerms.size, k1, b, gate, Some(stats))
      .select(col("doc_id"), col("dl"), round(col("score"), 6).as("score"))
  }

  /** The full LIVE postings frame (tombstones masked), `tbucket` kept
    * as the pruning surface — the SQL-registration view behind
    * [[StoreCatalog.registerInvertedIndex]] (X189). A SQL caller prunes
    * a term lookup exactly like [[termPostings]] does, with stock SQL
    * (the bucket rule is plain `md5`/`conv`/`pmod`, constant-folded for
    * a literal term):
    * {{{ WHERE term = 'x' AND tbucket =
    *       CAST(pmod(CAST(conv(substring(md5('x'), 1, 7), 16, 10)
    *         AS BIGINT), B) AS INT) }}} */
  def livePostings: DataFrame = layout.call {
    liveOnly(layout(postingsPath))
  }

  /** The LIVE (doc_id, dl) doclens frame — [[livePostings]]' stats-side
    * sibling for the SQL surface. */
  def liveDoclens: DataFrame = layout.call {
    liveOnly(layout(doclensPath))
  }

  /** The stored bucket count B — the SQL caller's input to the pruning
    * predicate documented on [[livePostings]]. */
  def bucketCount: Int = layout.call(readBuckets())

  /** Dirichlet query-likelihood ranking (X197; Zhai & Lafferty, SIGIR
    * '01 — THE classic LM ranker next to BM25): top-k docs by
    * Σ_t log((tf_td + μ·cf_t/C) / (dl_d + μ)) over the query terms,
    * with cf_t the term's collection frequency and C the total token
    * count — both from the stored layout (cf from the pruned postings
    * slice, C = Σ dl from doclens), text never read. Docs matching NO
    * query term are excluded (the standard candidate restriction every
    * engine applies — their score is pure background smoothing), and
    * among candidates the score is exact, smoothing included for their
    * zero-tf terms.
    *
    * Plan shape mirrors [[bm25]]: per-doc tf columns from one pruned
    * bucket read, (cf_0..cf_n, C, N) collapse to ONE broadcast stats
    * row, scoring a per-row map, the cut a TakeOrderedAndProject heap.
    * Determinism: per-term partials round at 6 and sum in fixed term
    * order (the [[graft.operators.TextAnalysis.bm25Rank]] discipline);
    * only log sits behind the round.
    *
    * `maxDfFrac` is the [[elideHot]] hot-term serve policy (X199),
    * extended to the QL surface: on common terms the candidate set is
    * otherwise the corpus (every doc matches "the"), and a stop-class
    * term's Dirichlet partial is ≈ the background smoothing every
    * candidate shares — near-zero ranking signal for a corpus-sized
    * bucket read. Elided terms skip exactly like OOV terms (the cf = 0
    * rule already in place): they neither generate candidates nor
    * contribute a partial. Default 1.0 disables with zero plan change;
    * a fully-elided query returns the empty frame. */
  def qlTopK(queryTerms: Seq[String], k: Int,
      mu: Double = 2000.0, maxDfFrac: Double = 1.0): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(mu > 0.0, s"mu must be positive, got $mu")
    require(queryTerms.nonEmpty, "no query terms")
    val served = elideHot(queryTerms, maxDfFrac)
    if (served.isEmpty) return emptyBm25Frame()
    val (perDoc, _, _) = bm25PerDoc(served, msm = 1)
    val terms = served.zipWithIndex
    val slice = termPostings(served)
    val cfs = slice.agg(
      terms.head match { case (t, i) =>
        count(when(col("term") === t, 1)).as(s"cf$i") },
      terms.tail.map { case (t, i) =>
        count(when(col("term") === t, 1)).as(s"cf$i") }: _*)
    val totals = liveOnly(layout(doclensPath))
      .agg(sum(col("dl")).cast(LongType).as("__c"))
    val stats = cfs.crossJoin(totals)
    val dlD = col("dl").cast(DoubleType)
    val partials = terms.map { case (_, i) =>
      val tf = col(s"tf$i").cast(DoubleType)
      val cf = col(s"cf$i").cast(DoubleType)
      // a term absent from the whole corpus (cf = 0 ⇒ tf = 0 for every
      // doc) carries no information and would send every candidate to
      // log(0): skip it, the standard OOV-term rule
      when(col(s"cf$i") > 0,
        round(log((tf + lit(mu) * cf / col("__c").cast(DoubleType)) /
          (dlD + lit(mu))), 6))
        .otherwise(lit(0.0))
    }
    val matched = terms.map { case (_, i) => col(s"tf$i") > 0 }
      .reduce(_ || _)
    perDoc.crossJoin(broadcast(stats))
      .filter(matched)
      // rank on the ROUNDED score (the bm25Page discipline): the k cut
      // must agree with what the caller receives AND with [[qlBatch]],
      // whose per-query parity suite pins this surface — two docs whose
      // scores round equal order by the doc_id tiebreak on BOTH paths
      .withColumn("score", round(partials.reduce(_ + _), 6))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("dl"), col("score"))
  }

  /** Batched BM25 (X196): top-k hits for a whole BATCH of queries in
    * ONE pass over the index — the bulk-serving / offline-eval shape
    * (score ten thousand queries for a rerank-training set) where
    * looping [[bm25]] would pay one postings read and one doclens
    * stats pass PER query. `queries` is (query_id, term) rows
    * (duplicates dropped); per-(doc, term) tf and per-term df come from
    * one bucket-pruned read of the batch vocabulary's postings, N and
    * avgdl from one doclens pass, and scoring is a three-way equi-join
    * producing only rows where a query term actually matches a doc —
    * never |queries| × |corpus|. The distinct-term collect is bounded
    * by the BATCH VOCABULARY (the bounded-scalar-anchor class — it
    * builds the pruning predicate), not the corpus.
    *
    * Arithmetic is [[bm25]]'s per-term partial (same idf variant, same
    * round-6-per-partial discipline); the per-query sum is an EXACT
    * DECIMAL aggregate (order-free — a batch group has no fixed term
    * chain), then one round-6, and ranking uses the rounded emitted
    * score with the doc_id tiebreak (the [[bm25Page]] discipline).
    * Per-query parity with the single-query path is suite-pinned.
    * `msm` gates on the count of DISTINCT matched terms per (query,
    * doc), as X184. Output: (query_id, doc_id, score, rank ≤ k).
    *
    * Plan note: the pruned postings slice is scanned twice (the tf
    * branch and the df branch) and doclens twice (per-doc dl + the
    * stats row) — all four bucket/column-pruned; this is NOT pinned by
    * default because the (doc, term) tf table scales with batch-vocab ×
    * matching docs, beyond the engine's vocabulary-sized pin class. A
    * caller amortizing many batches over one hot slice can pin
    * upstream. */
  /** `censusDf = true` scores with ORIGINAL-statistics df from the
    * census sidecar (the [[bm25CensusDf]] rule in the batch shape) —
    * what makes batch serving over a [[prunedCopy]] honest: surviving
    * (term, doc) pairs score exactly as on the full index. On a full
    * index it is the same number (suite-pinned). */
  def bm25Batch(queries: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75, msm: Int = 1,
      maxDfFrac: Double = 1.0, censusDf: Boolean = false): DataFrame = {
    require(queries.columns.toSeq == Seq("query_id", "term"),
      s"queries must be (query_id, term) rows, got ${queries.columns.toSeq}")
    require(k > 0, s"k must be positive, got $k")
    require(msm >= 1, s"msm must be >= 1, got $msm")
    import org.apache.spark.sql.expressions.Window
    val qAll = queries.dropDuplicates("query_id", "term")
      .filter(col("term").isNotNull && col("term") =!= "")
    val termsAll = qAll.select(col("term")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    require(termsAll.nonEmpty, "no terms in the query batch")
    // hot-term policy over the BATCH vocabulary (one census lookup for
    // the whole batch); queries left with no surviving term simply rank
    // nothing — the single-query degenerate case, per query
    val terms = elideHot(termsAll, maxDfFrac)
    if (terms.isEmpty)
      return qAll.limit(0).crossJoin(emptyBm25Frame())
        .select(col("query_id"), col("doc_id"), col("score"),
          lit(0).as("rank"))
    val q = qAll.filter(col("term").isin(terms: _*))
    // per-query msm clamp (the single-query 'msm then clamps to the
    // survivor count' contract, batch form): a query whose hot terms
    // were elided gates on least(msm, its surviving distinct terms) —
    // mirroring booleanSearchBatch's least(minShould, __s) — instead of
    // silently returning zero rows when msm exceeds what survived
    val qMsm = q.groupBy(col("query_id"))
      .agg(least(lit(msm), count(lit(1))).as("__msm"))
    val tf = termPostings(terms)
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfs =
      if (censusDf) vocab().filter(col("term").isin(terms: _*))
      else tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val dls = liveOnly(layout(doclensPath))
    val stats = dls.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast(DoubleType) / count(lit(1))).as("avgdl"))
    val tfD = col("tf").cast(DoubleType)
    val dfD = col("df").cast(DoubleType)
    val idf = log(lit(1.0) +
      (col("n_docs").cast(DoubleType) - dfD + lit(0.5)) / (dfD + lit(0.5)))
    val norm = tfD + lit(k1) * (lit(1.0) - lit(b) +
      lit(b) * col("dl").cast(DoubleType) / col("avgdl"))
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 6)
    q.join(tf, Seq("term"))
      .join(dls, Seq("doc_id"))
      .join(dfs, Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("__p", round(idf * tfD * lit(k1 + 1.0) / norm, 6))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("__nm"),
        round(sum(col("__p").cast(dec)).cast(DoubleType), 6).as("score"))
      .join(broadcast(qMsm), Seq("query_id"))
      .filter(col("score") > 0 && col("__nm") >= col("__msm"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("doc_id").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("score"), col("rank"))
  }

  /** Batched Dirichlet query-likelihood (X197 in the X196 batch shape):
    * top-k docs per query for a whole (query_id, term) batch in ONE
    * pruned pass — the offline-eval path for the LM ranker (score a
    * rerank-training query set without re-reading the index per
    * query). Collection stats come once from the stored layout: cf per
    * term from the batch vocabulary's pruned postings slice, C = Σ dl
    * from one doclens pass. Candidates per query are docs matching ≥1
    * of that query's terms (the [[qlTopK]] restriction); each
    * candidate then scores against the query's FULL term list —
    * zero-tf terms contribute their smoothing term, OOV terms (cf = 0)
    * are skipped — via a candidates × query-terms grid join, never
    * |queries| × |corpus|. Per-term partials round at 6 and sum as
    * EXACT DECIMAL (order-free — the [[bm25Batch]] discipline; the
    * suite pins per-query parity with [[qlTopK]]). Output:
    * (query_id, doc_id, score, rank ≤ k).
    *
    * `maxDfFrac` is [[qlTopK]]'s hot-term policy in the batch shape:
    * the elision decision is per INDEX (census df), so it is made once
    * for the batch vocabulary; elided terms drop from the candidate
    * generation AND the scoring grid — per-query parity with the
    * single-query path holds term by term (both skip them like OOV).
    * A query whose terms are all elided simply produces no candidate
    * rows. Default 1.0 is plan-identical. */
  def qlBatch(queries: DataFrame, k: Int, mu: Double = 2000.0,
      maxDfFrac: Double = 1.0): DataFrame = {
    require(queries.columns.toSeq == Seq("query_id", "term"),
      s"queries must be (query_id, term) rows, got ${queries.columns.toSeq}")
    require(k > 0, s"k must be positive, got $k")
    require(mu > 0.0, s"mu must be positive, got $mu")
    import org.apache.spark.sql.expressions.Window
    val q0 = queries.dropDuplicates("query_id", "term")
      .filter(col("term").isNotNull && col("term") =!= "")
    val termsAll = q0.select(col("term")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    require(termsAll.nonEmpty, "no terms in the query batch")
    val terms = elideHot(termsAll, maxDfFrac)
    if (terms.isEmpty)
      // every batch term is stop-class: no candidates anywhere — the
      // typed empty frame (doc_id from the stored layout)
      return q0.limit(0).select(col("query_id"))
        .crossJoin(layout(doclensPath).limit(0)
          .select(col("doc_id")))
        .withColumn("score", lit(0.0))
        .withColumn("rank", lit(1))
    // the elided (stop-class) complement is small by construction, so
    // the grid prune is a cheap NOT-isin; elided terms would score 0.0
    // through the cf=0 OOV rule anyway — dropping them here just keeps
    // the grid rows ∝ surviving terms
    val hot = termsAll.diff(terms)
    val q = if (hot.isEmpty) q0 else q0.filter(!col("term").isin(hot: _*))
    val slice = termPostings(terms)
    val tf = slice.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val cfs = slice.groupBy(col("term")).agg(count(lit(1)).as("cf"))
    val dls = liveOnly(layout(doclensPath))
    val totals = dls.agg(sum(col("dl")).cast(LongType).as("__c"))
    val cand = q.join(tf.select(col("term"), col("doc_id")), Seq("term"))
      .select(col("query_id"), col("doc_id")).distinct()
    val grid = cand.join(q, Seq("query_id"))
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 6)
    val partial = when(col("cf") > 0,
      round(log((col("tf").cast(DoubleType) +
          lit(mu) * col("cf").cast(DoubleType) / col("__c").cast(DoubleType)) /
        (col("dl").cast(DoubleType) + lit(mu))), 6))
      .otherwise(lit(0.0))
    grid
      .join(tf, Seq("doc_id", "term"), "left").na.fill(0L, Seq("tf"))
      .join(cfs, Seq("term"), "left").na.fill(0L, Seq("cf"))
      .join(dls, Seq("doc_id"))
      .crossJoin(broadcast(totals))
      .withColumn("__p", partial)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("__p").cast(dec)).cast(DoubleType), 6).as("score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("doc_id").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("score"), col("rank"))
  }

  /** Batched set-Boolean retrieval (X194 in the X196 batch shape):
    * every query of a (query_id, term, clause) batch — clause ∈
    * 'must' | 'should' | 'must_not' — answered from ONE pruned pass
    * over the batch vocabulary's buckets. Per (query, doc) the three
    * clause-membership counts come from one aggregate over the
    * matched (doc, term) pairs joined to the clause table; a doc
    * qualifies when it matched ALL of the query's must terms, at
    * least `min(minShould, |should|)` of its should terms (vacuous
    * for a should-less query), and NONE of its must_not terms.
    * Per-query parity with [[booleanSearch]] is suite-pinned. The
    * clause contract validates distributively (three batch-sized
    * checks, no postings I/O): every query needs a must or should
    * term, no empty terms, no term in two clauses of one query.
    * Output: (query_id, doc_id, n_should). */
  def booleanSearchBatch(clauses: DataFrame, minShould: Int = 1): DataFrame = {
    val c = TextAnalysis.validateClauseBatch(clauses, minShould)
    val terms = c.select(col("term")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    val matched = termPostings(terms)
      .select(col("doc_id"), col("term")).distinct()
    TextAnalysis.booleanMatchBatch(matched, c, minShould)
  }

  /** Set-Boolean retrieval served from the index (X194): the
    * [[graft.operators.TextAnalysis.booleanMatch]] semantics over the
    * pruned postings buckets of the three clauses' terms — MUST ∧
    * (≥ minShould of SHOULD) ∧ ¬MUST_NOT, emitting (doc_id, n_should);
    * tombstones masked via [[termPostings]], text never read. */
  def booleanSearch(must: Seq[String], should: Seq[String] = Nil,
      mustNot: Seq[String] = Nil, minShould: Int = 1,
      maxDfFrac: Double = 1.0): DataFrame = {
    // clause contract FIRST (shared validator) — termPostings would
    // otherwise surface its generic slice errors for clause-level
    // mistakes (mustNot-only input, an empty-string term)
    TextAnalysis.validateBooleanClauses(must, should, mustNot, minShould)
    // hot-term policy ([[elideHot]]): stop-class terms drop from every
    // clause — the Lucene StopFilter query-side behavior (a stopword
    // constrains nothing: requiring/excluding a term in most of the
    // corpus is noise, and its postings are the expensive ones). One
    // census lookup for all three clauses.
    val hot = (must ++ should ++ mustNot)
      .diff(elideHot(must ++ should ++ mustNot, maxDfFrac)).toSet
    val (m, s, n) = (must.filterNot(hot), should.filterNot(hot),
      mustNot.filterNot(hot))
    if (m.isEmpty && s.isEmpty)
      return layout(doclensPath).limit(0)
        .select(col("doc_id"), lit(0L).as("n_should"))
    TextAnalysis.booleanMatch(termPostings(m ++ s ++ n),
      m, s, n, if (s.isEmpty) 1 else minShould.min(s.size))
  }

  /** Proximity (NEAR/k) served from the index with the hot-term policy:
    * [[graft.operators.TextAnalysis.proximityMatch]] over the two
    * terms' pruned buckets. A stop-class term (df > `maxDfFrac`·N)
    * makes the banded self-join degenerate — its postings are ∝ the
    * corpus on BOTH sides — and proximity against an elided term is
    * undefined, so the query answers EMPTY (the Lucene StopFilter
    * behavior: a phrase/NEAR over removed stopwords matches nothing)
    * rather than scanning a corpus-sized bucket. Default 1.0 = exact
    * q215 behavior, zero plan change. */
  def proximitySearch(termA: String, termB: String, maxDist: Int,
      maxDfFrac: Double = 1.0): DataFrame = {
    require(termA.nonEmpty && termB.nonEmpty, "empty term")
    val survivors = elideHot(Seq(termA, termB).distinct, maxDfFrac)
    if (survivors.size < Seq(termA, termB).distinct.size)
      return layout(doclensPath).limit(0)
        .select(col("doc_id"), lit(0L).as("n_pairs"),
          lit(0).cast(IntegerType).as("min_dist"))
    TextAnalysis.proximityMatch(termPostings(Seq(termA, termB).distinct),
      termA, termB, maxDist)
  }

  /** Static index pruning (X204; Carmel et al., SIGIR '01 — the
    * standard complement to the X199 stop-term rule): write a PRUNED
    * SERVING COPY of this index at `targetPath` that keeps, per term,
    * only the `keepPerTerm` highest-impact postings (tf DESC, doc_id
    * ASC — the deterministic impact order for our tf-driven scorer).
    * A hot term's postings are corpus-proportional in the full layout;
    * in the pruned copy every term's list is ≤ keepPerTerm, so serve
    * I/O is bounded by |terms|·keepPerTerm REGARDLESS of df — the
    * static-pruning trade: top-k retrieval becomes approximate (a doc
    * outside a term's kept list contributes no tf for that term), but
    * with [[bm25CensusDf]]'s original-statistics scoring every
    * RETURNED doc's score is EXACT, so the only possible error is a
    * missing low-impact hit, never a wrong score (the Carmel
    * guarantee).
    *
    * The copy keeps the full live doclens (N/avgdl stay corpus-exact)
    * and the ORIGINAL census (df for scoring and for the X199/X183
    * census consumers) — only the postings shrink. Tombstones resolve
    * on the way out (the copy is born clean); positions of surviving
    * (term, doc) pairs are kept intact, so phrase/proximity still
    * work — also approximately — over the pruned slices. One
    * term-keyed window + one semi-join, write-shaped like [[build]];
    * the rank cut plans as a PARTIAL WindowGroupLimit below the
    * exchange (plan-audited), so even a stopword-class term with
    * corpus-proportional postings ships at most keepPerTerm rows per
    * map task — the per-term window is NOT a skew funnel. Refresh on
    * the maintenance cadence (a pruned copy is a derived artifact,
    * rebuilt not mutated). */
  def prunedCopy(targetPath: String, keepPerTerm: Int): InvertedIndex = layout.call {
    require(keepPerTerm >= 1, s"keepPerTerm must be >= 1, got $keepPerTerm")
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val b = readBuckets()
    val live = liveOnly(layout(postingsPath))
    val keep = live
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("__tf"))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("term"))
          .orderBy(col("__tf").desc, col("doc_id").asc)))
      .filter(col("__rk") <= keepPerTerm)
      .select(col("term"), col("doc_id"))
    val target = new InvertedIndex(spark, targetPath, b)
    target.layout.commit { batch =>
      batch.stageRows("meta", None, Seq(b).toDF("n_buckets").coalesce(1))
      batch.stageRows("postings", Some("tbucket"), live.join(keep, Seq("term", "doc_id"), "left_semi")
        .select(col("doc_id"), col("pos"), col("term"))
        .withColumn("tbucket", bucketCol(col("term"), b)))
      batch.stageRows("doclens", None, liveOnly(layout(doclensPath)))
      stageCensus(batch, vocab(), onePerPrefix = false)
    }
    target
  }

  /** BM25 with ORIGINAL-statistics df (X204's scoring half): identical
    * arithmetic to [[bm25]] except each term's df comes from the
    * census sidecar instead of being recounted from the per-doc tf
    * frame. On an unpruned index the two are the same number, so this
    * is bit-identical to [[bm25]] (suite-pinned); on a [[prunedCopy]]
    * it is what makes pruned retrieval honest — surviving docs score
    * EXACTLY as they would on the full index (tf preserved, dl/N/avgdl
    * from the full doclens copy, df original), so pruning can only
    * drop low-impact hits, never perturb a score. The df lookup is one
    * vocabulary-sized census read collected for |terms| rows (the
    * bounded-scalar-anchor class, as [[elideHot]]). */
  def bm25CensusDf(queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75, msm: Int = 1): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val (perDoc, gate, stats) = bm25PerDoc(queryTerms, msm)
    val dfs = vocab().filter(col("term").isin(queryTerms: _*))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val scored = perDoc.crossJoin(broadcast(stats))
    val partials = queryTerms.zipWithIndex.map { case (t, i) =>
      val tf = col(s"tf$i").cast(DoubleType)
      val df = lit(dfs.getOrElse(t, 0L).toDouble)
      val idf = log(lit(1.0) +
        (col("n_docs").cast(DoubleType) - df + lit(0.5)) / (df + lit(0.5)))
      val norm = tf + lit(k1) * (lit(1.0) - lit(b) +
        lit(b) * col("dl").cast(DoubleType) / col("avgdl"))
      round(idf * tf * lit(k1 + 1.0) / norm, 6)
    }
    scored
      .withColumn("score", partials.reduce(_ + _))
      .filter(col("score") > 0 && gate)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("dl"), round(col("score"), 6).as("score"))
  }

  private def blockmaxPath = s"$path/blockmax"
  private def blockmaxFilesPath = s"$path/blockmax_files"

  /** Max-impact sidecar (X211; the Lucene block-max / MaxScore
    * family — Turtle & Flood '95, Ding & Suel SIGIR '11): one
    * (term, max_tf, min_dl) row per term, written beside the census, so
    * [[bm25MaxScore]] can bound every query term's best-possible BM25
    * partial WITHOUT opening its postings bucket — tf is monotone-up
    * and dl monotone-down in the partial, so
    * `partial(max_tf, min_dl) ≥ partial(tf_d, dl_d)` for every doc d
    * containing the term.
    *
    * A DERIVED artifact like [[buildForward]] (rebuild on the
    * maintenance cadence, never required for correctness — every
    * consumer falls back to plain [[bm25]] when it is absent), with one
    * crucial invariant: the stored bounds must UPPER-bound the current
    * live corpus at all times. [[append]] therefore adds the batch's
    * bound rows in the same commit as its docs, [[vacuum]] leaves the rows untouched
    * (bounds over a superset are loose — safe; rebuild to re-tighten),
    * and [[build]] DELETES the sidecar (a fresh corpus invalidates old
    * bounds in the unsafe direction). Reads max/min-merge across the
    * accreted part files, so the serve-time lookup is one
    * vocabulary-sized pruned read. */
  def buildBlockMax(): Unit = layout.call(buildBlockMaxFrom(None, None))

  /** [[buildBlockMax]] over an optional shared live-postings scan
    * (must carry `__fname`) and shared (doc, term) tf aggregate —
    * [[rebuildDerived]]'s one-scan path; `None` keeps the standalone
    * shape. */
  private def buildBlockMaxFrom(shared: Option[DataFrame],
      tfShared: Option[DataFrame]): Unit = {
    val own = shared.isEmpty
    val post = shared.getOrElse(
      livePostingsScan()
        .localCheckpoint(true)) // two grains aggregate from one read
    layout.commit { batch =>
      try {
        val dls = liveOnly(layout(doclensPath))
        batch.stageRows("blockmax", None, termBounds(tfShared.getOrElse(
          post.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))), dls))
        // (term, file)-grain rows (Ding & Suel SIGIR'11 — true block-max):
        // a (term, doc) pair is file-local (one input row → one task →
        // one file per bucket; the append-disjointness contract forbids
        // re-sent docs), so the per-file tf is the doc's exact tf and
        // partial(max_tf_F, min_dl_F) ceilings every doc in F. File
        // identity is (tbucket, fname) — parquet task files carry a job
        // UUID, so a REWRITTEN layout (vacuum/compact) never aliases an
        // old name: its new files are simply uncovered (no skip, sound)
        // until the next buildBlockMax re-tightens.
        // tbucket-partitioned like the postings themselves: the sidecar
        // is postings-scale ((term, file) pairs), so the serve-time
        // lookup must prune at the file listing to the ESSENTIAL terms'
        // buckets — an unpartitioned sidecar would cost a full scan per
        // query at corpus scale
        batch.stageRows("blockmax_files", Some("tbucket"), fileBounds(post, dls))
      } finally if (own) graft.util.Pins.release(post)
      stageDerivedMeta(batch, "blockmax", None)
    }
  }

  /** BM25 top-k with the MaxScore cut (X211) — bit-identical results to
    * [[bm25]] (the optimization is result-invariant by the MaxScore
    * theorem; q255 gates it on q214's oracle verbatim), but on skewed
    * queries the expensive per-doc work runs over a candidate set
    * bounded by the RARE terms' postings instead of every doc matching
    * any term:
    *
    *  1. score ceilings: per-term `ub = round6(partial(max_tf,
    *     min_dl))` from the [[buildBlockMax]] sidecar + census df —
    *     no postings I/O;
    *  2. θ: the kth exact score of the HIGHEST-ceiling term alone (one
    *     pruned bucket read). Every doc's full score ≥ its single-term
    *     partial, so θ lower-bounds the true kth score;
    *  3. non-essential terms: the largest ub-ascending prefix with
    *     Σub < θ − ε. A doc matching ONLY those terms scores ≤ Σub
    *     < θ and cannot enter the top k — the MaxScore term skip;
    *  4. candidates: docs matching ≥ 1 ESSENTIAL term (pruned read of
    *     the essential — high-ceiling, therefore rare — buckets),
    *     driver-bounded by `maxCandidates` (the engine's
    *     bounded-scalar-anchor class; over the bound → plain [[bm25]]);
    *  5. exact scoring of the candidates over ALL query terms in the
    *     ORIGINAL term order (round-6 partial discipline, census df,
    *     corpus-wide N/avgdl — the [[bm25CensusDf]] arithmetic, so
    *     returned scores are bit-exact), with the candidate id set
    *     pushed into the postings and doclens scans — on a layout
    *     whose files are doc-ordered (the [[build]] write order)
    *     parquet row-group/page stats turn that pushed IN into real
    *     block skips, the block-level half of block-max.
    *
    * Every driver-side collect is bounded: |terms| sidecar/census rows,
    * k θ-rows, ≤ maxCandidates candidate ids. Degenerate inputs (no
    * sidecar, empty corpus, θ = 0, nothing non-essential, candidate
    * overflow) all fall back to plain [[bm25]] — invariance by
    * construction. */
  def bm25MaxScore(queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      maxCandidates: Int = 10000): DataFrame = layout.call {
    require(k > 0, s"k must be positive, got $k")
    require(queryTerms.nonEmpty, "no query terms")
    require(queryTerms.distinct.size == queryTerms.size,
      s"duplicate term in $queryTerms")
    require(maxCandidates >= 1, s"maxCandidates must be >= 1, got $maxCandidates")
    def fallback() = bm25(queryTerms, k, k1, b)
    if (!fs.exists(new Path(blockmaxPath))) return fallback()
    val dls = liveOnly(layout(doclensPath))
    // stats with the exact bm25Scored expression shapes, so the scalar
    // values broadcast into scoring are bit-equal to the plain path's
    val statsRow = dls.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast(DoubleType) / count(lit(1))).as("avgdl")).head()
    val nDocs = statsRow.getLong(0)
    if (nDocs == 0L || statsRow.isNullAt(1)) return fallback()
    val avgdl = statsRow.getDouble(1)
    val dfs = vocab().filter(col("term").isin(queryTerms: _*))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val bounds = layout(blockmaxPath)
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col("term"))
      .agg(max(col("max_tf")).as("max_tf"), min(col("min_dl")).as("min_dl"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def round6(v: Double) =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ubs: Seq[(String, Double)] = queryTerms.map { t =>
      t -> ((dfs.get(t), bounds.get(t)) match {
        case (Some(df), Some((mtf, mdl))) if df > 0L =>
          val idf = math.log(1.0 + (nDocs.toDouble - df + 0.5) / (df + 0.5))
          round6(idf * mtf * (k1 + 1.0) /
            (mtf + k1 * (1.0 - b + b * mdl.toDouble / avgdl))) + 1e-9
        case (Some(df), None) if df > 0L =>
          // live term with no sidecar row: no valid bound — force it
          // essential rather than risk an unsound skip
          Double.MaxValue
        case _ => 0.0 // term absent from the live corpus: contributes 0
      })
    }
    val present = ubs.filter(_._2 > 0)
    if (present.isEmpty) return fallback()
    val tMax = present.maxBy(_._2)._1
    val thetaRows = scoreExact(Seq(tMax), dls, nDocs, avgdl, dfs, None, k1, b)
      .orderBy(col("score").desc, col("doc_id").asc).limit(k)
      .select(col("score")).collect()
    if (thetaRows.length < k) return fallback()
    val theta = thetaRows.last.getDouble(0)
    if (theta <= 0.0) return fallback()
    // longest ub-ascending prefix whose ceiling sum stays under θ − ε
    val nonEssential = {
      val asc = ubs.sortBy(_._2)
      var run = 0.0
      asc.iterator.takeWhile { case (_, u) =>
        run += u; run < theta - 1e-6
      }.map(_._1).toSet - tMax
    }
    if (nonEssential.isEmpty) return fallback()
    val essential = queryTerms.filterNot(nonEssential)
    // file-level skip (X228 — the block half of block-max): a file F of
    // essential term t is provably below θ when partial(max_tf_F,
    // min_dl_F) + Σ_{t'≠t} ub(t') < θ − ε — any doc whose ONLY
    // essential appearances sit in skipped files bounds below θ through
    // the weakest of its files' tests, so dropping it from the
    // candidate read cannot change the top k. Uncovered files (landed
    // after the last buildBlockMax) always read; a covered file with no
    // row for t is provably t-free (files are immutable) and skips.
    val candSrc: DataFrame =
      if (!fs.exists(new Path(blockmaxFilesPath))) termPostings(essential)
      else {
        val ubMap = ubs.toMap
        val ubTotal = ubs.map(_._2).sum
        val restUb = essential.map(t => t -> (ubTotal - ubMap(t))).toMap
        val essBuckets = essential.map(bucketOf(_, readBuckets())).distinct
        // pruned at the file listing to the essential buckets — the
        // sidecar is postings-scale; coverage only needs the files OF
        // those buckets (the only (bucket, fname) keys ever tested)
        val fileSidecar = layout(blockmaxFilesPath)
          .filter(col("tbucket").isin(essBuckets: _*))
        val covered = fileSidecar.select(col("tbucket"), col("fname"))
          .distinct().collect()
          .map(r => (r.getInt(0), r.getString(1))).toSet
        val fileUb = fileSidecar.filter(col("term").isin(essential: _*))
          .groupBy(col("term"), col("tbucket"), col("fname"))
          .agg(max(col("max_tf")).as("mtf"), min(col("min_dl")).as("mdl"))
          .collect().map { r =>
            val df = dfs.getOrElse(r.getString(0), 0L)
            val idf = math.log(1.0 + (nDocs.toDouble - df + 0.5) / (df + 0.5))
            val (mtf, mdl) = (r.getLong(3), r.getLong(4))
            (r.getString(0), r.getString(2)) ->
              (round6(idf * mtf * (k1 + 1.0) /
                (mtf + k1 * (1.0 - b + b * mdl.toDouble / avgdl))) + 1e-9)
          }.toMap
        val bOf = essential.map(t => t -> bucketOf(t, readBuckets())).toMap
        val listing: Map[Int, Seq[String]] = bOf.values.toSeq.distinct.map { bk =>
          val dir = new Path(postingsPath, s"tbucket=$bk")
          bk -> (if (!fs.exists(dir)) Seq.empty[String]
            else fs.listStatus(dir).toSeq
              .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
                !s.getPath.getName.startsWith("."))
              .map(_.getPath.getName))
        }.toMap
        val keep = InvertedIndex.selectBlockFiles(
          essential, bOf, listing, covered, fileUb, restUb, theta)
        val allFiles = listing.iterator
          .flatMap { case (bk, fs0) => fs0.map(f => (bk, f)) }.toSet
        if (keep.size >= allFiles.size) termPostings(essential)
        else if (keep.isEmpty) return fallback()
        else {
          val paths = keep.toSeq.sorted.map { case (bk, f) =>
            new Path(new Path(postingsPath, s"tbucket=$bk"), f).toString }
          liveOnly(layout.files(postingsPath, paths)
            .filter(col("term").isin(essential: _*))
            .select(col("doc_id"), col("pos"), col("term")))
        }
      }
    val candRows = candSrc.select(col("doc_id"))
      .distinct().limit(maxCandidates + 1).collect()
    if (candRows.length > maxCandidates) return fallback()
    if (candRows.isEmpty) return fallback()
    val cands = candRows.map(_.get(0)).toSeq
    scoreExact(queryTerms, dls, nDocs, avgdl, dfs, Some(cands), k1, b)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("dl"), round(col("score"), 6).as("score"))
  }

  /** Exact BM25 scoring over an optional candidate restriction with
    * CORPUS-wide scalar stats (n_docs/avgdl as computed by the plain
    * path, census df) — the shared scorer of [[bm25MaxScore]]'s θ pass
    * and final pass. Emits (doc_id, dl, score) with the score UNROUNDED
    * (the bm25Rank heap discipline: order on the exact sum, round on
    * output). */
  private def scoreExact(terms: Seq[String], dls: DataFrame, nDocs: Long,
      avgdl: Double, dfs: Map[String, Long], cands: Option[Seq[Any]],
      k1: Double, b: Double): DataFrame = {
    val ti = terms.zipWithIndex
    val slice0 = termPostings(terms)
    val slice = cands.fold(slice0)(c => slice0.filter(col("doc_id").isin(c: _*)))
    val tf = slice.groupBy(col("doc_id"))
      .agg(ti.head match { case (t, i) =>
        count(when(col("term") === t, 1)).as(s"tf$i") },
        ti.tail.map { case (t, i) =>
          count(when(col("term") === t, 1)).as(s"tf$i") }: _*)
    val dlsR = cands.fold(dls)(c => dls.filter(col("doc_id").isin(c: _*)))
    val perDoc = dlsR.join(tf, Seq("doc_id"), "left")
      .na.fill(0L, ti.map { case (_, i) => s"tf$i" })
    val partials = ti.map { case (t, i) =>
      val tfc = col(s"tf$i").cast(DoubleType)
      val df = lit(dfs.getOrElse(t, 0L).toDouble)
      val idf = log(lit(1.0) + (lit(nDocs.toDouble) - df + lit(0.5)) / (df + lit(0.5)))
      val norm = tfc + lit(k1) * (lit(1.0) - lit(b) +
        lit(b) * col("dl").cast(DoubleType) / lit(avgdl))
      round(idf * tfc * lit(k1 + 1.0) / norm, 6)
    }
    perDoc.withColumn("score", partials.reduce(_ + _))
      .filter(col("score") > 0)
      .select(col("doc_id"), col("dl"), col("score"))
  }

  private def fieldedPath = s"$path/fielded"
  private def fieldedPostingsPath = s"$fieldedPath/postings"
  private def fieldedDoclensPath = s"$fieldedPath/doclens"

  /** Derived FIELDED sidecar (X225 — the index-served half of X218):
    * per-(term, doc) PER-FIELD term frequencies plus per-doc per-field
    * lengths, so [[bm25fTopK]] serves the BM25F arithmetic
    * (Robertson & Zaragoza CIKM'04) from pruned buckets the way
    * [[bm25]] does — text never read at query time. Fields follow the
    * [[graft.operators.TextAnalysis.bm25fTopK]] convention (`head` =
    * the first `headLen` tokens, `body` = the rest), derived here from
    * the stored POSITIONS alone: `pos < headLen` ⇔ the token sits in
    * the head slice, because [[graft.operators.TextAnalysis.tokens]]
    * never emits interior empty tokens (split of trimmed text on a
    * whitespace run), so postings positions ARE filtered-token indexes.
    *
    * Layout: `fielded/postings` = (doc_id, term, tf_head, tf_body) in
    * the same `tbucket=N` directory partitions as the main postings
    * (term lookups prune at the file listing), `fielded/doclens` =
    * (doc_id, dlh, dlb), `fielded/meta` = the one-row headLen record.
    * A DERIVED artifact (the [[buildForward]] rule): built from the
    * LIVE postings, rebuilt on the maintenance cadence after
    * append/vacuum — reads additionally mask tombstones, so a delete
    * takes effect immediately; an APPEND is invisible until rebuild
    * (documented). [[build]] deletes the sidecar — a fresh corpus would
    * otherwise serve the OLD corpus's fielded rows. */
  def buildFielded(headLen: Int): Unit = layout.call {
    buildFieldedFrom(headLen, None)
  }

  /** [[buildFielded]] over an optional shared live-postings scan —
    * [[rebuildDerived]]'s one-scan path. */
  private def buildFieldedFrom(headLen: Int,
      shared: Option[DataFrame]): Unit = {
    require(headLen >= 1, s"headLen must be positive, got $headLen")
    import spark.implicits._
    val b = readBuckets()
    val own = shared.isEmpty
    val live = shared.getOrElse(
      liveOnly(layout(postingsPath))
        .localCheckpoint(true)) // two consumers: fielded postings + doclens
    layout.commit { batch =>
      try batch.stage("fielded") { dir =>
        live.groupBy(col("doc_id"), col("term"))
          .agg(count(when(col("pos") < headLen, 1)).as("tf_head"),
            count(when(col("pos") >= headLen, 1)).as("tf_body"))
          .withColumn("tbucket", bucketCol(col("term"), b))
          .write.partitionBy("tbucket").parquet(s"$dir/postings")
        live.groupBy(col("doc_id"))
          .agg(count(when(col("pos") < headLen, 1)).cast(LongType).as("dlh"),
            count(when(col("pos") >= headLen, 1)).cast(LongType).as("dlb"))
          .write.parquet(s"$dir/doclens")
        // head_len meta: a plain text file written driver-side (the
        // derived-meta rule — one integer of bookkeeping is not worth a
        // Spark write job + a listing/head job pair per read); readers
        // fall back to the pre-r22 one-row parquet form
        val out = fs.create(new Path(dir, "meta/head_len.txt"), true)
        try out.write(headLen.toString.getBytes("UTF-8")) finally out.close()
      } finally if (own) graft.util.Pins.release(live)
      stageDerivedMeta(batch, "fielded", None)
      // the rebuild covers the pending batches — and a headLen CHANGE
      // makes deltas cut at the old boundary wrong, never just redundant
      batch.drop("fielded_delta")
    }
  }

  /** The headLen the fielded sidecar was built with — memoized per
    * instance (only [[buildFielded]] rewrites it); text fast path,
    * parquet fallback for pre-r22 layouts. */
  private val fieldedHeadMemo = layout.memo[Int]("fielded/meta")
  def fieldedHeadLen: Int = layout.call {
    fieldedHeadMemo {
      val txt = new Path(s"$fieldedPath/meta", "head_len.txt")
      if (fs.exists(txt)) {
        val in = fs.open(txt)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
        finally in.close()
      } else layout(s"$fieldedPath/meta").head().getInt(0)
    }
  }

  /** BM25F top-k served from the [[buildFielded]] sidecar (X225): the
    * [[graft.operators.TextAnalysis.bm25fTopK]] arithmetic with
    * per-field tf from the PRUNED fielded buckets and per-field
    * doclens from the sidecar — the ranking half
    * ([[graft.operators.TextAnalysis.bm25fRank]]) is SHARED with the
    * tokenize path, so the two surfaces are bit-identical by
    * construction (suite-pinned; q268 gates on q259's oracle
    * verbatim). Per-query I/O = the query terms' fielded buckets + the
    * fielded doclens table; text never read. */
  def bm25fTopK(queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, wHead: Double = 2.0, wBody: Double = 1.0,
      bHead: Double = 0.75, bBody: Double = 0.75): DataFrame = layout.call {
    require(queryTerms.nonEmpty, "no query terms")
    require(queryTerms.distinct.size == queryTerms.size,
      s"duplicate term in $queryTerms")
    require(k > 0, s"k must be positive, got $k")
    require(fs.exists(new Path(fieldedPostingsPath)),
      s"no fielded sidecar under $path — run buildFielded first")
    val b = readBuckets()
    val terms = queryTerms.zipWithIndex
    val bs = queryTerms.map(bucketOf(_, b)).distinct.sorted
    val slice = liveOnly(layout(fieldedPostingsPath)
      .filter(col("tbucket").isin(bs: _*))
      .filter(col("term").isin(queryTerms: _*))
      .select(col("doc_id"), col("term"), col("tf_head"), col("tf_body")))
    val aggCols = terms.flatMap { case (t, i) => Seq(
      sum(when(col("term") === t, col("tf_head"))).as(s"tfh$i"),
      sum(when(col("term") === t, col("tf_body"))).as(s"tfb$i")) }
    val tf = slice.groupBy(col("doc_id")).agg(aggCols.head, aggCols.tail: _*)
    val perDoc = liveOnly(layout(fieldedDoclensPath))
      .join(tf, Seq("doc_id"), "left")
      .na.fill(0L, terms.flatMap { case (_, i) => Seq(s"tfh$i", s"tfb$i") })
    TextAnalysis.bm25fRank(perDoc, queryTerms.size, k,
      k1, wHead, wBody, bHead, bBody)
  }

  /** SINGLE-FIELD BM25 ranking from the fielded sidecar (X252's legs —
    * the per-field scorer `multi_match best_fields` dis_maxes): the
    * full rounded ranking of `queryTerms` against ONE derived field
    * (`"head"` or `"body"`), with that field's OWN statistics — N =
    * docs whose field is non-empty, avgdl over that field's lengths,
    * df = docs containing the term IN the field (ES per-field field
    * statistics) — served match-only from the pruned fielded buckets,
    * the [[bm25Ranked]] shape (every matching doc, unordered,
    * round-6). Pure composition surface: feed the legs to
    * [[graft.operators.SearchEngine.disMax]]. */
  def bm25FieldRanked(field: String, queryTerms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = layout.call {
    require(field == "head" || field == "body",
      s"field must be head|body, got $field")
    require(queryTerms.nonEmpty, "no query terms")
    require(queryTerms.distinct.size == queryTerms.size,
      s"duplicate term in $queryTerms")
    require(fs.exists(new Path(fieldedPostingsPath)),
      s"no fielded sidecar under $path — run buildFielded first")
    val (tfCol, dlCol) =
      if (field == "head") ("tf_head", "dlh") else ("tf_body", "dlb")
    val bkts = readBuckets()
    val bs = queryTerms.map(bucketOf(_, bkts)).distinct.sorted
    val terms = queryTerms.zipWithIndex
    val slice = liveOnly(layout(fieldedPostingsPath)
      .filter(col("tbucket").isin(bs: _*))
      .filter(col("term").isin(queryTerms: _*))
      .filter(col(tfCol) > 0)
      .select(col("doc_id"), col("term"), col(tfCol).as("__tf")))
    val tf = slice.groupBy(col("doc_id"))
      .agg(terms.head match { case (t, i) =>
        sum(when(col("term") === t, col("__tf"))).as(s"tf$i") },
        terms.tail.map { case (t, i) =>
          sum(when(col("term") === t, col("__tf"))).as(s"tf$i") }: _*)
    val dls = liveOnly(layout(fieldedDoclensPath))
      .filter(col(dlCol) > 0)
      .select(col("doc_id"), col(dlCol).as("dl"))
    val perDoc = dls.join(tf, Seq("doc_id"))
      .na.fill(0L, terms.map { case (_, i) => s"tf$i" })
    val stats = dls.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast(DoubleType) / count(lit(1))).as("avgdl"))
    TextAnalysis.bm25Scored(perDoc, queryTerms.size, k1, b,
      corpusStats = Some(stats))
      .select(col("doc_id"), col("dl"), round(col("score"), 6).as("score"))
  }

  private def forwardPath = s"$path/forward"

  /** Derived FORWARD sidecar (X206): the postings re-keyed doc-major —
    * (doc_id, term, tf) in `dbucket=N` directory partitions hashed on
    * the doc id — so DOC-side operations (fetch one document's term
    * vector for more-like-this / relevance feedback) become pruned I/O,
    * exactly as the term-major layout makes TERM lookups pruned. The
    * term-bucketed postings cannot serve "all terms of doc X" without
    * scanning every bucket; this is the standard forward-index
    * complement (Lucene's term vectors). Built FROM the live postings
    * (tombstones resolved on the way in) with the stored bucket count;
    * a DERIVED artifact like [[prunedCopy]] — rebuild on the
    * maintenance cadence after append/vacuum, not mutated in place. */
  def buildForward(): Unit = layout.call(buildForwardFrom(None, None))

  /** [[buildForward]] over an optional shared live-postings scan and
    * shared (doc, term) tf aggregate — [[rebuildDerived]]'s one-scan
    * path. */
  private def buildForwardFrom(shared: Option[DataFrame],
      tfShared: Option[DataFrame]): Unit = {
    val b = readBuckets()
    layout.commit { batch =>
      batch.stageRows("forward", Some("dbucket"), tfShared.getOrElse(
          shared.getOrElse(liveOnly(layout(postingsPath)))
            .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")))
        .withColumn("dbucket", bucketCol(col("doc_id").cast(StringType), b)))
      stageDerivedMeta(batch, "forward", None)
      // a full rebuild covers every appended doc — a pending delta kept
      // around would double-apply on the next maintenance pass
      batch.drop("forward_delta")
    }
  }

  /** The (doc_id, term, tf) term vectors of exactly `docIds`, read from
    * their pruned `dbucket` directories only ([[buildForward]] must
    * have run). */
  def docTerms(docIds: Seq[Long]): DataFrame = layout.call {
    require(docIds.nonEmpty, "need at least one doc id")
    val b = readBuckets()
    val bs = docIds.map(id => bucketOf(id.toString, b)).distinct.sorted
    layout(forwardPath)
      .filter(col("dbucket").isin(bs: _*))
      .filter(col("doc_id").isin(docIds: _*))
      .select(col("doc_id"), col("term"), col("tf"))
  }

  /** More-like-this (X206; the Lucene MLT query shape): rank documents
    * similar to `docId` by BM25 over the seed document's `topTerms`
    * most DISTINCTIVE terms — selected by round-6 tf·idf (idf the bm25
    * formula, df from the census, N from the live doclens; ties break
    * term-ascending), the seed doc itself excluded from the ranking via
    * the scored-row gate (stats stay corpus-wide, the X184 discipline).
    * I/O: one pruned forward read (the seed's dbucket), one
    * vocabulary-sized census lookup, then a standard [[bm25]] serve
    * over the selected terms' pruned buckets — the whole
    * related-documents surface costs a point lookup plus one ranked
    * query, text never read. */
  def moreLikeThis(docId: Long, k: Int, topTerms: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    moreLikeThese(Seq(docId), k, topTerms, k1, b)

  /** Multi-seed more-like-this (X244 — the ES `more_like_this` with a
    * `like` LIST: "find documents like THESE", the related-content
    * rail seeded by a whole reading session / result cluster instead
    * of one doc): the seed docs' forward term vectors SUM into one
    * aggregate vector (the ES behavior — the query is built from the
    * union of the like-texts), the `topTerms` most distinctive terms
    * select by round-6 Σtf·idf exactly as the single-seed X206 path
    * (which is the singleton case of this — the two share this code),
    * and every seed is excluded from the ranking via the scored-row
    * gate. I/O: one pruned forward fetch of |seeds| dbuckets, one
    * census lookup, one pruned [[bm25]]-class serve. */
  def moreLikeThese(docIds: Seq[Long], k: Int, topTerms: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(docIds.nonEmpty, "need at least one seed doc id")
    require(docIds.distinct.size == docIds.size,
      s"duplicate seed id in $docIds")
    require(k > 0, s"k must be positive, got $k")
    require(topTerms >= 1, s"topTerms must be >= 1, got $topTerms")
    val n = liveDocCount()
    val seed = docTerms(docIds)
      .groupBy(col("term")).agg(sum(col("tf")).cast(LongType).as("tf"))
      .join(vocab().withColumnRenamed("df", "__df"), Seq("term"), "left")
      .na.fill(0L, Seq("__df"))
    val idf = log(lit(1.0) +
      (lit(n.toDouble) - col("__df").cast(DoubleType) + lit(0.5)) /
        (col("__df").cast(DoubleType) + lit(0.5)))
    val terms = seed
      .withColumn("__w", round(col("tf").cast(DoubleType) * idf, 6))
      .orderBy(col("__w").desc, col("term").asc)
      .limit(topTerms)
      .select(col("term")).collect().map(_.getString(0)).toSeq
    if (terms.isEmpty) return emptyBm25Frame()
    val (perDoc, _, stats) = bm25PerDoc(terms, msm = 1)
    TextAnalysis.bm25Rank(perDoc, terms.size, k, k1, b,
      gate = !col("doc_id").isin(docIds: _*), corpusStats = Some(stats))
  }

  /** Score explanation (X232 — the Elasticsearch `_explain` API
    * surface): the per-term BM25 breakdown of ONE document under a
    * query — (term, tf, dl, df, idf, partial) rows in query-term
    * order, with `partial` exactly the round-6 per-term partial the
    * [[bm25]] serve sums (same arithmetic, same stats expressions), so
    * Σ partial reproduces the doc's q214-class score bit-for-bit —
    * the relevance-debugging surface ("why does this doc rank here").
    * One pruned bucket read + the doclens stats pass (the bm25 plan),
    * the breakdown a single-row `stack` unpivot — no per-term jobs.
    * A doc outside the corpus — or matching NONE of the query terms
    * (the match-only contract; such a doc scores 0 and never ranks) —
    * explains to zero rows. */
  def explain(queryTerms: Seq[String], docId: Long,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val (perDoc, _, corpusStats) = bm25PerDoc(queryTerms, msm = 1)
    val terms = queryTerms.zipWithIndex
    val stats = perDoc.agg(
        terms.head match { case (_, i) =>
          count(when(col(s"tf$i") > 0, 1)).as(s"df$i") },
        terms.tail.map { case (_, i) =>
          count(when(col(s"tf$i") > 0, 1)).as(s"df$i") }: _*)
      .crossJoin(corpusStats)
    val row = perDoc.filter(col("doc_id") === docId)
      .crossJoin(broadcast(stats))
    val enriched = row.select(
      col("dl") +:
        (terms.map { case (_, i) => col(s"tf$i") } ++
         terms.map { case (_, i) => col(s"df$i") } ++
         terms.flatMap { case (_, i) =>
           val tf = col(s"tf$i").cast(DoubleType)
           val df = col(s"df$i").cast(DoubleType)
           val idf = log(lit(1.0) +
             (col("n_docs").cast(DoubleType) - df + lit(0.5)) / (df + lit(0.5)))
           val norm = tf + lit(k1) * (lit(1.0) - lit(b) +
             lit(b) * col("dl").cast(DoubleType) / col("avgdl"))
           Seq(round(idf, 6).as(s"idf$i"),
             round(idf * tf * lit(k1 + 1.0) / norm, 6).as(s"p$i"))
         }): _*)
    val stackSql = s"stack(${terms.size}, " + terms.map { case (t, i) =>
      s"'${t.replace("'", "''")}', tf$i, df$i, idf$i, p$i"
    }.mkString(", ") + ") AS (term, tf, df, idf, partial)"
    enriched.select(expr(stackSql), col("dl"))
      .select(col("term"), col("tf"), col("dl"), col("df"),
        col("idf"), col("partial"))
  }

  /** Significant terms served from the layouts (X227 — the X223 JLH
    * aggregation with the corpus text never tokenized at query time):
    * "what is different about THESE docs" for a bounded foreground id
    * set (a query's hits, the [[moreLikeThis]]/[[expandedBm25]] seed
    * shape). df_fg comes from the foreground docs' term vectors in the
    * PRUNED forward sidecar ([[buildForward]] required — an fgIds-sized
    * dbucket read); df_bg from the census sidecar ([[vocab]], a
    * vocabulary-sized read); n_fg/n_bg from the live doclens. Only
    * terms occurring in the foreground can score (df_fg ≥ minDf ≥ 1),
    * so the census join is the complete candidate set by construction.
    *
    * Arithmetic is [[graft.operators.TextAnalysis.significantTerms]]'s
    * JLH exactly — (fg% − bg%)·(fg%/bg%) over document frequencies,
    * superset background, round-6, top-n by (score desc, term asc) —
    * with one corpus-definition difference stated honestly: n_bg here
    * counts docs with ≥ 1 token (the doclens membership), while the
    * tokenize path counts every input row including token-less docs;
    * on a corpus without empty documents the two are bit-identical
    * (suite-pinned). Tombstones mask every leg (foreground vectors,
    * census, doclens), so a delete takes effect immediately. */
  def significantTerms(fgIds: Seq[Long], n: Int, minDf: Long = 1L): DataFrame = layout.call {
    require(fgIds.nonEmpty, "need at least one foreground doc id")
    require(n > 0, s"n must be positive, got $n")
    require(minDf >= 1, s"minDf must be >= 1, got $minDf")
    require(fs.exists(new Path(forwardPath)),
      s"no forward sidecar under $path — run buildForward first")
    // ONE aggregate job for both corpus-side counts (was two identical
    // scans of the live doclens); the background count seeds the
    // instance's live-count cache for any later serve in the same walk
    var nFg = 0L
    val nBg = liveCountMemo.refresh {
      val cts = liveOnly(layout(doclensPath)).agg(count(lit(1)).as("__bg"),
        count(when(col("doc_id").isin(fgIds: _*), lit(1))).as("__fg")).head()
      nFg = cts.getLong(1)
      cts.getLong(0)
    }
    val empty = layout(doclensPath).limit(0)
      .select(col("doc_id").cast(StringType).as("term"),
        lit(0L).as("df_fg"), lit(0L).as("df_bg"), lit(0.0).as("score"))
      .limit(0)
    if (nFg == 0L || nBg == 0L) return empty
    val fgTerms = liveOnly(docTerms(fgIds))
      .groupBy(col("term")).agg(count(lit(1)).as("df_fg"))
    val joined = fgTerms
      .join(vocab().withColumnRenamed("df", "df_bg"), Seq("term"))
    val fgPct = col("df_fg").cast(DoubleType) / lit(nFg.toDouble)
    val bgPct = col("df_bg").cast(DoubleType) / lit(nBg.toDouble)
    joined
      .filter(col("df_fg") >= minDf)
      .withColumn("__score", (fgPct - bgPct) * (fgPct / bgPct))
      .filter(col("__score") > 0)
      // ordered by the ROUNDED score the oracle's ORDER BY binds to —
      // an unrounded order could pick different terms at a rounded
      // tie on the limit-n boundary (same rule in significantText)
      .orderBy(round(col("__score"), 6).desc, col("term").asc)
      .limit(n)
      .select(col("term"), col("df_fg"), col("df_bg"),
        round(col("__score"), 6).as("score"))
  }

  /** Significant-text aggregation (X270 — the ES `significant_text`
    * agg: [[significantTerms]]'s JLH with the FOREGROUND side
    * RE-TOKENIZED from the hit documents' raw text instead of read
    * from the forward sidecar — ES built it for indices whose source
    * text isn't indexed with the stats the agg needs, and it is also
    * the variant that works for hits carrying fresher text than the
    * stored postings). Background document frequencies and the corpus
    * size still come from the census sidecar + live doclens — one
    * vocabulary-sized read, postings never opened.
    *
    * `hits` is the foreground frame (the query's hit docs with their
    * text); duplicate ids collapse before counting so a doc can't
    * vote twice. Terms the census has never seen are dropped (a hit's
    * text IS corpus text, so under the same tokenizer they exist in
    * the census; anything else is tokenizer drift, not signal — and a
    * bg-df-0 term has no defined lift). JLH/minDf/ordering are
    * [[significantTerms]]' exactly. Scale shape: one doc-keyed
    * distinct over the re-tokenized (doc, term) pairs — hit-mass, not
    * corpus-mass — one term aggregate, one vocabulary join, a top-n
    * heap. Output (term, df_fg, df_bg, score). */
  def significantText(hits: DataFrame, idCol: String, text: Column,
      n: Int, minDf: Long = 1L): DataFrame = layout.call {
    require(n > 0, s"n must be positive, got $n")
    require(minDf >= 1, s"minDf must be >= 1, got $minDf")
    val nBg = liveDocCount()
    val empty = layout(doclensPath).limit(0)
      .select(col("doc_id").cast(StringType).as("term"),
        lit(0L).as("df_fg"), lit(0L).as("df_bg"), lit(0.0).as("score"))
    // pinned: the deduped foreground has two consumers (the nFg count
    // and the re-tokenize aggregate), and the caller's hits frame is
    // often itself a served ranking — unpinned, both would re-run that
    // whole upstream serve. The returned frame is BACKED by the pin
    // (the [[graft.util.Pins]] caller-release contract, as
    // [[graft.sources.QueryStore.percolateScored]]); the degenerate
    // early return releases it here, nothing having derived from it.
    val deduped = hits.dropDuplicates(idCol).localCheckpoint(true)
    // anything that throws between the pin and the return (vocab()
    // read, census drift) would otherwise strand the pin until the
    // global sweep — same try/release-on-failure discipline as the
    // sidecar builders; the success path keeps the documented
    // caller-release contract
    try {
      val nFg = deduped.count()
      if (nFg == 0L || nBg == 0L) {
        graft.util.Pins.release(deduped)
        return empty
      }
      val fgTerms = deduped
        .select(col(idCol).as("__doc"),
          explode_outer(TextAnalysis.tokens(text)).as("term"))
        .filter(col("term").isNotNull && col("term") =!= "")
        .dropDuplicates("__doc", "term")
        .groupBy(col("term")).agg(count(lit(1)).as("df_fg"))
      val joined = fgTerms
        .join(vocab().withColumnRenamed("df", "df_bg"), Seq("term"))
      val fgPct = col("df_fg").cast(DoubleType) / lit(nFg.toDouble)
      val bgPct = col("df_bg").cast(DoubleType) / lit(nBg.toDouble)
      // order by the ROUNDED score: the emitted column is round(.,6)
      // and the oracle's ORDER BY binds to that alias, so engine and
      // oracle must share one total order at rounded-tie boundaries
      joined
        .filter(col("df_fg") >= minDf)
        .withColumn("__score", (fgPct - bgPct) * (fgPct / bgPct))
        .filter(col("__score") > 0)
        .orderBy(round(col("__score"), 6).desc, col("term").asc)
        .limit(n)
        .select(col("term"), col("df_fg"), col("df_bg"),
          round(col("__score"), 6).as("score"))
    } catch {
      case t: Throwable => graft.util.Pins.release(deduped); throw t
    }
  }

  /** Phrase search with selectivity-ordered planning (X209 — the
    * classic rarest-term-first heuristic
    * [[TextAnalysis.phraseMatch]]'s scaladoc defers to the caller,
    * now decided by the ENGINE from the census): the adjacency
    * intersection {(doc, p) : term_i at p + i ∀ i} is order-free, so
    * the join chain may start anywhere — this surface anchors at the
    * phrase's LOWEST-df term (census lookup, ties by phrase position)
    * and joins outward, so every intermediate is bounded by the
    * RAREST term's postings instead of the first word's (for a phrase
    * starting with a stop-class word, orders of magnitude smaller).
    * Results are bit-identical to [[TextAnalysis.phraseMatch]] over
    * the same slice (suite-pinned; q253 reuses q213's oracle
    * verbatim) — this is pure plan choice, the census costs one
    * vocabulary-sized read, and a phrase containing a corpus-absent
    * term short-circuits through its empty anchor. */
  def phraseSearch(phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    require(phrase.forall(_.nonEmpty), s"phrase contains an empty term: $phrase")
    val dfs = vocab().filter(col("term").isin(phrase.distinct: _*))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val slots = phrase.zipWithIndex
    val order = slots.sortBy { case (t, i) => (dfs.getOrElse(t, 0L), i) }
    val slice = termPostings(phrase.distinct)
    def normalized(t: String, i: Int) =
      slice.filter(col("term") === t)
        .select(col("doc_id"), (col("pos") - i).as("pos"))
    val (at, ai) = order.head
    val matched = order.tail.foldLeft(normalized(at, ai)) {
      case (acc, (t, i)) => acc.join(normalized(t, i), Seq("doc_id", "pos"))
    }
    matched.groupBy(col("doc_id")).agg(count(lit(1)).as("n_matches"))
  }

  /** Match-phrase-prefix (X240 — the Elasticsearch
    * `match_phrase_prefix` query, THE search-box query: "the user has
    * typed `sort mer` and expects `sort merge` matches before
    * finishing the word"): the fixed `phrase` slots must sit adjacent,
    * and the FINAL slot matches any term starting with `prefix`. The
    * prefix expands against the census restricted to its first
    * character's `tprefix=` partition (X226 — pruned at the file
    * listing), capped at `maxExpansions` by (df desc, term asc) —
    * Lucene's expansion bound. An empty `phrase` degrades to a pure
    * prefix membership count (the single-token search-box state).
    *
    * Plan shape: one pruned census read for the expansion (bounded
    * collect), one pruned bucket read of phrase ∪ expansion, the
    * X74-style adjacency equi-joins anchored at the EXPANSION slot
    * (bounded by the expanded terms' postings, usually the selective
    * side); emits (doc_id, n_matches) — matches counted at distinct
    * anchor positions. */
  def phrasePrefixSearch(phrase: Seq[String], prefix: String,
      maxExpansions: Int = 50): DataFrame = {
    require(phrase.forall(_.nonEmpty), s"empty term in $phrase")
    require(prefix.nonEmpty, "empty prefix")
    require(maxExpansions >= 1 && maxExpansions <= 1024,
      s"maxExpansions must be in [1, 1024], got $maxExpansions")
    val expanded = vocabForPrefixes(Seq(prefix))
      .filter(col("term").startsWith(prefix))
      .orderBy(col("df").desc, col("term").asc)
      .limit(maxExpansions)
      .select(col("term")).collect().map(_.getString(0)).toSeq
    val emptyOut = layout(doclensPath).limit(0)
      .select(col("doc_id"), lit(0L).as("n_matches"))
    if (expanded.isEmpty) return emptyOut
    val slice = termPostings((phrase ++ expanded).distinct)
    // anchor = the position of the FIRST phrase slot; the expansion
    // slot sits at offset |phrase|
    val last = slice.filter(col("term").isin(expanded: _*))
      .select(col("doc_id"), (col("pos") - phrase.size).as("pos"))
    val matched = phrase.zipWithIndex.foldLeft(last) { case (acc, (t, i)) =>
      acc.join(slice.filter(col("term") === t)
        .select(col("doc_id"), (col("pos") - i).as("pos")),
        Seq("doc_id", "pos"))
    }
    matched.filter(col("pos") >= 0)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_matches"))
  }

  /** Pseudo-relevance feedback expansion (X207; the Rocchio/RM3 family
    * — Lavrenko & Croft SIGIR '01 made it the standard second pass):
    * run the query, harvest the top `fbDocs` hits' term vectors from
    * the pruned forward sidecar ([[buildForward]] required), pick the
    * `fbTerms` most distinctive NEW terms (round-6 feedback-tf · idf,
    * census df, original query terms excluded, ties term-ascending),
    * and re-rank with the EXPANDED term set — the classic recall
    * rescue for short queries, served entirely from the layouts: the
    * first pass is a standard pruned [[bm25]], the harvest is an
    * fbDocs-sized pruned forward fetch, the expansion pick one
    * vocabulary-sized census join, the second pass another pruned
    * [[bm25]]; text never read, every driver-side collect bounded by
    * fbDocs/fbTerms (the scalar-anchor class). */
  def expandedBm25(queryTerms: Seq[String], k: Int,
      fbDocs: Int = 5, fbTerms: Int = 5,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(fbDocs >= 1, s"fbDocs must be >= 1, got $fbDocs")
    require(fbTerms >= 0, s"fbTerms must be >= 0, got $fbTerms")
    val seedIds = bm25(queryTerms, fbDocs, k1, b)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    if (seedIds.isEmpty || fbTerms == 0)
      return bm25(queryTerms, k, k1, b)
    val expansion = expansionTerms(queryTerms, seedIds, fbTerms)
    bm25(queryTerms ++ expansion, k, k1, b)
  }

  /** The `fbTerms` most distinctive terms of the feedback docs (round-6
    * Σtf·idf, query terms excluded, term-asc ties) — [[expandedBm25]]'s
    * selection step, shared with [[bm25AndExpanded]]. */
  private def expansionTerms(queryTerms: Seq[String], seedIds: Seq[Long],
      fbTerms: Int): Seq[String] = {
    val n = liveDocCount()
    val idf = log(lit(1.0) +
      (lit(n.toDouble) - col("__df").cast(DoubleType) + lit(0.5)) /
        (col("__df").cast(DoubleType) + lit(0.5)))
    docTerms(seedIds)
      .groupBy(col("term")).agg(sum(col("tf")).cast(LongType).as("__ftf"))
      .filter(!col("term").isin(queryTerms: _*))
      .join(vocab().withColumnRenamed("df", "__df"), Seq("term"), "left")
      .na.fill(0L, Seq("__df"))
      .withColumn("__w", round(col("__ftf").cast(DoubleType) * idf, 6))
      .orderBy(col("__w").desc, col("term").asc)
      .limit(fbTerms)
      .select(col("term")).collect().map(_.getString(0)).toSeq
  }

  /** The SERP pair — the plain msm-gated top-k AND the PRF-expanded
    * top-k over the SAME query terms, sharing ONE per-doc tf frame
    * (postings read + tf pivot + doclens join; standalone, [[bm25]] and
    * [[expandedBm25]]'s seed pass each re-ran that front half — r22).
    * The seed ranking is [[expandedBm25]]'s exactly (msm = 1 ⇒ gate
    * true over the same perDoc), so both returned frames are
    * bit-identical to the standalone pair (suite-pinned). Third element
    * is the shared pin — the caller releases it after both consumers
    * materialize ([[graft.util.Pins]] contract). */
  def bm25AndExpanded(queryTerms: Seq[String], k: Int, msm: Int,
      fbDocs: Int, fbTerms: Int, k1: Double = 1.2, b: Double = 0.75)
      : (DataFrame, DataFrame, DataFrame) = {
    require(k > 0, s"k must be positive, got $k")
    require(fbDocs >= 1, s"fbDocs must be >= 1, got $fbDocs")
    require(fbTerms >= 0, s"fbTerms must be >= 0, got $fbTerms")
    require(queryTerms.nonEmpty, "no query terms")
    require(queryTerms.distinct.size == queryTerms.size,
      s"duplicate term in $queryTerms")
    require(msm >= 1 && msm <= queryTerms.size,
      s"msm must be in [1, ${queryTerms.size}], got $msm")
    val (perDoc0, gate, stats) = bm25PerDoc(queryTerms, msm)
    val perDoc = perDoc0.localCheckpoint(false)
    val bmLeg = TextAnalysis.bm25Rank(perDoc, queryTerms.size, k, k1, b,
      gate, Some(stats))
    val seedIds = TextAnalysis.bm25Rank(perDoc, queryTerms.size, fbDocs,
        k1, b, lit(true), Some(stats))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    val prfLeg =
      if (seedIds.isEmpty || fbTerms == 0)
        TextAnalysis.bm25Rank(perDoc, queryTerms.size, k, k1, b,
          lit(true), Some(stats))
      else bm25(queryTerms ++ expansionTerms(queryTerms, seedIds, fbTerms),
        k, k1, b)
    (bmLeg, prfLeg, perDoc)
  }

  /** Consistent on-disk snapshot of the whole index (X248 — the ES
    * snapshot/restore ops surface; [[LayoutFs.Live.snapshot]]), after
    * recovery, which rolls a committed batch forward; the snapshot
    * then discards an uncommitted one. Pending tombstones and
    * sidecar deltas travel with the copy, so it answers exactly like
    * the source at snapshot time; a later vacuum on either side leaves
    * the other untouched. Open it with `new InvertedIndex(spark,
    * target)`. */
  def snapshot(targetPath: String): Unit = layout.snapshot(targetPath)

  /** The postings of exactly `terms`, read from their pruned bucket
    * directories only — schema-identical to an in-memory
    * [[TextAnalysis.positionalPostings]] slice, so phrase/proximity
    * operators compose unchanged. */
  def termPostings(terms: Seq[String]): DataFrame = termSlice(terms)._1

  /** [[termPostings]] and the tombstone mask it applied ([[liveMask]]),
    * for a caller that masks more frames of the same call. */
  private def termSlice(terms: Seq[String]): (DataFrame, DataFrame => DataFrame) = layout.call {
    require(terms.nonEmpty, "need at least one term")
    require(terms.forall(_.nonEmpty), s"empty term in $terms")
    val b = readBuckets()
    val bs = terms.map(bucketOf(_, b)).distinct.sorted
    val live = liveMask()
    (live(layout(postingsPath)
      .filter(col("tbucket").isin(bs: _*))
      .filter(col("term").isin(terms: _*))
      .select(col("doc_id"), col("pos"), col("term"))), live)
  }
}

object InvertedIndex {

  /** Runtime conf key for the tombstone-mask broadcast gate: the
    * maximum ON-DISK bytes of a layout's tombstone table for which the
    * read-side anti-join still carries a `broadcast` hint. Past it the
    * hint is dropped (AQE picks the strategy) and the V2 SQL surface
    * refuses to collect the set — see the vacuum-cadence contract on
    * [[InvertedIndex.delete]]. */
  /** The X228 file-selection rule, factored pure for unit testing:
    * which (tbucket, fname) files of the essential terms' buckets the
    * candidate read must open. Per essential term t and file F of t's
    * bucket — UNCOVERED F (no sidecar row at all: landed after the
    * last buildBlockMax) always reads; covered F with no (t, F) bound
    * is provably t-free (immutable files) and skips for t; covered F
    * with a bound reads iff `ub_F(t) + Σ_{t'≠t} ub(t') ≥ θ − ε` — the
    * Ding & Suel block skip, sound through the weakest-file argument
    * on [[InvertedIndex.bm25MaxScore]]. */
  private[sources] def selectBlockFiles(
      essential: Seq[String],
      bucketOfTerm: Map[String, Int],
      filesInBucket: Map[Int, Seq[String]],
      covered: Set[(Int, String)],
      fileUb: Map[(String, String), Double],
      restUb: Map[String, Double],
      theta: Double): Set[(Int, String)] = {
    val keep = scala.collection.mutable.LinkedHashSet.empty[(Int, String)]
    for (t <- essential; bk = bucketOfTerm(t);
        f <- filesInBucket.getOrElse(bk, Nil)) {
      val key = (bk, f)
      if (!covered(key)) keep += key
      else fileUb.get((t, f)).foreach { ub =>
        if (ub + restUb(t) >= theta - 1e-6) keep += key
      }
    }
    keep.toSet
  }

  /** Census `tprefix=` partition count (X226): md5 buckets of the
    * term's first character. 64 bounds the directory fan-out on a
    * CJK-heavy vocabulary (every distinct first character would
    * otherwise be its own directory) while a single-prefix lookup
    * still reads ≈ 1/64 of the census. */
  val CensusPrefixBuckets = 64

  val MaskBroadcastKey = "graft.mask.broadcast.maxBytes"

  /** Default gate: 32 MiB of parquet ≈ tens of millions of ids —
    * comfortably inside executor broadcast budgets, far above any
    * between-vacuums tombstone mass the maintenance policy tolerates. */
  val MaskBroadcastDefaultBytes: Long = 32L * 1024 * 1024

  private[graft] def maskBroadcastBytes(spark: SparkSession): Long =
    spark.conf.getOption(MaskBroadcastKey).map(_.toLong)
      .getOrElse(MaskBroadcastDefaultBytes)
}
