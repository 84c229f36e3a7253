package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Ann, Pq}

/** Persisted IVF index (X112): the inverted lists materialized as
  * `ivf_list=N` parquet DIRECTORY partitions, centroids stored beside
  * them — so an nprobe search is partition-PRUNED I/O, not an in-memory
  * filter. (IVF/IVFADC: Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011; the engineered layout popularized by
  * FAISS — Johnson et al., arXiv:1702.08734.) [[graft.operators.Ann.ivfTopK]] proves the algorithm but
  * still SCANS the whole corpus and discards (k-nprobe)/k of it after
  * decode; at 100 TB the scan is the cost, and the only way to not pay
  * it is for the probe predicate to reach the file listing. Here
  * `search` filters on the partition column, so Catalyst turns the
  * probe set into `PartitionFilters` and the scan never opens a
  * non-probed list directory — I/O ≈ nprobe/k of the corpus
  * (plan-audited).
  *
  * Layout: `<path>/lists/ivf_list=N/...` carries (id, vector) per list;
  * `<path>/centroids` carries (cid, centroid) — k rows, read to the
  * driver at search time (the bounded-scalar-anchor class: centroid
  * scoring is k dot products, never a distributed job). Beside each
  * data layout sits an ASSIGNMENT SIDECAR (`<path>/assign` for the raw
  * lists, `<path>/assign_pq` for the PQ codes): (id, ivf_list) rows
  * partitioned by `abucket = pmod(hash(id), B)` — the id→list map the
  * builder already knows, persisted so [[delete]]/[[deletePq]] discover
  * touched lists by reading ONLY the deletion set's hash buckets, never
  * the index itself. B is fixed at build time and recorded in a one-row
  * meta parquet; a corpus-scale index keeps discovery I/O ∝ the
  * deletion set (buckets hit), not ∝ the index.
  *
  * The assignment rule is [[graft.operators.Ann.ivfAssign]] (argmax
  * dot, lowest centroid id on ties) and search scoring is
  * [[graft.operators.Ann.bruteForceTopK]] over the probed lists —
  * bit-identical to the unpersisted path (suite-pinned), so the index
  * is a pure I/O optimization, not a semantics change. Rebuild after
  * re-training centroids; like any IVF, a stale index degrades recall,
  * not correctness of the "within probed lists" contract.
  *
  * Every mutation — build, append, delete, compaction, split, merge —
  * commits its data, sidecar and centroid changes as ONE
  * [[LayoutFs.Batch]] on the index root, so a crash leaves the whole
  * index old or whole new, and the sidecar always maps exactly the
  * live lists' ids. Search never reads the sidecar. */
final class IvfIndex(spark: SparkSession, path: String,
    assignBuckets: Int = 16) {
  require(assignBuckets >= 1, s"assignBuckets must be >= 1, got $assignBuckets")

  /** The index root (for suites and layout-level tooling). */
  private[graft] def indexPath: String = path

  private def listsPath = s"$path/lists"
  private def centroidsPath = s"$path/centroids"
  private def assignPath = s"$path/assign"

  /** The index's one handle on its root ([[LayoutFs.Live]]). Crash
    * recovery runs once at the top of every entry point: the first call
    * opens the index — under the root and the `lists`, `codes`, `assign`
    * and `assign_pq` directories, where an earlier version's swaps left
    * backups and its split/merge markers — and every later call probes
    * the root once, rolling a committed batch forward. An uncommitted
    * batch stays for the next mutation to discard. Every read of a live
    * index directory pins its schema, so it launches no
    * footer-inference job. */
  private[graft] val layout = new LayoutFs.Live(spark, path, "lists", "codes", "assign", "assign_pq")
  import layout.fs

  /** Bucket of an id in a B-bucket sidecar. The id is hashed through its
    * STRING form so the bucket is invariant to integer width (a LongType
    * deletion frame prunes an index built from IntegerType ids, and vice
    * versa — the join coerces, and so must the hash). */
  private def bucketOf(id: org.apache.spark.sql.Column, b: Int) =
    pmod(hash(id.cast(StringType)), lit(b)).cast(IntegerType)

  // sidecar bucket counts: written once per sidecar lifetime — memoized
  // per sidecar (r22 profile: this one-row read scheduled as 16 jobs per
  // q231-class lifecycle walk)
  private val assignBucketsMemo =
    Seq("assign", "assign_pq").map(rel => rel -> layout.memo[Int](s"${rel}_meta")).toMap
  private[graft] def readAssignBuckets(assignRel: String): Int =
    assignBucketsMemo(assignRel)(layout(s"$path/${assignRel}_meta").head().getInt(0))

  /** Whether the `assignRel` sidecar was written (a pre-sidecar index
    * has none). */
  private def hasSidecar(assignRel: String): Boolean = fs.exists(new Path(s"$path/${assignRel}_meta"))

  /** The (id, ivf_list, abucket) sidecar rows of assigned rows, for a
    * B-bucket sidecar. */
  private def sidecarRows(assigned: DataFrame, b: Int): DataFrame =
    assigned.select(col("id"), col("ivf_list"), bucketOf(col("id"), b).as("abucket"))

  /** Assign every row to its list and write the partitioned layout.
    * One broadcast-assignment pass over `embs`, one shuffle-free write
    * each for the sidecar and the lists; k is the partition fan-out
    * (keep it far below the row count — the usual √n-ish
    * coarse-quantizer sizing). */
  def build(embs: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Array[Float]]): Unit =
    buildLayouts(embs, idCol, vecCol, centroids, raw = true, books = None)

  /** Build the raw lists (`raw`) and/or the PQ codes (`books`) with their
    * sidecars and the centroid table from ONE assignment pass, committed
    * as one batch that replaces them: [[build]], [[buildPq]] and
    * [[buildWithPq]] are its three shapes. The assignment feeds every
    * staged write, so it is lazily checkpointed — the corpus is scanned
    * and argmax-scored once, not once per consumer. */
  private def buildLayouts(embs: DataFrame, idCol: String, vecCol: String,
      coarse: Seq[Array[Float]], raw: Boolean, books: Option[Pq.Codebooks]): Unit = {
    require(coarse.nonEmpty, "need at least one coarse centroid")
    import spark.implicits._
    val assigned = Ann.ivfAssign(
      embs.select(col(idCol).as("id"), col(vecCol).as("vector")),
      "vector", coarse).localCheckpoint(false)
    def stageSidecar(b: LayoutFs.Batch, rel: String): Unit = {
      b.stageRows(s"${rel}_meta", None, Seq(assignBuckets).toDF("n_buckets").coalesce(1))
      b.stageRows(rel, Some("abucket"), sidecarRows(assigned, assignBuckets))
    }
    layout.commit { b =>
      if (raw) {
        stageSidecar(b, "assign")
        b.stageRows("lists", Some("ivf_list"), assigned)
      }
      books.foreach { bk =>
        stageSidecar(b, "assign_pq")
        b.stageRows("codes", Some("ivf_list"), Pq.encode(assigned, "vector", bk)
          .select(col("id"), col("codes"), col("ivf_list")))
        b.stage("codebooks")(dir => bk.zipWithIndex.flatMap { case (cents, j) =>
          cents.zipWithIndex.map { case (c, code) => (j, code, c.toSeq) }
        }.toSeq.toDF("subspace", "code", "centroid").coalesce(1).write.parquet(dir.toString))
      }
      graft.util.Pins.release(assigned)
      b.stage("centroids")(writeCentroids(coarse, _))
    }
  }

  /** Incremental append (X124): assign NEW rows against the FROZEN
    * stored centroids and append their files into the existing
    * `ivf_list=N` partition directories — index maintenance without a
    * rebuild, the operation a continuously-ingesting corpus performs
    * between (much rarer) re-trainings. Because [[graft.operators.Ann
    * .ivfAssign]] is deterministic per row and independent across rows,
    * an index built on A then appended with B is file-layout-append but
    * RESULT-identical to one built on A ∪ B with the same centroids —
    * search parity is suite-pinned across an (nprobe, k) grid and
    * oracle-gated (q167). The append is directory-additive: the new
    * list files and their sidecar rows stage beside the layout and move
    * into the live `ivf_list=N` and `abucket=N` directories as one
    * committed batch, so existing files are never touched and a crashed
    * append leaves the index as it was — re-run it with the same batch.
    *
    * Same scale shape as [[build]]: one broadcast-assignment pass over
    * the batch, shuffle-free partitioned writes proportional to the
    * BATCH, not the index. Centroid drift is the operator's contract to
    * monitor ([[graft.operators.Ann.ivfStats]] imbalance on the growing
    * index); a drifted coarse quantizer degrades recall, not the
    * within-probed-lists exactness. */
  def append(embs: DataFrame, idCol: String, vecCol: String): Unit = {
    layout.recover()
    appendTo("lists", "assign", embs, idCol, vecCol)(identity)
  }

  /** Assign `embs` against the stored centroids and add `rows` of the
    * assignment to the `rel` lists, with their sidecar rows (under the
    * stored B; a pre-sidecar index keeps the full-scan discovery
    * fallback and gets none), as one committed batch. */
  private def appendTo(rel: String, assignRel: String, embs: DataFrame, idCol: String,
      vecCol: String)(rows: DataFrame => DataFrame): Unit = {
    val cs = loadCentroids()
    // shared only when the sidecar will actually be written (a
    // pre-sidecar layout keeps the single fused pass); released only
    // when WE checkpointed — Pins.release on a fused frame would walk
    // into (and unpersist) the caller's own pinned inputs
    val assignedBase = Ann.ivfAssign(
      embs.select(col(idCol).as("id"), col(vecCol).as("vector")),
      "vector", cs)
    val share = hasSidecar(assignRel)
    val assigned =
      if (share) assignedBase.localCheckpoint(false) else assignedBase
    layout.commit { b =>
      if (share) b.add(assignRel)(dir => sidecarRows(assigned, readAssignBuckets(assignRel))
        .write.partitionBy("abucket").parquet(dir.toString))
      b.add(rel)(dir => rows(assigned).write.partitionBy("ivf_list").parquet(dir.toString))
    }
    if (share) graft.util.Pins.release(assigned)
  }

  /** Delete ids from the index in place (X129; the other half of
    * steady-state maintenance next to [[append]]): anti-join the TOUCHED
    * inverted lists against the id set and swap the rewritten
    * directories in as one committed batch. Work ∝ the lists the deleted ids live in — untouched
    * `ivf_list=N` directories are never read or written, and touched-list
    * DISCOVERY reads only the deletion set's hash buckets of the
    * assignment sidecar (partition-pruned; plan-audited), so discovery
    * I/O is ∝ the deletion set, not the index. An index built before the
    * sidecar existed falls back to a full id-column scan of the lists
    * (documented, and logged by the plan audit as the exception path).
    *
    * `ids` is a single-column (`id`) frame, so a corpus-scale deletion
    * set never collects to the driver; only the touched-list NUMBERS and
    * bucket NUMBERS do (bounded by k and B, the bounded-scalar-anchor
    * class). The touched lists and sidecar buckets commit as one
    * [[LayoutFs.Batch]] (a crash leaves all of them old or all new;
    * recovery rolls a committed batch forward before the next read).
    * A list whose every row is deleted remains as an empty directory —
    * harmless to partition discovery. */
  def delete(ids: DataFrame): Unit = {
    layout.recover()
    deleteFrom("lists", "assign", ids)
  }

  /** The (ivf_list, abucket) pairs the deletion set touches, read from
    * the sidecar's pruned buckets only — exposed for the plan audit:
    * the scan must show `abucket` PartitionFilters and must not touch
    * the data layout. */
  private[graft] def touchedFrame(ids: DataFrame, assignBase: String,
      buckets: Seq[Int]): DataFrame =
    layout(assignBase)
      .filter(col("abucket").isin(buckets: _*))
      .join(ids, Seq("id"))
      .select(col("ivf_list"), col("abucket")).distinct()

  private def deleteFrom(rel: String, assignRel: String, ids: DataFrame): Unit = {
    require(ids.columns.toSeq == Seq("id"),
      s"ids must be a single-column (id) frame, got ${ids.columns.toSeq}")
    val antiJoin = (read: DataFrame) => read.join(ids, Seq("id"), "left_anti")
    val (lists, buckets) = if (hasSidecar(assignRel)) {
      val b = readAssignBuckets(assignRel)
      val buckets = ids.select(bucketOf(col("id"), b).as("b"))
        .distinct().collect().map(_.getInt(0)).toSeq.sorted
      val hits = touchedFrame(ids, s"$path/$assignRel", buckets).collect()
      (hits.map(_.getInt(0)).distinct.sorted.toSeq, hits.map(_.getInt(1)).distinct.sorted.toSeq)
    } else {
      // pre-sidecar layout: full-index id-column discovery (the documented
      // fallback — O(index file listing), which is why the sidecar exists)
      (layout(s"$path/$rel").join(ids, Seq("id"))
        .select(col("ivf_list")).distinct().collect().map(_.getInt(0)).toSeq.sorted, Nil)
    }
    layout.commit { b =>
      rewrite(b, rel, "ivf_list", lists)(antiJoin)
      rewrite(b, assignRel, "abucket", buckets)(antiJoin)
    }
  }

  /** Stage a rewrite of the touched `partCol=N` directories of the
    * layout at `path/rel` in `b`, in ONE Spark job
    * ([[LayoutFs.Batch.rewriteParts]]): a partition-pruned read of
    * exactly the touched directories, one `transform` (anti-join
    * survivors for [[delete]], identity + repartition for [[compact]], a
    * pair relabel for [[relabelAssign]]), one partitioned write into the
    * batch's hidden staging — so a wide-deletion batch costs k+B
    * renames, not k+B Spark jobs. A partition whose every row is deleted
    * swaps in as an empty directory, preserving the emptied-list
    * behavior. Nothing touched reads nothing. */
  private def rewrite(b: LayoutFs.Batch, rel: String, partCol: String, touched: Seq[Int])(
      transform: DataFrame => DataFrame): Unit =
    if (touched.nonEmpty)
      b.rewriteParts(rel, partCol, touched, layout(s"$path/$rel"))(transform)

  /** Small-file compaction for the raw lists layout (X166): every
    * [[append]] adds part-files to its touched `ivf_list=N` directories
    * (directory-additive by design), so a long-running ingest loop
    * accretes files until open/seek overhead dominates the probed read.
    * `compact` rewrites the named lists in ONE job — each directory's
    * rows repartitioned to one
    * output file — under the same committed batch as a delete, so a crash
    * mid-compaction leaves every named list old or every one new, and
    * search never sees a half-compacted list. Content is bit-identical (suite-pinned); WHICH
    * lists to compact is the caller's read of file counts, the
    * [[splitList]] monitoring convention. */
  def compact(listIds: Seq[Int]): Unit = {
    layout.recover()
    requireDirs(listsPath, "ivf_list", listIds)
    layout.commit(
      rewrite(_, "lists", "ivf_list", listIds)(_.repartition(col("ivf_list"))))
  }

  /** [[compact]] for the PQ codes layout — appendPq accretes files the
    * same way. */
  def compactPq(listIds: Seq[Int]): Unit = {
    layout.recover()
    requireDirs(codesPath, "ivf_list", listIds)
    layout.commit(
      rewrite(_, "codes", "ivf_list", listIds)(_.repartition(col("ivf_list"))))
  }

  /** Compact BOTH assignment sidecars' hash buckets (every append adds a
    * file per touched bucket; B is bounded, so this is always a small
    * job). No-op for a layout whose sidecar was never written. */
  def compactAssign(): Unit = {
    layout.recover()
    layout.commit { b =>
      Seq("assign", "assign_pq").filter(hasSidecar).foreach { rel =>
        // a bucket no id ever hashed to has no directory — the rewrite
        // leaves it absent
        rewrite(b, rel, "abucket", 0 until readAssignBuckets(rel))(
          _.repartition(col("abucket")))
      }
    }
  }

  /** Part-file counts per `ivf_list=N` directory of the raw lists —
    * the [[compact]]-policy input, from the file listing alone (no data
    * read); the [[graft.sources.InvertedIndex.fileStats]] convention. */
  def fileStats(): DataFrame = {
    layout.recover()
    import spark.implicits._
    layout.partFiles(listsPath, "ivf_list").map(r => (r._1, r._2)).toDF("ivf_list", "n_files")
  }

  /** Maintenance policy as code (X186, the raw-lists half): read the
    * file listings — never the data — decide, ACT, report. Compacts
    * exactly the `ivf_list=N` directories holding more than
    * `maxFilesPerList` part-files (the steady-state [[append]] debt),
    * and runs [[compactAssign]] when any sidecar hash bucket crosses
    * the same threshold (B is bounded, so that pass is always small).
    * Returns one row per list over threshold plus the sidecar decision
    * — the decision record an ops loop logs. Thresholds are arguments;
    * WHICH lists got compacted is the report, not a side channel. */
  def maintain(maxFilesPerList: Int = 8): DataFrame = {
    require(maxFilesPerList >= 1,
      s"maxFilesPerList must be >= 1, got $maxFilesPerList")
    import spark.implicits._
    // recover BEFORE reading the listing (the InvertedIndex.maintain
    // rule): a crashed committed merge still lists the vacated
    // ivf_list=<last> dir — deciding on that stale listing would have
    // the inner compact() roll the merge forward mid-flight and then
    // fail requireDirs on the now-dropped directory
    layout.recover()
    val listCounts = layout.partFiles(listsPath, "ivf_list")
    val toCompact = listCounts.filter(_._2 > maxFilesPerList).map(_._1)
    if (toCompact.nonEmpty) compact(toCompact)
    val assignMax = (layout.partFiles(assignPath, "abucket") ++
      layout.partFiles(assignPqPath, "abucket")).map(_._2).maxOption.getOrElse(0)
    val doAssign = assignMax > maxFilesPerList
    if (doAssign) compactAssign()
    (listCounts.map { case (n, files, _) =>
      ("compact_list", n, files.toDouble, maxFilesPerList.toDouble,
        files > maxFilesPerList)
    } :+ ("compact_assign", -1, assignMax.toDouble, maxFilesPerList.toDouble,
      doAssign))
      .toDF("action", "target", "metric", "threshold", "acted")
      .orderBy(col("action"), col("target"))
  }

  /** Consistent on-disk snapshot of the whole index — raw lists, PQ
    * codes, codebooks, centroids, both assignment sidecars and their
    * meta ([[LayoutFs.Live.snapshot]]; the reference's flagship funnel
    * serves from THIS store, so it is the first layout a deployment needs
    * to back up). Recovery first rolls a committed batch forward; the
    * snapshot then discards an uncommitted batch. The copy answers
    * exactly like the source at snapshot time (same centroids, same
    * pending compaction debt); open it with `new IvfIndex(spark, target)`. */
  def snapshot(targetPath: String): Unit = layout.snapshot(targetPath)

  private def requireDirs(base: String, partCol: String, ids: Seq[Int]): Unit =
    ids.foreach { n =>
      require(fs.exists(new Path(base, s"$partCol=$n")),
        s"no $partCol=$n directory under $base — nothing to compact") }

  /** Coarse-quantizer re-training + blue/green rebuild (X135; the "much
    * rarer re-training" [[append]]/[[delete]]'s steady-state story defers
    * to): run `iters` Lloyd rounds ([[graft.operators.Ann.lloydRounds]])
    * over THIS index's stored vectors, warm-started from the CURRENT
    * stored centroids, and build a fresh index at `targetPath` with the
    * updated centroids. Returns the new index; the caller flips its
    * pointer when ready and drops the old directory — the standard
    * blue/green swap, which is the honest crash story for a multi-
    * directory layout (a half-built `targetPath` is simply never pointed
    * at; this index stays live and untouched throughout).
    *
    * Scale shape: each Lloyd round moves k·dim aggregated values to the
    * driver (the bounded-scalar-anchor class), the rebuild is
    * [[build]]'s one-pass partitioned write. Re-training invalidates any
    * PQ codes layout too (codes quantize residuals of the OLD coarse
    * assignment) — run [[buildPq]] against the new index if the
    * compressed layout is served. */
  def retrain(targetPath: String, iters: Int): IvfIndex = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    layout.recover()
    val vecs = layout(listsPath)
      .select(col("id"), col("vector"))
    val cents = Ann.lloydRounds(vecs, "vector", loadCentroids(), iters)
    val next = new IvfIndex(spark, targetPath, assignBuckets)
    next.build(vecs, "id", "vector", cents)
    next
  }

  /** In-place split of one oversized inverted list (X156; the
    * INCREMENTAL middle ground between [[append]]'s frozen-centroid
    * steady state and [[retrain]]'s blue/green full rebuild — FAISS
    * exposes the same maintenance as IndexIVF big-list splitting): run a
    * local 2-means over ONLY this list's vectors (deterministic init =
    * the two smallest member ids, [[graft.operators.Ann.lloydTrain]]'s
    * discipline), keep sub-cluster 0 under `listId`'s slot with its new
    * tighter centroid, move sub-cluster 1 to a fresh list id appended to
    * the centroid set. WHICH list to split is the caller's call from
    * [[graft.operators.Ann.ivfStats]] imbalance — the documented
    * monitoring contract — so the operation's work is ∝ the one list,
    * never the index.
    *
    * Both halves, the moved ids' sidecar rows and the grown centroid set
    * stage and commit as one [[LayoutFs.Batch]], so every reader sees
    * the old index or the whole new one.
    *
    * A degenerate list (all vectors identical, or a single row — 2-means
    * cannot produce two non-empty halves) aborts cleanly with None; the
    * index is untouched. A PQ codes layout RIDES ALONG: the codes here
    * quantize the raw vector (no coarse residual), so the split is a
    * pure id-keyed move for the compressed layout — its halves and
    * sidecar rows stage beside the raw ones in the same batch; only
    * [[retrain]] (which changes the quantizer) still requires a
    * [[buildPq]] rerun. Returns
    * Some((newListId, movedRows)) on success. */
  def splitList(listId: Int, lloydIters: Int = 1): Option[(Int, Long)] = {
    require(lloydIters >= 1, s"lloydIters must be >= 1, got $lloydIters")
    layout.recover()
    val cs = loadCentroids()
    require(listId >= 0 && listId < cs.size,
      s"listId $listId out of range [0, ${cs.size})")
    val newId = cs.size
    val rows = layout(listsPath)
      .filter(col("ivf_list") === listId)
      .select(col("id"), col("vector"))
    val init = rows.orderBy(col("id")).limit(2).collect()
      .map(_.getSeq[Float](1).toArray).toSeq
    if (init.size < 2) return None
    val sub = Ann.lloydRounds(rows, "vector", init, lloydIters)
    // pinned: every staged write re-reads this frame, and the commit
    // replaces the directory the lazy plan would re-scan — the assignment
    // must be computed exactly once (released before return)
    val assigned = Ann.ivfAssign(rows, "vector", sub).localCheckpoint(true)
    val moved = assigned.filter(col("ivf_list") === 1).drop("ivf_list")
    val nMoved = moved.count()
    if (nMoved == 0L || nMoved == assigned.count()) {
      graft.util.Pins.release(assigned); return None
    }
    // the compressed layout rides along (the mergeLists rule: raw-vector
    // PQ codes are list-independent, so the split is a pure id-keyed
    // move for codes — no re-encode, layout stays servable)
    val hasPq = fs.exists(new Path(codesPath))
    val movedIds = moved.select(col("id"))
    val codesList = if (hasPq)
      Some(layout(codesPath)
        .filter(col("ivf_list") === listId).select(col("id"), col("codes")))
    else None
    val codesMovedIds = codesList.map(_.join(movedIds, Seq("id"), "left_semi")
      .select(col("id")).localCheckpoint(true))
    // data move, sidecar rows and centroid set (listId tightens to
    // sub-centroid 0, newId = sub 1), committed as one batch
    layout.commit { batch =>
      val halves = Seq(listId, newId)
      batch.stageParts("lists", "ivf_list", halves, assigned.withColumn("ivf_list",
        when(col("ivf_list") === 0, lit(listId)).otherwise(lit(newId))))
      codesList.foreach { cl =>
        batch.stageParts("codes", "ivf_list", halves,
          cl.join(movedIds, Seq("id"), "left_anti").withColumn("ivf_list", lit(listId))
            .unionByName(cl.join(movedIds, Seq("id"), "left_semi")
              .withColumn("ivf_list", lit(newId))))
      }
      batch.stage("centroids")(writeCentroids(cs.updated(listId, sub(0)) :+ sub(1), _))
      relabelAssign(batch, "assign", moves(movedIds, listId, newId))
      codesMovedIds.foreach(mi => relabelAssign(batch, "assign_pq", moves(mi, listId, newId)))
    }
    codesMovedIds.foreach(graft.util.Pins.release)
    graft.util.Pins.release(assigned)
    Some((newId, nMoved))
  }

  /** In-place merge of two underpopulated inverted lists (X185; the
    * DUAL of [[splitList]], closing the maintenance loop: heavy
    * [[delete]] batches shrink lists, and underpopulated lists inflate
    * the nprobe needed for a given recall plus the per-list file
    * overhead — nothing short of an [[retrain]] rebalanced shrinkage
    * before this). The union of both lists lands under ONE surviving
    * slot with a fresh centroid — the [[graft.operators.Ann.lloydIter]]
    * decimal-mean of the survivors (exact, order-independent) quantized
    * to float, the stored-centroid discipline — and the centroid set
    * SHRINKS by one: the highest list id renumbers into the vacated
    * slot (classic swap-remove), keeping ids dense, which every
    * downstream consumer (probe-by-position, [[graft.operators.Ann
    * .ivfAssign]]) assumes. WHICH lists to merge is the caller's read
    * of [[graft.operators.Ann.ivfStats]] — the [[splitList]] monitoring
    * convention.
    *
    * One [[LayoutFs.Batch]] commits the union under the surviving slot,
    * the last list's rows under the vacated slot, the moved ids' sidecar
    * rows, the shrunken centroid set and the vacated last directory's
    * drop, so every reader sees the old index or the whole new one.
    *
    * A PQ codes layout RIDES ALONG (the [[splitList]] rule: raw-vector
    * codes are list-independent, so the merge is pure renumbering for
    * the compressed layout — staged and committed in the same batch as
    * the raw dirs, with its sidecar). Returns
    * (survivingListId, absorbedRows):
    * normally `a` holding the union of `a` and `b`; when `a` is the
    * highest list id the roles swap (the union lands under `b`) so the
    * vacated slot is always the highest. */
  def mergeLists(a: Int, b: Int): (Int, Long) = {
    layout.recover()
    val cs = loadCentroids()
    require(a != b, s"cannot merge list $a with itself")
    Seq(a, b).foreach(i => require(i >= 0 && i < cs.size,
      s"list $i out of range [0, ${cs.size})"))
    val last = cs.size - 1
    // the vacated slot is always `last`: if a IS last, the union lands
    // under b; otherwise under a, and (when b != last) last renumbers
    // into b
    val (target, source) = if (a == last) (b, a) else (a, b)
    val vacated = if (source == last) last else source
    val lists = layout(listsPath)
    val union = lists.filter(col("ivf_list").isin(target, source))
      .select(col("id"), col("vector"))
    val lastRows = if (source == last) union.limit(0)
      else lists.filter(col("ivf_list") === last)
        .select(col("id"), col("vector"))
    // pinned: counted here, then read twice by the sidecar relabel
    val sourceIds = lists.filter(col("ivf_list") === source)
      .select(col("id")).localCheckpoint(true)
    val lastIds = lastRows.select(col("id")).localCheckpoint(true)
    val nAbsorbed = sourceIds.count()
    // decimal-mean centroid of the union (the lloydIter discipline);
    // an all-empty union keeps the target's old centroid
    val dec = DecimalType(28, 8)
    val byDim = union
      .select(posexplode(col("vector")).as(Seq("dim", "__x")))
      .groupBy(col("dim"))
      .agg((sum(col("__x").cast(DoubleType).cast(dec)).cast(DoubleType) /
        count(lit(1)).cast(DoubleType)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val merged = cs(target).indices
      .map(d => byDim.getOrElse(d, cs(target)(d).toDouble).toFloat).toArray
    val newCs =
      if (source == last) cs.updated(target, merged).dropRight(1)
      else cs.updated(target, merged).updated(vacated, cs(last)).dropRight(1)
    // the compressed layout rides along: PQ codes here quantize the RAW
    // vector (no coarse residual), so a merge is pure renumbering for
    // codes — the same staged moves keep the layout servable instead of
    // invalidating it
    val hasPq = fs.exists(new Path(codesPath))
    val codesAll = if (hasPq) Some(layout(codesPath)) else None
    val codesUnion = codesAll.map(_.filter(col("ivf_list").isin(target, source))
      .select(col("id"), col("codes")))
    val codesLast = codesAll.map { c =>
      if (source == last) codesUnion.get.limit(0)
      else c.filter(col("ivf_list") === last).select(col("id"), col("codes"))
    }
    val sourceIdsPq = codesAll.map(_.filter(col("ivf_list") === source)
      .select(col("id")).localCheckpoint(true))
    val lastIdsPq = codesLast.map(_.select(col("id")).localCheckpoint(true))
    // the vacated codes dir drops only when this merge staged a codes half
    layout.commit { batch =>
      val stagedSlots = Seq(target) ++ (if (source == last) Nil else Seq(vacated))
      batch.stageParts("lists", "ivf_list", stagedSlots,
        union.withColumn("ivf_list", lit(target))
          .unionByName(lastRows.withColumn("ivf_list", lit(vacated))))
      codesUnion.foreach { cu =>
        batch.stageParts("codes", "ivf_list", stagedSlots,
          cu.withColumn("ivf_list", lit(target))
            .unionByName(codesLast.get.withColumn("ivf_list", lit(vacated))))
        batch.drop(s"codes/ivf_list=$last")
      }
      batch.stage("centroids")(writeCentroids(newCs, _))
      batch.drop(s"lists/ivf_list=$last")
      relabelAssign(batch, "assign",
        moves(sourceIds, source, target).unionByName(moves(lastIds, last, vacated)))
      sourceIdsPq.foreach(sp => relabelAssign(batch, "assign_pq",
        moves(sp, source, target).unionByName(moves(lastIdsPq.get, last, vacated))))
    }
    sourceIdsPq.foreach { sp =>
      graft.util.Pins.release(sp)
      graft.util.Pins.release(lastIdsPq.get)
    }
    graft.util.Pins.release(sourceIds)
    graft.util.Pins.release(lastIds)
    (target, nAbsorbed)
  }

  /** The (id, from, to) moves of the ids in `ids` from list `from` to
    * list `to`. */
  private def moves(ids: DataFrame, from: Int, to: Int): DataFrame =
    ids.select(col("id"), lit(from).as("from"), lit(to).as("to"))

  /** Stage the sidecar side of a split or merge in `b`: each moved id's
    * (id, from) row becomes (id, to) — the same bucket-pruned [[rewrite]]
    * as a delete, keyed on the pair. A pre-sidecar index has no sidecar
    * to relabel. */
  private def relabelAssign(b: LayoutFs.Batch, assignRel: String, moves: DataFrame): Unit = {
    if (hasSidecar(assignRel)) {
      val buckets = moves.select(bucketOf(col("id"), readAssignBuckets(assignRel))).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      val m = moves.select(col("id"), col("from").as("ivf_list"), col("to").as("__to"))
      rewrite(b, assignRel, "abucket", buckets)(_.join(m, Seq("id", "ivf_list"), "left")
        .select(col("id"), coalesce(col("__to"), col("ivf_list")).as("ivf_list"), col("abucket")))
    }
  }

  /** Stage a centroid set as a (cid, centroid) table at `dir`. */
  private def writeCentroids(cs: Seq[Array[Float]], dir: Path): Unit = {
    import spark.implicits._
    cs.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toDF("cid", "centroid")
      .coalesce(1).write.parquet(dir.toString)
  }

  /** The stored centroids, ordered by cid, after recovery: the root
    * pointer must never read as missing or as a mutation's half. */
  def centroids(): Seq[Array[Float]] = { layout.recover(); loadCentroids() }

  // memoized per instance: only a build, split or merge replaces the
  // directory — and the k-vector table is small by the coarse-quantizer
  // contract (√n-ish), so holding it on the driver costs what one probe
  // already costs. r22 profile: this read+collect pair scheduled 5x per
  // q203 lifecycle walk.
  private val centroidsMemo = layout.memo[Seq[Array[Float]]]("centroids")

  /** [[centroids]] for entry points that already recovered. */
  private def loadCentroids(): Seq[Array[Float]] =
    centroidsMemo(
      layout(centroidsPath).orderBy(col("cid"))
        .collect().map(_.getSeq[Float](1).toArray).toSeq)

  /** Exact cosine top-k WITHIN the nprobe best lists for `query` —
    * [[graft.operators.Ann.ivfTopK]] semantics, but the probe set
    * becomes a partition filter: only `nprobe` of the k list
    * directories are listed, opened, or decoded. A warm call launches
    * ONE Spark job, the scoring scan itself: the centroids come from
    * their memo and the lists read with a pinned schema
    * ([[LayoutFs.Live]]), so no job infers a parquet footer. */
  def search(query: Array[Float], k: Int, nprobe: Int): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    layout.recover()
    Ann.bruteForceTopK(probed("lists", query, nprobe), "id", "vector", query, k)
  }

  /** FILTERED ANN (X255 — the ES kNN `filter` parameter / FAISS
    * IDSelector): [[search]] with a row predicate applied INSIDE the
    * probe — candidates are restricted BEFORE the top-k heap (the ES
    * pre-filter semantics: k results whenever ≥ k candidates survive,
    * where post-filtering a plain top-k can silently return fewer),
    * and the predicate rides the SAME pruned `ivf_list` directory read
    * (pushed into the probed scan when it names stored columns). The
    * recall caveat is ES's too, stated: a very selective filter can
    * empty the probed lists while matches exist in unprobed ones —
    * raise nprobe, exactly like the unfiltered recall knob. */
  def searchWhere(query: Array[Float], k: Int, nprobe: Int,
      pred: Column): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    layout.recover()
    Ann.bruteForceTopK(probed("lists", query, nprobe).filter(pred), "id", "vector", query, k)
  }

  /** The raw lists frame with `ivf_list` as the pruning surface, and
    * the (cid, centroid) frame — the SQL-registration views behind
    * [[StoreCatalog.registerIvfIndex]] (X189): a `spark.sql` caller
    * probes with `WHERE ivf_list IN (...)` (partition-pruned exactly
    * like [[search]]) and scores with the registered `vec_cosine`
    * kernel. */
  def listsView: DataFrame = {
    layout.recover()
    layout(listsPath)
  }

  /** See [[listsView]]. */
  def centroidsView: DataFrame = {
    layout.recover()
    layout(centroidsPath)
  }

  /** The `rel` layout (`lists` or `codes`) pruned to the `nprobe` best
    * coarse lists for `query` ([[graft.operators.Ann.probeOrder]] over
    * the stored centroids): the probe set reaches the scan as a
    * partition filter. */
  private def probed(rel: String, query: Array[Float], nprobe: Int): DataFrame = {
    require(nprobe >= 1, s"nprobe must be positive, got $nprobe")
    layout(s"$path/$rel")
      .filter(col("ivf_list").isin(Ann.probeOrder(loadCentroids(), query).take(nprobe): _*))
  }

  // ---- IVF×PQ layout (the FAISS-IVFPQ on-disk shape) ---------------------

  private def codesPath = s"$path/codes"
  private def booksPath = s"$path/codebooks"
  private def assignPqPath = s"$path/assign_pq"

  /** Persist the PQ-coded lists: (id, codes) partitioned by `ivf_list`,
    * codebooks stored beside them. The probed read then decodes m BYTES
    * per row instead of the raw vector — on top of X112's nprobe/k
    * directory pruning, search I/O drops by another dim·4/m — the full
    * FAISS-IVFPQ economics, from the parquet layout alone. The raw
    * vectors are NOT duplicated here: exact rerank (when wanted)
    * re-fetches the few topK survivors from the primary store by id —
    * the flagship funnel's stage-3 refetch pattern. Writes its own
    * assignment sidecar (`assign_pq`) so the compressed layout gets the
    * same bucket-pruned delete discovery as the raw one. */
  def buildPq(embs: DataFrame, idCol: String, vecCol: String,
      coarse: Seq[Array[Float]], books: Pq.Codebooks): Unit =
    buildLayouts(embs, idCol, vecCol, coarse, raw = false, Some(books))

  /** [[build]] + [[buildPq]] from ONE shared assignment pass — the
    * dual-layout deployment that maintains the raw lists AND the
    * compressed codes over one coarse quantizer, in one committed batch.
    * Artifact rows are byte-identical to the two standalone calls
    * (suite-pinned). */
  def buildWithPq(embs: DataFrame, idCol: String, vecCol: String,
      coarse: Seq[Array[Float]], books: Pq.Codebooks): Unit =
    buildLayouts(embs, idCol, vecCol, coarse, raw = true, Some(books))

  /** Incremental append for the PQ codes layout (X130; the compressed
    * half of X124): assign the batch against the FROZEN stored coarse
    * centroids, encode with the FROZEN stored codebooks, append into the
    * existing `codes/ivf_list=N` directories. Both steps are
    * deterministic per row and independent across rows, so
    * buildPq(A) + appendPq(B) is RESULT-identical to buildPq(A ∪ B)
    * with the same coarse/books (suite-pinned grid; oracle-gated q175).
    * Batch-proportional and directory-additive, committed as one batch
    * with its sidecar rows — the same economics and crash story as
    * [[append]]. Codebook/centroid drift is
    * [[graft.operators.Ann.ivfStats]]'s contract, as for [[append]]. */
  def appendPq(embs: DataFrame, idCol: String, vecCol: String): Unit = {
    layout.recover()
    val books = codebooks()
    appendTo("codes", "assign_pq", embs, idCol, vecCol)(
      Pq.encode(_, "vector", books).select(col("id"), col("codes"), col("ivf_list")))
  }

  /** In-place deletion for the PQ codes layout (X130; the compressed
    * half of X129): the same bucket-pruned sidecar discovery, anti-join,
    * and committed batch as [[delete]], walked over
    * `codes/ivf_list=N` — so a 100 TB deployment serving from the
    * compressed layout gets steady-state deletes without a rebuild. */
  def deletePq(ids: DataFrame): Unit = {
    layout.recover()
    deleteFrom("codes", "assign_pq", ids)
  }

  /** The stored PQ codebooks, (subspace, code)-ordered — memoized like
    * the centroids: only a PQ build replaces their directory. */
  def codebooks(): Pq.Codebooks = booksMemo {
    val rows = layout(booksPath)
      .orderBy(col("subspace"), col("code")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
    rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3)).toArray
  }

  private val booksMemo = layout.memo[Pq.Codebooks]("codebooks")

  /** ADC top-k over the probed CODE lists — [[graft.operators.Pq
    * .ivfAdcTopK]] semantics with the probe as a partition filter and
    * the LUT scoring m-byte codes straight off the pruned scan. */
  def searchPq(query: Array[Float], topK: Int, nprobe: Int): DataFrame = {
    require(topK >= 1, s"topK must be positive, got $topK")
    layout.recover()
    Pq.adcTopK(probed("codes", query, nprobe), "id", "codes", codebooks(), query, topK)
  }

  /** Filtered ADC search (X255's pre-filter semantics on the
    * COMPRESSED layout — the ES kNN `filter` / FAISS IDSelector
    * applied to IVFPQ, completing the raw/compressed symmetry
    * [[searchWhere]] started): the predicate restricts candidates
    * BEFORE the ADC top-k heap, riding the same pruned `ivf_list`
    * code-directory read (pushed into the scan when it names stored
    * columns — on this layout that is `id`). The recall caveat is
    * [[searchWhere]]'s verbatim: a very selective filter can empty the
    * probed lists while matches sit in unprobed ones — raise nprobe. */
  def searchPqWhere(query: Array[Float], topK: Int, nprobe: Int,
      pred: Column): DataFrame = {
    require(topK >= 1, s"topK must be positive, got $topK")
    layout.recover()
    Pq.adcTopK(probed("codes", query, nprobe).filter(pred), "id", "codes", codebooks(), query, topK)
  }

  /** ADC search with exact refinement (X205 — the FAISS
    * IndexRefineFlat pattern, the missing tail of [[buildPq]]'s
    * documented refetch story): stage 1 ranks the probed lists by the
    * compressed ADC distance (m bytes per row through the funnel),
    * stage 2 re-fetches ONLY the top `refine`·k ADC survivors' RAW
    * vectors — a broadcast semi-join into the SAME probed `ivf_list`
    * directories, so the raw read stays partition-pruned AND
    * candidate-filtered — and reranks them by exact cosine (the
    * [[search]] scorer, bit-compatible with the uncompressed path).
    * The standard quality/IO dial: quantization error can demote a
    * true top-k hit a few ADC ranks, and the refine margin recovers it
    * while reading `refine`·k vectors instead of every probed row.
    * Output matches [[search]]: (id, cosine) top-k. */
  def searchPqRefined(query: Array[Float], k: Int, nprobe: Int,
      refine: Int = 3): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(refine >= 1, s"refine must be >= 1, got $refine")
    layout.recover()
    val cand = searchPq(query, topK = refine * k, nprobe)
      .select(col("id"))
    val probedRaw = probed("lists", query, nprobe)
      .join(broadcast(cand), Seq("id"), "left_semi")
    Ann.bruteForceTopK(probedRaw, "id", "vector", query, k)
  }
}
