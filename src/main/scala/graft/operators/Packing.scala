package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StructField}

import graft.util.Sampling

/** Greedy contiguous sequence packing — the batch-prep step of an LLM
  * training pipeline: documents are laid end-to-end in a deterministic
  * order and cut into fixed-capacity token packs; a document's pack is
  * `floor(tokens_before / capacity)`.
  *
  * The prefix sum is NOT a global `Window.orderBy` (single-partition
  * scale-killer). Same scheme as [[graft.util.DenseIds]]: range-partition
  * on the order key, sort within partitions, then two passes — (1) one
  * token SUM per partition (a tiny driver-side array), (2) per-partition
  * scan that adds the partition's offset. No task ever holds more than
  * its own partition; the driver holds one long per partition.
  */
object Packing {

  /** Returns the input plus `tokens_before` (prefix sum of `tokenCountCol`
    * in `orderCol` order), `pack_id` (pack of the doc's first token) and
    * `pack_last` (pack of its last token; > pack_id means the doc spans a
    * pack boundary and needs splitting downstream).
    *
    * CONTRACT: `orderCol` must be a UNIQUE key and `tokenCountCol`
    * non-null. Ties in the order key would leave the relative order of the
    * tied rows to shuffle-fetch timing — their pack assignments would then
    * differ run to run, breaking reproducibility (the oracle can't catch
    * this: its queries order by a unique id).
    *
    * The pinned sorted layout lives as long as the returned frame: in a
    * long-lived session, `graft.util.Pins.release(result)` after the last
    * consumer has materialized (see [[graft.util.Pins]]). */
  def packAssignments(df: DataFrame, orderCol: String, tokenCountCol: String,
      capacity: Long): DataFrame = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    val spark = df.sparkSession
    // pin the sorted layout: both passes below consume it, and without the
    // checkpoint each would re-execute the upstream plan (tokenization +
    // range shuffle) in full — the double-execution shape dedupGroups'
    // edge pinning fixed
    val ordered = df.repartitionByRange(col(orderCol)).sortWithinPartitions(col(orderCol))
      .localCheckpoint(true)
    val tcIdx = ordered.schema.fieldIndex(tokenCountCol)
    val ordIdx = ordered.schema.fieldIndex(orderCol)
    // closure captures only ints/strings — touching the DataFrame inside a
    // task would throw CANNOT_INVOKE_IN_TRANSFORMATIONS
    def tokenCount(r: Row): Long = {
      val v = r.get(tcIdx)
      require(v != null, s"packAssignments: null $tokenCountCol " +
        s"(row ${r.get(ordIdx)}) — counts must be non-null")
      v.asInstanceOf[Number].longValue()
    }
    val base = ordered.rdd
    // pass 1: one token sum per partition
    val partSums = base
      .mapPartitionsWithIndex { case (i, it) =>
        Iterator.single(i -> it.map(tokenCount).sum)
      }
      .collect().sortBy(_._1).map(_._2)
    val offsets = partSums.scanLeft(0L)(_ + _)
    val bc = spark.sparkContext.broadcast(offsets)
    val schema = ordered.schema
      .add(StructField("tokens_before", LongType, nullable = false))
      .add(StructField("pack_id", LongType, nullable = false))
      .add(StructField("pack_last", LongType, nullable = false))
    // pass 2: running sum within each partition, started at its offset
    val rows = base.mapPartitionsWithIndex { case (i, it) =>
      var acc = bc.value(i)
      it.map { r =>
        val tc = tokenCount(r)
        val before = acc
        acc += tc
        val packLast = if (tc > 0) (before + tc - 1) / capacity else before / capacity
        Row.fromSeq(r.toSeq :+ before :+ before / capacity :+ packLast)
      }
    }
    spark.createDataFrame(rows, schema)
  }

  /** The per-pack CUT LIST from [[packAssignments]]'s boundaries (X109):
    * one row per (document, pack it touches) with the doc-LOCAL token
    * range [tok_start, tok_end) that lands in that pack — what a data
    * loader actually consumes: `pack_last > pack_id` told it a doc spans
    * a boundary; this says exactly where to cut. Zero-token docs emit no
    * slices (nothing to pack).
    *
    * Invariants (suite-pinned): per doc, the slices tile [0, n_tokens)
    * exactly; per pack, slice lengths sum to `capacity` (except the final
    * pack's remainder). Pure integer arithmetic on the assignment row —
    * deterministic, oracle-checkable.
    *
    * Scale shape: NO new exchange — a per-row generate over the
    * assignment frame, fan-out bounded by packs-touched (n_tokens /
    * capacity + 1 rows per doc), all columns codegen arithmetic. */
  def packSlices(assignments: DataFrame, orderCol: String, tokenCountCol: String,
      capacity: Long): DataFrame = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    assignments
      .filter(col(tokenCountCol) > 0)
      .select(col(orderCol), col(tokenCountCol), col("tokens_before"),
        explode(sequence(col("pack_id"), col("pack_last"))).as("__p"))
      .select(col(orderCol), col("__p").as("pack_id"),
        greatest(lit(0L), col("__p") * capacity - col("tokens_before")).as("tok_start"),
        least(col(tokenCountCol),
          (col("__p") + 1) * capacity - col("tokens_before")).as("tok_end"))
  }

  /** Deterministic shard manifest over a [[packSlices]] cut list (X136,
    * the audit half of [[writeShards]]): shards are contiguous pack
    * ranges (`shard = pack_id DIV packsPerShard` — deterministic from
    * the assignment alone, no renumbering pass), and each shard row
    * carries the counts a training job validates before reading plus a
    * content fingerprint (sum of a 28-bit md5 hash of every
    * `(doc_id, pack_id, tok_start, tok_end)` slice, decimal-accumulated
    * — order-independent, so any engine that produced the same cut list
    * produces the same fingerprint). Emits
    * `(shard, n_packs, n_docs, n_slices, n_tokens, content_fp)`.
    *
    * Scale shape: one shard-keyed aggregate over the slice table (ids
    * and offsets only, no text); distinct counts are exact (shard
    * cardinality is bounded by packsPerShard and docs-per-pack). */
  def shardManifest(slices: DataFrame, packsPerShard: Long): DataFrame = {
    require(packsPerShard >= 1, s"packsPerShard must be >= 1, got $packsPerShard")
    val fp = conv(substring(md5(concat_ws(":",
      col("doc_id"), col("pack_id"), col("tok_start"), col("tok_end"))), 1, 7),
      16, 10).cast(LongType)
    slices
      .withColumn("shard", expr(s"pack_id DIV $packsPerShard"))
      .groupBy(col("shard"))
      .agg(countDistinct(col("pack_id")).as("n_packs"),
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_slices"),
        sum(col("tok_end") - col("tok_start")).as("n_tokens"),
        sum(fp.cast(DecimalType(38, 0))).cast(LongType).as("content_fp"))
      .orderBy(col("shard"))
  }

  /** Training-shard export (X136): write a [[packSlices]] cut list as
    * `shard=N` parquet directory partitions plus the [[shardManifest]]
    * beside them — the artifact hand-off from the data pipeline to the
    * training job (the trainer reads one shard directory per worker and
    * checks its manifest row first). Slices carry (doc_id, pack_id,
    * offsets), not text: the trainer re-fetches text by doc_id from the
    * primary store, the reference's refetch discipline — so the
    * export shuffles ids and offsets only, and re-export is a pure
    * overwrite (idempotent). Returns the manifest. */
  def writeShards(slices: DataFrame, outDir: String,
      packsPerShard: Long): DataFrame = {
    require(packsPerShard >= 1, s"packsPerShard must be >= 1, got $packsPerShard")
    slices
      .withColumn("shard", expr(s"pack_id DIV $packsPerShard"))
      .write.mode("overwrite").partitionBy("shard").parquet(s"$outDir/shards")
    val manifest = shardManifest(slices, packsPerShard)
    manifest.coalesce(1).write.mode("overwrite").parquet(s"$outDir/manifest")
    manifest
  }

  /** Trainer-side shard reader (X138) — the consuming half of the
    * [[writeShards]] hand-off: read the requested `shard=N` partitions,
    * VALIDATE each shard's manifest row against the on-disk slices
    * (recomputed counts + content fingerprint must equal the stored row —
    * a torn or stale export fails fast here, before any text moves), then
    * re-fetch text by doc_id and materialize every slice's token piece.
    * Returns (shard, pack_id, doc_id, tok_start, tok_end, piece,
    * n_tokens); the trainer concatenates pieces in (pack_id, tok_start)
    * order to recover each fixed-capacity sequence.
    *
    * Scale shape: the shard filter is a partition filter on the slice
    * layout (only requested `shard=N` directories are listed or read);
    * validation aggregates ids and offsets only (one row per shard to the
    * driver — bounded); the text re-fetch is one join keyed on doc_id —
    * text moves ONCE, only for documents the requested shards actually
    * reference, and the token slice is a per-row projection after the
    * join. `shards = Nil` reads (and validates) everything. */
  def readShards(spark: org.apache.spark.sql.SparkSession, outDir: String,
      docs: DataFrame, idCol: String, text: Column,
      packsPerShard: Long, shards: Seq[Long] = Nil): DataFrame = {
    var slices = spark.read.parquet(s"$outDir/shards")
    var manifest = spark.read.parquet(s"$outDir/manifest")
    if (shards.nonEmpty) {
      slices = slices.filter(col("shard").isin(shards: _*))
      manifest = manifest.filter(col("shard").isin(shards: _*))
    }
    val recomputed = shardManifest(
      slices.select(col("doc_id"), col("pack_id"), col("tok_start"), col("tok_end")),
      packsPerShard)
    val cols = Seq("shard", "n_packs", "n_docs", "n_slices", "n_tokens", "content_fp")
    def rows(df: DataFrame) = df
      .select(cols.map(col): _*).orderBy(col("shard")).collect()
      .map(r => cols.map(c => r.get(r.fieldIndex(c))).mkString(":")).toSeq
    val (want, got) = (rows(manifest), rows(recomputed))
    if (want != got)
      sys.error(s"shard manifest validation failed for $outDir: " +
        s"stored=${want.mkString("[", ", ", "]")} recomputed=${got.mkString("[", ", ", "]")}")
    slices
      .join(docs.select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(text).as("__toks")), Seq("doc_id"))
      .select(col("shard").cast(LongType).as("shard"), col("pack_id"), col("doc_id"),
        col("tok_start"), col("tok_end"),
        concat_ws(" ", slice(col("__toks"), col("tok_start").cast("int") + lit(1),
          (col("tok_end") - col("tok_start")).cast("int"))).as("piece"),
        (col("tok_end") - col("tok_start")).as("n_tokens"))
  }

  /** Pack-capacity planner (X142; the packing member of the planner
    * family X101/X102/X126): for every CANDIDATE context length, the
    * numbers that pick one — pack count, boundary-split documents (each
    * split loses cross-boundary attention), split fraction, and tail
    * waste (the padding in the one non-full final pack). The prefix sum
    * `tokens_before` is CAPACITY-INDEPENDENT, so the whole grid costs
    * ONE [[packAssignments]] pass + a per-row candidate explode + one
    * capacity-keyed aggregate — evaluating 10 context lengths does not
    * re-walk the corpus 10 times. Zero-token docs are excluded (the
    * [[packSlices]] convention). Returns (capacity, n_packs,
    * n_split_docs, split_frac, tail_waste) ordered by capacity. */
  def capacityPlan(df: DataFrame, orderCol: String, tokenCountCol: String,
      capacities: Seq[Long]): DataFrame = {
    require(capacities.nonEmpty, "need at least one candidate capacity")
    require(capacities.forall(_ > 0), s"capacities must be positive, got $capacities")
    require(capacities.distinct.size == capacities.size,
      s"duplicate candidate capacities: $capacities")
    val base = packAssignments(df.select(col(orderCol), col(tokenCountCol)),
        orderCol, tokenCountCol, capacities.head)
      .filter(col(tokenCountCol) > 0)
      .select(col(tokenCountCol).cast(LongType).as("__n"), col("tokens_before"))
    base
      .withColumn("capacity", explode(lit(capacities.sorted.toArray)))
      .withColumn("__p0", expr("tokens_before DIV capacity"))
      .withColumn("__p1", expr("(tokens_before + __n - 1) DIV capacity"))
      .groupBy(col("capacity"))
      .agg((max(col("__p1")) + 1L).as("n_packs"),
        sum(when(col("__p1") > col("__p0"), 1L).otherwise(0L)).as("n_split_docs"),
        count(lit(1)).as("__nd"),
        sum(col("__n")).as("__tok"))
      .select(col("capacity"), col("n_packs"), col("n_split_docs"),
        round(col("n_split_docs").cast(DoubleType) / col("__nd"), 6).as("split_frac"),
        (col("n_packs") * col("capacity") - col("__tok")).as("tail_waste"))
      .orderBy(col("capacity"))
  }

  /** Per-document token-budget truncation (X114) — the per-doc companion
    * of the per-pack cut list: when a context budget is enforced BEFORE
    * packing (SFT rows, eval prompts, rerank inputs), each over-budget
    * document is cut by a declared policy rather than split across packs:
    *
    *  - `head`:  keep the FIRST `maxTokens` (report/article prefix bias)
    *  - `tail`:  keep the LAST `maxTokens` (chat-transcript recency bias)
    *  - `edges`: keep ceil(max/2) head + floor(max/2) tail, dropping the
    *    middle — the long-doc eval-harness policy: titles/intro AND
    *    conclusion survive, boilerplate body goes
    *
    * Tokens are [[TextAnalysis.tokens]] (lowercased whitespace units) with
    * empties dropped, so `text_trunc` is the NORMALIZED rejoin (single
    * spaces, lowercase) — the form every downstream token-level operator
    * here consumes, not the raw input bytes.
    *
    * Scale shape: a pure per-row projection — tokenize, two array slices,
    * one rejoin; no exchange, codegen end-to-end, safe at any corpus size.
    * Emits `(id, n_tokens, n_kept, truncated, text_trunc)`. */
  def truncateTokens(docs: DataFrame, idCol: String, text: Column,
      maxTokens: Int, policy: String = "edges"): DataFrame = {
    require(maxTokens > 0, s"maxTokens must be positive, got $maxTokens")
    require(Set("head", "tail", "edges")(policy),
      s"policy must be head|tail|edges, got '$policy'")
    val toks = filter(TextAnalysis.tokens(text), t => t =!= "")
    val n = size(toks).cast(LongType)
    val max = lit(maxTokens.toLong)
    def keptOver(toksC: Column, nC: Column): Column = policy match {
      // the greatest(1, ...) guards are dead under the n > max branch this
      // feeds (start is then always >= 2), but slice THROWS on start < 1 —
      // don't bet correctness on CaseWhen never evaluating the other arm
      case "head" => slice(toksC, lit(1), max)
      case "tail" =>
        slice(toksC, greatest(lit(1L), nC - max + 1L).cast("int"), max)
      case "edges" =>
        // ceil/floor split of the budget; n > max here so both slices are
        // in range and disjoint (h + t = max < n)
        val h = lit((maxTokens + 1) / 2)
        val t = lit(maxTokens - (maxTokens + 1) / 2)
        concat(slice(toksC, lit(1), h),
          slice(toksC, greatest(lit(1L), nC - t + 1L).cast("int"), t))
    }
    docs
      .select(col(idCol), toks.as("__toks"), n.as("n_tokens"))
      .select(col(idCol), col("n_tokens"),
        when(col("n_tokens") <= max, col("__toks"))
          .otherwise(keptOver(col("__toks"), col("n_tokens"))).as("__kept"),
        (col("n_tokens") > max).as("truncated"))
      .select(col(idCol), col("n_tokens"),
        size(col("__kept")).cast(LongType).as("n_kept"), col("truncated"),
        array_join(col("__kept"), " ").as("text_trunc"))
  }

  /** Fill-in-the-middle span extraction (X115) — the data transform
    * behind FIM-trained code/text models (Bavarian et al. 2022,
    * arXiv:2207.14255): each selected document's token stream is split at
    * two hash-derived cut points into prefix [0, p_end), middle
    * [p_end, s_start) and suffix [s_start, n), and the loader re-orders
    * them PSM/SPM downstream. A `fimRate` fraction of documents is
    * transformed; the rest pass through as plain left-to-right rows.
    *
    * Everything is derived from md5 of the document id (the
    * [[graft.util.Sampling.hashBucket]] family), NOT `rand()`: the same
    * doc gets the same cuts on every run, engine, and task retry — the
    * reproducibility contract the paper's aug pipeline needs and
    * `rand()`-based spans cannot give on Spark (task retries resample).
    * Cut points are `bucket % (n+1)` — bias bounded by (n+1)/10000,
    * immaterial for span selection. Emits
    * `(id, n_tokens, fim, p_end, s_start, middle_text)`; cuts are emitted
    * for every row (they're deterministic either way), `fim` says whether
    * the loader applies them.
    *
    * Scale shape: per-row projection — two md5s, two slices; no exchange,
    * no state, codegen end-to-end. */
  def fimSpans(docs: DataFrame, idCol: String, text: Column,
      fimRate: Double = 0.9, seed: String = ""): DataFrame = {
    require(fimRate >= 0.0 && fimRate <= 1.0, s"fimRate must be in [0,1], got $fimRate")
    val toks = filter(TextAnalysis.tokens(text), t => t =!= "")
    val n = size(toks).cast(LongType)
    val id = col(idCol)
    def cut(salt: String): Column =
      pmod(Sampling.hashBucket(id, seed + salt), col("n_tokens") + 1L)
    docs
      .select(id, toks.as("__toks"), n.as("n_tokens"))
      .select(id, col("__toks"), col("n_tokens"),
        least(cut("|a"), cut("|b")).as("p_end"),
        greatest(cut("|a"), cut("|b")).as("s_start"),
        (Sampling.hashBucket(id, seed + "|fim") <
          math.round(fimRate * Sampling.Buckets)).as("fim"))
      .select(id, col("n_tokens"), col("fim"), col("p_end"), col("s_start"),
        array_join(
          slice(col("__toks"), (col("p_end") + 1L).cast("int"),
            (col("s_start") - col("p_end")).cast("int")), " ").as("middle_text"))
  }

  /** Length-bucketed batch assignment (X118) — the padding-efficiency
    * step of a variable-length loader: docs are bucketed by the smallest
    * power-of-two token capacity that fits them, shuffled
    * deterministically within (bucket, shard), and cut into fixed-count
    * batches; `batch_max`/`pad_frac` report what dynamic padding to the
    * batch's own longest doc costs, the number that justifies bucketing
    * over global shuffling in the first place.
    *
    * The capacity is computed in INTEGER space — `2^length(bin(n))` via a
    * power-of-two-exact double, never `log2` (whose float readout sits
    * below the integer at exact powers: log2(8) = 2.9999...96 on both
    * engines) — so bucket edges are bit-stable and oracle-checkable.
    *
    * `shards` bounds the serial window: a global per-bucket row_number
    * would funnel each bucket through one task (log-many buckets = a
    * handful of hot partitions at 100 TB); sharding by id-hash keeps
    * determinism, multiplies parallelism by `shards`, and batches never
    * cross shards — exactly how per-worker loaders batch anyway.
    *
    * Scale shape: per-row projections plus ONE exchange keyed
    * (bucket_cap, shard); both windows and nothing else need it (the
    * batch-max window's keys extend the exchange's, so it reuses the
    * partitioning with no second shuffle). */
  def lengthBucketBatches(docs: DataFrame, idCol: String, text: Column,
      batchSize: Int, shards: Int = 1, seed: String = ""): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val id = col(idCol)
    val n = size(filter(TextAnalysis.tokens(text), t => t =!= ""))
      .cast(LongType)
    val m = greatest(n, lit(1L))
    val cap = when(m.bitwiseAND(m - 1L) === 0L, m)
      .otherwise(pow(lit(2.0), length(bin(m)).cast(DoubleType))
        .cast(LongType))
    val wRank = Window.partitionBy(col("bucket_cap"), col("shard"))
      .orderBy(col("__sk"), id)
    val wBatch = Window.partitionBy(col("bucket_cap"), col("shard"),
      col("batch_id"))
    docs
      .select(id, n.as("n_tokens"), cap.as("bucket_cap"),
        pmod(graft.util.Sampling.hashBucket(id, seed + "|shard"), lit(shards.toLong))
          .as("shard"),
        graft.util.Sampling.hashBucket(id, seed + "|order").as("__sk"))
      .select(id, col("n_tokens"), col("bucket_cap"), col("shard"),
        col("__sk"),
        floor((row_number().over(wRank) - 1).cast(DoubleType) / batchSize)
          .cast(LongType).as("batch_id"))
      .select(id, col("n_tokens"), col("bucket_cap"), col("shard"),
        col("batch_id"),
        max(col("n_tokens")).over(wBatch).as("batch_max"))
      .select(id, col("n_tokens"), col("bucket_cap"), col("shard"),
        col("batch_id"), col("batch_max"),
        // all-empty batch (batch_max 0): zero padding by definition, not 0/0
        round(when(col("batch_max") === 0L, lit(0.0))
          .otherwise(lit(1.0) - col("n_tokens").cast(DoubleType)
            / col("batch_max").cast(DoubleType)), 6).as("pad_frac"))
  }
}
