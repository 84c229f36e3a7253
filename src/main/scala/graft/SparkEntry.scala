package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorFunctions._
import graft.operators.{Ann, AsOf, CorpusStats, Curation, Dedup, EmbedQueue, GraphAnn, Multimodal, Packing, Paging, Pq, Quantize, RankEval, SearchEngine, Sessionize, TextAnalysis}
import graft.query.{Filter, FilterOp, FilterValue, MetaCast, QueryBuilder, QueryCompiler, SortDir}

/** Driver contract (SURVEY.md §7 + builder prompt): `entry` is the flagship
  * smoke query; `queries` is one entry per implemented operator from
  * SURVEY.md §2 (+ the training-data-pipeline extensions); `oracleSql` is
  * the DuckDB-equivalent SQL for every SQL-expressible query.
  *
  * Determinism rules used throughout (so hash-compare against DuckDB is
  * exact, not approximate):
  *  - every query has a total ORDER BY (unique-key tiebreak);
  *  - double aggregates go through exact decimal accumulation, then cast
  *    back to double (both engines produce the identical double);
  *  - per-element double arithmetic (dot products etc.) is sequential and
  *    index-ordered in both engines — bit-identical results;
  *  - hashes are md5-based (never JVM-specific murmur).
  */
object SparkEntry {

  /** Fixture reader with loaded-type dispatch for the tables the driver
    * regenerates between rounds (the events.parquet lesson, applied
    * before it repeats): integer id/count columns normalize across
    * physical widths (int32 → int64 is exact), everything else the
    * engine depends on is pinned and FAILS FAST with the loaded type
    * named — never an analysis error (or a ClassCastException) deep
    * inside a consumer query. `embedding` must stay float32: a silent
    * double→float cast would hash-diverge from the DuckDB oracle reading
    * the same file, so drift there is an error by design. */
  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val raw = s.read.parquet(s"$dir/$name.parquet")
    def asLong(df: DataFrame, c: String): DataFrame =
      df.schema(c).dataType match {
        case LongType => df
        case IntegerType | ShortType => df.withColumn(c, col(c).cast(LongType))
        case other => sys.error(
          s"$name.parquet $c has unsupported type $other — expected an integer type")
      }
    def mustBeString(df: DataFrame, c: String): DataFrame =
      df.schema(c).dataType match {
        case StringType => df
        case other => sys.error(
          s"$name.parquet $c has unsupported type $other — expected STRING")
      }
    name match {
      case "embeddings" =>
        raw.schema("embedding").dataType match {
          case ArrayType(FloatType, _) => ()
          case other => sys.error(
            s"embeddings.parquet embedding has unsupported type $other — " +
              "expected ARRAY<FLOAT> (a silent cast would diverge from the oracle)")
        }
        asLong(raw, "vec_id")
      case "documents" =>
        Seq("text", "lang", "source").foldLeft(asLong(asLong(raw, "doc_id"), "n_chars"))(
          mustBeString)
      case _ => raw
    }
  }

  private val dec = DecimalType(28, 8)
  private def dsum(c: Column): Column = sum(c.cast(dec)).cast(DoubleType)
  private def ts(x: String): Column = to_timestamp(lit(x))

  /** The driver regenerates events.parquet between rounds and has already
    * changed its physical `ts` type once (TIMESTAMP(NANOS) through round 9,
    * TIMESTAMP_MICROS isAdjustedToUTC=0 from round 10), so dispatch on the
    * loaded type instead of assuming one:
    *  - NANOS read as long via `nanosAsLong`, converted with exact integer
    *    division (a double roundtrip would lose precision above 2^53 ns);
    *  - NTZ micros cast to TIMESTAMP — the session TZ is pinned to UTC, so
    *    the instant is preserved and DuckDB (which treats the naive column
    *    as UTC in its epoch functions) hash-matches;
    *  - UTC-adjusted TIMESTAMP passes through;
    *  - anything else fails fast with the loaded type named.
    */
  private[graft] def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t(s, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => raw
      case other =>
        sys.error(s"events.parquet ts has unsupported type $other — " +
          "expected TIMESTAMP(NANOS)-as-long, TIMESTAMP_NTZ, or TIMESTAMP")
    }
  }

  /** embeddings.parquet -> the engine's store schema (SURVEY.md §1.3):
    * id/post_id from vec_id, derived sketch + magnitude. */
  def embStore(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").select(
      col("vec_id").as("id"),
      col("vec_id").as("post_id"),
      lit(0).as("sequence_no"),
      col("embedding").as("vector"),
      col("label"),
      packSignBits(col("embedding")).as("binary_code"),
      vecMagnitude(col("embedding")).as("magnitude"))

  /** documents.parquet standing in for wp_posts (FIXTURES.md §A). */
  def docsAsPosts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").withColumnRenamed("doc_id", "ID")

  /** documents attributes as a postmeta-shaped EAV frame. */
  def docsAsMeta(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    d.select(col("doc_id").as("post_id"), lit("lang").as("meta_key"), col("lang").as("meta_value"))
      .unionByName(d.select(col("doc_id").as("post_id"), lit("source").as("meta_key"),
        col("source").as("meta_value")))
      .unionByName(d.select(col("doc_id").as("post_id"), lit("n_chars").as("meta_key"),
        col("n_chars").cast(StringType).as("meta_value")))
  }

  /** Deterministic synthetic URLs over documents (the corpus has no URL
    * column, q163 precedent): scheme/www/port/tracking/fragment/trailing-
    * slash noise and one malformed row, all keyed on doc_id so both
    * engines derive the identical set. */
  def syntheticUrls(s: SparkSession, dir: String): DataFrame = {
    val m = col("doc_id")
    t(s, dir, "documents").select(col("doc_id"),
      when(m % 11 === 0, lit("/relative/path"))
        .otherwise(concat(
          when(m % 4 === 0, lit("HTTP://")).otherwise(lit("https://")),
          when(m % 3 === 0, lit("WWW.")).otherwise(lit("")),
          col("source"), lit("."),
          when(m % 5 === 0, lit("co.uk"))
            .when(m % 5 === 1, lit("github.io")).otherwise(lit("example.com")),
          when(m % 7 === 0, lit(":8080")).otherwise(lit("")),
          lit("/posts/"), m.cast(StringType),
          when(m % 2 === 0, lit("/")).otherwise(lit("")),
          when(m % 3 === 1, lit("?utm_source=feed&b=2&a=1"))
            .when(m % 3 === 2, lit("?gclid=x&id=9")).otherwise(lit("")),
          when(m % 6 === 0, lit("#section")).otherwise(lit(""))))
        .as("url"))
  }

  /** Deterministic queue state derived from `events` (for oracle-checkable
    * queue-lifecycle queries q27/q28): event_id is unique -> job_id/post_id;
    * error events arrive failed with error_count = event_id % 5, purchases
    * completed, views processing (started at ts), the rest pending. */
  def queueFromEvents(s: SparkSession, dir: String): DataFrame =
    events(s, dir).select(
      col("event_id").as("job_id"),
      col("event_id").as("post_id"),
      lit(1).as("chunk_count"),
      when(col("event_type") === "error", "failed")
        .when(col("event_type") === "purchase", "completed")
        .when(col("event_type") === "view", "processing")
        .otherwise("pending").as("status"),
      col("ts").as("queued_time"),
      when(col("event_type") === "view", col("ts"))
        .otherwise(lit(null).cast(TimestampType)).as("start_time"),
      when(col("event_type") === "purchase", col("ts"))
        .otherwise(lit(null).cast(TimestampType)).as("end_time"),
      when(col("event_type") === "error", (col("event_id") % 5).cast(IntegerType))
        .otherwise(lit(0)).as("error_count"),
      lit(null).cast(StringType).as("error_message"))

  /** Disposable on-disk store copy for the mutation queries (S7-S9):
    * embeddings.parquet rows keyed (post_id = vec_id, sequence_no = 0),
    * bulk-loaded through the real [[graft.sources.EmbeddingStore]] write
    * path, so ids are 1..N in (post_id, sequence_no) order. Rebuilt from
    * scratch per call — mutation queries must not observe each other's
    * writes, and a rerun must not observe a previous run's. */
  private def tempStore(s: SparkSession, dir: String, name: String): graft.sources.EmbeddingStore = {
    val base = System.getProperty("java.io.tmpdir") +
      s"/graft_store_${name}_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    // 4 buckets: the sandbox store is ~2k rows, and each touched bucket is
    // a sequential read+rewrite+swap — bucket count scales with data volume
    // (64+ in production), not a fixed constant
    val store = new graft.sources.EmbeddingStore(s, base, numBuckets = 4)
    store.bulkLoad(t(s, dir, "embeddings").select(
      col("vec_id").as("post_id"), lit(0).as("sequence_no"),
      col("embedding").as("vector"), lit("seed").as("vector_type")))
    store
  }

  /** Deterministic projection of a store's state for the oracle compare
    * (created_at/updated_at are wall-clock — excluded by design; magnitude
    * and the first element pin the vector payload the mutation wrote). */
  private def storeState(store: graft.sources.EmbeddingStore): DataFrame =
    store.read()
      .select(col("id"), col("post_id"), col("sequence_no"), col("vector_type"),
        col("magnitude"), element_at(col("vector"), 1).cast(DoubleType).as("v0"))
      .orderBy(col("post_id"), col("sequence_no"))

  /** Flagship: the reference's two-phase ANN search (`VectorTable::search`,
    * src/VectorTable.php:73-233) with a relational pre-filter and an
    * attribute sort, on sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val emb = embStore(spark, dir)
    val posts = docsAsPosts(spark, dir)
    val meta = docsAsMeta(spark, dir)
    val q = t(spark, dir, "embeddings").filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val builder = QueryBuilder()
      .withGroup(Filter("lang", FilterOp.Eq, FilterValue.S("en")))
      .withSort(graft.query.Sort("n_chars", graft.query.SortDir.Desc))
    SearchEngine.search(emb, posts, meta, q, n = 5, builder = builder)
  }

  // ======================================================================
  // queries + oracles
  // ======================================================================

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- scans / filters / projections (S1-S6, P1-P6) ----
    "q01_pricing_summary" -> ((s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_shipdate") <= ts("1998-09-01 00:00:00"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")))
            .as("sum_charge"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),
    "q02_point_lookup" -> ((s, d) =>
      t(s, d, "orders").filter(col("o_orderkey") === 4242)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))),
    "q03_ids_lookup" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_orderkey").isin(1L, 2L, 3L, 5L, 8L, 13L, 21L, 34L))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),
    "q04_range_scan" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= ts("1997-01-01 00:00:00") &&
          col("l_shipdate") < ts("1997-03-01 00:00:00") && col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),
    "q05_like_scan" -> ((s, d) =>
      t(s, d, "part").filter(col("p_name").contains("red"))
        .select(col("p_partkey"), col("p_name"), col("p_brand"))
        .orderBy(col("p_partkey"))),
    "q06_in_scan" -> ((s, d) =>
      t(s, d, "customer")
        .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .orderBy(col("c_custkey"))),
    // ---- joins (J1-J6) ----
    "q07_semi_join" -> ((s, d) => {
      val o = t(s, d, "orders").filter(col("o_orderstatus") === "F")
      t(s, d, "customer")
        .join(o.select(col("o_custkey").as("c_custkey")), Seq("c_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name")).orderBy(col("c_custkey"))
    }),
    "q08_anti_join" -> ((s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders").filter(col("o_orderstatus") === "P")
          .select(col("o_custkey").as("c_custkey")), Seq("c_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name")).orderBy(col("c_custkey"))),
    "q09_left_join_count" -> ((s, d) => {
      val o = t(s, d, "orders")
      t(s, d, "customer").join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          coalesce(dsum(col("o_totalprice")), lit(0.0)).as("total_spend"))
        .orderBy(col("c_custkey"))
    }),
    "q10_revenue_by_nation" -> ((s, d) => {
      val c = t(s, d, "customer"); val o = t(s, d, "orders"); val l = t(s, d, "lineitem")
      val n = t(s, d, "nation"); val r = t(s, d, "region")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("r_name"), col("n_name"))
    }),
    "q11_brand_revenue" -> ((s, d) =>
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(col("p_brand"))),
    // ---- aggregation / distinct / sets (A1-A6) ----
    "q12_distinct_pairs" -> ((s, d) =>
      t(s, d, "lineitem").select(col("l_returnflag"), col("l_linestatus")).distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus"))),
    "q13_topk_orders" -> ((s, d) =>
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc).limit(10)),
    "q14_latest_order_per_customer" -> ((s, d) =>
      // latest-per-key as max(struct) hash aggregation, NOT a window: the
      // struct max is partial-aggregatable (map-side combine before the
      // shuffle) and has no per-key sort or skew funnel — the scale shape
      // for S6/T5 (`VectorTable.php:313-320`). Struct comparison is
      // field-order: (o_orderdate, o_orderkey) desc-max == the window's
      // orderBy(date desc, key desc) row 1.
      t(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(struct(col("o_orderdate"), col("o_orderkey"))).as("m"))
        .select(col("o_custkey"), col("m.o_orderkey").as("o_orderkey"),
          unix_timestamp(col("m.o_orderdate")).as("order_epoch"))
        .orderBy(col("o_custkey"))),
    "q15_pagination" -> ((s, d) =>
      t(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .offset(100).limit(25)
        .select(col("o_orderkey"), col("o_totalprice"))),
    "q16_priority_claim" -> ((s, d) =>
      // the queue claim-order shape (T6, VectorTableQueue.php:195-202) on events
      events(s, d)
        .orderBy(
          when(col("event_type") === "error", 0)
            .when(col("event_type") === "purchase", 1).otherwise(2).asc,
          col("ts").asc, col("event_id").asc)
        .limit(25)
        .select(col("event_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"))),
    "q17_status_counts" -> ((s, d) =>
      // one-pass conditional counts (A2, VectorTableQueue.php:293-303)
      events(s, d).agg(
        count(lit(1)).as("total"),
        count(when(col("event_type") === "click", 1)).as("n_click"),
        count(when(col("event_type") === "view", 1)).as("n_view"),
        count(when(col("event_type") === "purchase", 1)).as("n_purchase"),
        count(when(col("event_type") === "signup", 1)).as("n_signup"),
        count(when(col("event_type") === "error", 1)).as("n_error"))),
    "q18_running_sum" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, d).filter(col("user_id") < 50)
        .withColumn("running_value", round(sum(col("value")).over(w), 6))
        .select(col("event_id"), col("user_id"), col("running_value"))
        .orderBy(col("user_id"), col("event_id"))
    }),
    "q19_eav_exists" -> ((s, d) => {
      // EAV EXISTS predicate shape (P7, Filter.php:96-100): events as EAV
      val hits = events(s, d)
        .filter(col("event_type") === "error" && col("value") > 450)
        .select(col("user_id")).distinct()
      hits.orderBy(col("user_id"))
    }),
    "q20_eav_max_per_user" -> ((s, d) =>
      // MAX-collapse per key (A3/J4, VectorTable.php:203)
      events(s, d).filter(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(max(col("value")).as("max_purchase"))
        .orderBy(col("user_id"))),
    "q21_union_sets" -> ((s, d) => {
      val e = events(s, d)
      e.filter(col("event_type") === "purchase" && col("value") > 400).select(col("user_id"))
        .union(e.filter(col("event_type") === "error" && col("value") > 400).select(col("user_id")))
        .distinct().orderBy(col("user_id"))
    }),
    "q22_count_star" -> ((s, d) =>
      t(s, d, "lineitem").agg(count(lit(1)).as("n_lineitem"))),
    "q23_having" -> ((s, d) =>
      t(s, d, "orders").groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") >= 15).orderBy(col("o_custkey"))),
    "q24_order_by_field" -> ((s, d) => {
      // ORDER BY FIELD(id, ...) rewrite (S3/T4, VectorTable.php:266)
      import s.implicits._
      val ids = Seq(13L, 5L, 21L, 1L).zipWithIndex.toDF("o_orderkey", "__ord")
      t(s, d, "orders").join(broadcast(ids), Seq("o_orderkey"))
        .orderBy(col("__ord"))
        .select(col("o_orderkey"), col("o_totalprice"))
    }),
    // ---- EAV meta path (P7/J1/J4/T3/F5) ----
    "q25_meta_or_filter" -> ((s, d) => {
      // meta predicates mixed into an OR group + a second AND'd meta group
      // (QueryCompiler.condition's IN subqueries; Filter.php:96-100 +
      // QueryBuilder.php:108-116). n_chars compares RAW-STRING
      // lexicographic on purpose.
      val builder = QueryBuilder()
        .withGroup(
          Filter("lang", FilterOp.Eq, FilterValue.S("en"), meta = true),
          Filter("source", FilterOp.Like, FilterValue.S("src1"), meta = true))
        .withGroup(Filter("n_chars", FilterOp.Gt, FilterValue.S("300"), meta = true))
      QueryCompiler.candidatePosts(docsAsPosts(s, d), docsAsMeta(s, d), builder)
        .orderBy(col("post_id"))
    }),
    "q26_meta_sort_cast" -> ((s, d) => {
      // meta sorts under AsDecimal/AsText casts over a postmeta frame with
      // DUPLICATE keys -> exercises the MAX-collapse (VectorTable.php:203,
      // string MAX before the cast) and Sort.php:42-49 cast semantics.
      val posts = docsAsPosts(s, d)
      val dup = t(s, d, "documents").select(col("doc_id").as("post_id"),
        lit("n_chars").as("meta_key"),
        (col("n_chars") - 1).cast(StringType).as("meta_value"))
      val meta2 = docsAsMeta(s, d).unionByName(dup)
      val frame = QueryCompiler.withMetaSortKeys(posts, meta2,
        Seq("n_chars", "source"), postIdCol = "ID", rowKey = "ID")
      val qb = QueryBuilder()
        .withSort(graft.query.Sort("n_chars", SortDir.Desc, Some(MetaCast.AsDecimal)))
        .withSort(graft.query.Sort("source", SortDir.Asc, Some(MetaCast.AsText)))
      val ordered = frame
        .orderBy(QueryCompiler.sortColumns(qb, frame.apply) :+ col("ID").asc: _*)
        .limit(50)
      ordered
        .withColumn("rank", row_number().over(Window.orderBy(
          QueryCompiler.sortColumns(qb, ordered.apply) :+ col("ID").asc: _*)))
        .select(col("rank"), col("ID"), col("__meta_sort_n_chars").as("collapsed_n_chars"))
        .orderBy(col("rank"))
    }),
    // ---- queue lifecycle (Q3/Q4/Q6/Q7, VectorTableQueue.php:184-331) ----
    "q27_queue_claim" -> ((s, d) => {
      val now = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
      val (state, picked) = EmbedQueue.claimBatch(queueFromEvents(s, d), now)
      state.join(broadcast(picked), Seq("job_id"), "left_semi")
        .select(col("job_id"), col("error_count"),
          unix_micros(col("queued_time")).as("queued_us"))
        .orderBy(col("job_id"))
    }),
    "q28_queue_lifecycle" -> ((s, d) => {
      // claim -> complete evens / fail odds -> reap -> GC, injected clock
      val t1 = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
      val t2 = java.sql.Timestamp.valueOf("2024-02-01 00:10:00")
      val t3 = java.sql.Timestamp.valueOf("2024-02-02 00:00:00")
      val (q1, picked) = EmbedQueue.claimBatch(queueFromEvents(s, d), t1)
      // post_id == job_id in this fixture; collect the authoritative set
      val claimed = picked.collect().map(_.getLong(0)).toSeq
      val q2 = EmbedQueue.complete(q1, claimed.filter(_ % 2 == 0), t2)
      val q3 = EmbedQueue.fail(q2, claimed.filter(_ % 2 != 0), t2, "boom")
      val q4 = EmbedQueue.reapTimeouts(q3, t3)
      EmbedQueue.gc(q4, t3)
        .select(col("job_id"), col("status"), col("error_count"),
          coalesce(unix_micros(col("end_time")), lit(-1L)).as("end_us"))
        .orderBy(col("job_id"))
    }),
    // ---- vector core (V1-V6, §2.6) ----
    "q30_vec_magnitude" -> ((s, d) =>
      embStore(s, d).select(col("id").as("vec_id"), col("magnitude"))
        .orderBy(col("vec_id"))),
    "q31_vec_normalize_head" -> ((s, d) => {
      val nv = vecNormalize(col("embedding"))
      t(s, d, "embeddings").select(
        col("vec_id"),
        element_at(nv, 1).as("e1"),
        element_at(nv, 2).as("e2"),
        element_at(nv, 3).as("e3"))
        .orderBy(col("vec_id"))
    }),
    "q32_sign_stats" -> ((s, d) =>
      t(s, d, "embeddings").select(
        col("vec_id"),
        size(filter(col("embedding"), x => x > 0f)).as("n_pos"),
        col("label"))
        .orderBy(col("vec_id"))),
    "q33_hamming_anchor" -> ((s, d) => {
      val anchor = t(s, d, "embeddings").filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      embStore(s, d).select(
        col("id").as("vec_id"),
        hammingDist(col("binary_code"), lit(SearchEngine.packQuery(anchor))).as("hamming"))
        .orderBy(col("vec_id"))
    }),
    "q34_cosine_topk" -> ((s, d) => {
      val anchor = t(s, d, "embeddings").filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      Ann.bruteForceTopK(t(s, d, "embeddings"), "vec_id", "embedding", anchor, 20)
    }),
    "q35_knn_join" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Ann.knnJoin(e.filter(col("vec_id") < 5), e.filter(col("vec_id") >= 5),
        "vec_id", "vec_id", "embedding", "embedding", 3)
        .orderBy(col("query_id"), col("rank"))
    }),
    "q36_lsh_buckets" -> ((s, d) =>
      t(s, d, "embeddings")
        .groupBy(Ann.signBucket(col("embedding"), 12).as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"))),
    "q37_search_e2e" -> ((s, d) => {
      val q = t(s, d, "embeddings").filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      val builder = QueryBuilder().withGroup(Filter("lang", FilterOp.Eq, FilterValue.S("en")))
      SearchEngine.search(embStore(s, d), docsAsPosts(s, d), docsAsMeta(s, d), q,
        n = 5, builder = builder)
        .select(col("id"), col("hamming_distance"), col("cosine_similarity"))
    }),
    "q152_search_posts" -> ((s, d) => {
      // X111 post-level retrieval: chunks remapped many-to-one onto posts
      // (post_id = id % 50) so the per-post best-chunk aggregation is
      // actually exercised — the 1:1 test mapping would make it identity
      val q = t(s, d, "embeddings").filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      SearchEngine.searchPosts(
        embStore(s, d).withColumn("post_id", col("id") % 50),
        docsAsPosts(s, d), docsAsMeta(s, d), q, nPosts = 5)
        .orderBy(col("cosine_similarity").desc, col("post_id").asc)
    }),
    "q38_search_sorted" -> ((s, d) => {
      // q37 with a stage-4 attribute sort (VectorTable.php:195-227,
      // SearchEngine stage 4): meta n_chars AsDecimal desc. Order is
      // materialized into content via a rank column so the oracle's
      // hash-compare actually checks the sort.
      val q = t(s, d, "embeddings").filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      val builder = QueryBuilder()
        .withGroup(Filter("lang", FilterOp.Eq, FilterValue.S("en")))
        .withSort(graft.query.Sort("n_chars", SortDir.Desc, Some(MetaCast.AsDecimal)))
      val res = SearchEngine.search(embStore(s, d), docsAsPosts(s, d), docsAsMeta(s, d), q,
        n = 5, builder = builder)
      val docs = t(s, d, "documents").select(col("doc_id").as("id"), col("n_chars"))
      res.join(broadcast(docs), Seq("id"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("n_chars").desc, col("id").asc)))
        .select(col("rank"), col("id"), col("hamming_distance"), col("cosine_similarity"))
        .orderBy(col("rank"))
    }),
    "q39_lsh_topk" -> ((s, d) => {
      // LSH-bucketed ANN: probe the query's 8-bit sign bucket + all buckets
      // within hamming 1, exact cosine rerank inside (Ann.lshTopK)
      val anchor = t(s, d, "embeddings").filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      // the k-cut happens inside lshTopK on the UNROUNDED cosine; output
      // order is by id on both sides — re-sorting the rounded cosine here
      // could disagree with the oracle at a rounding tie
      Ann.lshTopK(t(s, d, "embeddings"), "vec_id", "embedding", anchor,
        k = 10, bits = 8, probeHamming = 1)
        .orderBy(col("vec_id").asc)
    }),
    // ---- dedup / text analysis (pipeline extensions) ----
    "q40_fingerprint" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))),
    "q41_exact_dup_groups" -> ((s, d) =>
      // fingerprint projected before the groupBy: the md5+regex runs once
      // per row, not in both the partial- and final-agg key paths
      t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .groupBy(col("fp"))
        .agg(count(lit(1)).as("dup_count"), min(col("doc_id")).as("canonical_id"))
        .orderBy(col("fp"))),
    "q42_minhash_sig" -> ((s, d) =>
      // staged tokens->shingles->signature (Dedup perf invariant: no
      // inline tokenizer under HOF lambdas)
      Dedup.withMinhashSignature(t(s, d, "documents"), col("text"), 3, 4)
        .select(
          col("doc_id"),
          element_at(col("sig"), 1).as("m0"), element_at(col("sig"), 2).as("m1"),
          element_at(col("sig"), 3).as("m2"), element_at(col("sig"), 4).as("m3"))
        .orderBy(col("doc_id"))),
    "q43_band_buckets" -> ((s, d) =>
      // numeric signature -> mod-64 coarse banding (was a hex-prefix
      // substring when signatures were md5 strings)
      Dedup.withMinhashSignature(t(s, d, "documents"), col("text"), 3, 4)
        .select(pmod(element_at(col("sig"), 1), lit(64L)).as("band_key"))
        .groupBy(col("band_key")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("band_key"))),
    "q44_simhash16" -> ((s, d) =>
      // staged per-token md5 array: 16 bit-votes scan one materialized
      // array instead of re-hashing every token 16 times
      Dedup.withSimhash16(t(s, d, "documents"), col("text"))
        .select(col("doc_id"), col("simhash"))
        .orderBy(col("doc_id"))),
    "q45_jaccard_pairs" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // consecutive-doc pairs; the inner join on id2 inside jaccardVerify
      // drops the last doc's dangling pair — NO literal doc-count cap
      // (a hard-coded 499 held only at sf0.01)
      val pairs = docs.select(col("doc_id").as("id1"), (col("doc_id") + 1).as("id2"))
      Dedup.jaccardVerify(pairs, docs, "doc_id", col("text"), 3)
        .orderBy(col("id1"))
    }),
    "q67_jaccard_hashed" -> ((s, d) => {
      // the cluster-scale variant of q45: set ops over 28-bit shingle
      // hashes — 8 bytes/shingle through the exchange instead of shingle
      // strings (locally the extra md5 pass costs ~what the narrower set
      // ops save; on a real network the 3x narrower shuffle wins)
      val docs = t(s, d, "documents")
      val pairs = docs.select(col("doc_id").as("id1"), (col("doc_id") + 1).as("id2"))
      Dedup.jaccardVerifyHashed(pairs, docs, "doc_id", col("text"), 3)
        .orderBy(col("id1"))
    }),
    "q46_embedding_neardup" -> ((s, d) =>
      // single 8-bit band reproduces the prefix-bucket shape the oracle
      // mirrors; the scale default is multi-band (see q53)
      Dedup.embeddingNearDups(t(s, d, "embeddings"), "vec_id", "embedding",
        bandBits = 8, numBands = 1, threshold = 0.3)
        .orderBy(col("id1"), col("id2"))),
    "q47_langid" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))),
    "q48_quality" -> ((s, d) =>
      TextAnalysis.qualityMetrics(t(s, d, "documents"), col("text"))
        .withColumn("score", TextAnalysis.qualityScore(col("text")))
        .select(col("doc_id"), col("n_tokens"), col("punct_ratio"),
          col("stopword_ratio"), col("score"))
        .orderBy(col("doc_id"))),
    "q49_token_counts" -> ((s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast(LongType).as("n_tokens"),
        TextAnalysis.approxBpeCount(col("text")).as("n_bpe"))
        .orderBy(col("doc_id"))),
    "q50_multimodal_stats" -> ((s, d) =>
      Multimodal.payloadStats(Multimodal.fromText(t(s, d, "documents"), "doc_id", "text"))
        .orderBy(col("media_id"))),
    "q53_neardup_banded" -> ((s, d) =>
      // the multi-band scale path: 4 bands x 8 sign bits (vs q46's single
      // band) — recall rises, hot-bucket population bounded per band
      Dedup.embeddingNearDups(t(s, d, "embeddings"), "vec_id", "embedding",
        bandBits = 8, numBands = 4, threshold = 0.3)
        .orderBy(col("id1"), col("id2"))),
    "q54_minhash_pairs" -> ((s, d) => {
      // end-to-end banded dedup join: documents unioned with exact clones
      // (doc_id + 100000) -> every doc must pair with its clone via LSH
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val both = docs.unionByName(
        docs.select((col("doc_id") + 100000).as("doc_id"), col("text")))
      Dedup.minhashCandidatePairs(both, "doc_id", col("text"),
        shingleN = 3, numHashes = 8, rowsPerBand = 2)
        .orderBy(col("id1"), col("id2"))
    }),
    "q55_ivf_assign" -> ((s, d) => {
      // IVF coarse quantizer: centroids = the first 4 vectors, assignment =
      // argmax dot (first max wins on ties -> lowest centroid id)
      val cents = t(s, d, "embeddings").filter(col("vec_id") < 4)
        .orderBy(col("vec_id")).collect()
        .map(r => r.getSeq[Float](r.fieldIndex("embedding")).toArray).toSeq
      Ann.ivfAssign(t(s, d, "embeddings"), "embedding", cents)
        .select(col("vec_id"), col("ivf_list"))
        .orderBy(col("vec_id"))
    }),
    "q56_chunks" -> ((s, d) =>
      // document -> overlapping token-window chunks (the reference's
      // sequence_no pipeline): 64-token windows, 16-token overlap
      t(s, d, "documents")
        .withColumn("__toks", TextAnalysis.tokens(col("text")))
        .select(col("doc_id"),
          posexplode(TextAnalysis.chunksFromTokens(col("__toks"), 64, 16)))
        .select(col("doc_id"), col("pos").as("sequence_no"),
          length(col("col")).as("chunk_len"), md5(col("col")).as("chunk_md5"))
        .orderBy(col("doc_id"), col("sequence_no"))),
    "q57_scrub" -> ((s, d) =>
      // pipeline text scrubbing: URL/e-mail removal + whitespace collapse
      t(s, d, "documents")
        .select(col("doc_id"),
          md5(TextAnalysis.scrub(col("text"))).as("scrubbed_md5"),
          length(TextAnalysis.scrub(col("text"))).as("scrubbed_len"))
        .orderBy(col("doc_id"))),
    "q58_kmeans_iter" -> ((s, d) => {
      // one deterministic Lloyd update from a fixed init (first 4 vectors):
      // assignment by argmax dot, per-(cluster, dim) decimal-exact means
      val cents = t(s, d, "embeddings").filter(col("vec_id") < 4)
        .orderBy(col("vec_id")).collect()
        .map(r => r.getSeq[Float](r.fieldIndex("embedding")).toArray).toSeq
      Ann.lloydIter(t(s, d, "embeddings"), "embedding", cents)
        .orderBy(col("cid"), col("dim"))
    }),
    "q153_ivf_index" -> ((s, d) => {
      // X112 persisted IVF: same centroids/query/nprobe as q59, but the
      // probe runs against the partitioned on-disk index — results must be
      // bit-identical to the in-memory path (the index is pure I/O)
      val embs = t(s, d, "embeddings")
      val query = embs.filter(col("vec_id") === 5).head()
      val qv = query.getSeq[Float](query.fieldIndex("embedding")).toArray
      val idx = sharedIvfIndex(s, d)
      idx.search(qv, k = 10, nprobe = 2)
        .select(col("id").as("vec_id"), col("cosine"))
        .orderBy(col("vec_id"))
    }),
    "q154_ivfpq_index" -> ((s, d) => {
      // X113 persisted IVF×PQ: q89's coarse probe + ADC scoring, but codes
      // read from the partition-pruned on-disk layout — pure I/O, results
      // bit-identical to the in-memory composition
      val embs = t(s, d, "embeddings")
      val query = embs.filter(col("vec_id") === 5L)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val idx = sharedIvfPqIndex(s, d)
      idx.searchPq(query, topK = 10, nprobe = 2)
        .select(col("id").as("vec_id"), col("adc_dist"))
        .orderBy(col("vec_id"))
    }),
    "q59_ivf_topk" -> ((s, d) => {
      // end-to-end IVF search: fixed centroids, nprobe=2 of 4 lists, exact
      // cosine top-10 inside the probed lists only
      val embs = t(s, d, "embeddings")
      val cents = embs.filter(col("vec_id") < 4)
        .orderBy(col("vec_id")).collect()
        .map(r => r.getSeq[Float](r.fieldIndex("embedding")).toArray).toSeq
      val query = embs.filter(col("vec_id") === 5).head()
      val qv = query.getSeq[Float](query.fieldIndex("embedding")).toArray
      Ann.ivfTopK(Ann.ivfAssign(embs, "embedding", cents),
        "vec_id", "embedding", cents, qv, k = 10, nprobe = 2)
        .orderBy(col("vec_id"))
    }),
    "q60_tfidf" -> ((s, d) =>
      // rational-idf variant (bit-exact cross-engine; see tfidfTopTerms):
      // top-3 terms per doc by tf * (N+1)/(df+1)
      // broadcastVocab: this corpus' vocabulary is bounded (~50k terms);
      // the operator default stays shuffle (scale-safe)
      TextAnalysis.tfidfTopTerms(t(s, d, "documents"), "doc_id", col("text"),
        topN = 3, logIdf = false, broadcastVocab = true)
        .orderBy(col("doc_id"), col("rank"))),
    "q61_quantize" -> ((s, d) =>
      // int8 scalar quantization: global per-dim min/max -> one byte per
      // dim; emitted as (vec_id, dim, q) rows for exact oracle compare
      Quantize.quantizeInt8(t(s, d, "embeddings"), "embedding")
        .select(col("vec_id"), posexplode(col("qvec")).as(Seq("dim", "q")))
        .orderBy(col("vec_id"), col("dim"))),
    "q62_asof_join" -> ((s, d) => {
      // point-in-time join: each purchase picks up the user's latest
      // click at or before it (clicks deduped per (user, ts))
      val all = events(s, d)
      val purchases = all.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val clicks = all.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"), col("value"))
        .groupBy("user_id", "click_ts")
        .agg(max(col("value")).as("click_value"))
      AsOf.asofJoin(purchases, clicks, "user_id", "ts", "click_ts",
        Seq("click_ts", "click_value"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("value"), col("click_ts"), col("click_value"))
        .orderBy(col("event_id"))
    }),
    "q63_hash_sample" -> ((s, d) =>
      // deterministic 10% corpus sample + per-source stratified variant:
      // membership is a pure function of the key (reproducible snapshots),
      // no rand(), no shuffle
      graft.util.Sampling.stratifiedHashSample(
        t(s, d, "documents"), col("doc_id"), col("source"),
        rates = Map("src0" -> 0.30, "src1" -> 0.0), defaultRate = 0.10)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))),
    "q68_dedup_groups" -> ((s, d) => {
      // end-to-end near-dup clustering: banded minhash candidates over
      // docs + exact clones, then connected components via min-label
      // propagation; label = min doc id of the component
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val both = docs.unionByName(
        docs.select((col("doc_id") + 100000).as("doc_id"), col("text")))
      Dedup.dedupGroups(Dedup.minhashCandidatePairs(both, "doc_id", col("text"),
        shingleN = 3, numHashes = 8, rowsPerBand = 2))
        .orderBy(col("id"))
    }),
    "q69_dedup_corpus" -> ((s, d) => {
      // the full dedup pipeline end-to-end: candidates -> components ->
      // keep one canonical doc per cluster; survivors = min-id per
      // component + all never-paired docs
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val both = docs.unionByName(
        docs.select((col("doc_id") + 100000).as("doc_id"), col("text")))
      val groups = Dedup.dedupGroups(Dedup.minhashCandidatePairs(both, "doc_id", col("text"),
        shingleN = 3, numHashes = 8, rowsPerBand = 2))
      Dedup.keepCanonical(both, "doc_id", groups)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),
    "q64_packing" -> ((s, d) =>
      // greedy contiguous sequence packing into 2048-token packs; prefix
      // sum via range-partition + per-partition offsets (never a global
      // single-partition window)
      Packing.packAssignments(
        t(s, d, "documents")
          .select(col("doc_id"),
            size(TextAnalysis.tokens(col("text"))).cast(LongType).as("n_tokens")),
        "doc_id", "n_tokens", capacity = 2048L)
        .orderBy(col("doc_id"))),
    "q150_pack_slices" -> ((s, d) =>
      // X109 per-pack cut list: doc-local [tok_start, tok_end) per pack a
      // doc touches — the loader-facing expansion of q64's boundaries
      Packing.packSlices(
        Packing.packAssignments(
          t(s, d, "documents")
            .select(col("doc_id"),
              size(TextAnalysis.tokens(col("text"))).cast(LongType).as("n_tokens")),
          "doc_id", "n_tokens", capacity = 2048L),
        "doc_id", "n_tokens", capacity = 2048L)
        .orderBy(col("doc_id"), col("pack_id"))),
    "q151_oov_rate" -> ((s, d) =>
      // X110 per-doc OOV rate vs the corpus's own top-50 vocabulary
      CorpusStats.oovRate(t(s, d, "documents"), "doc_id", col("text"),
        vocabSize = 50)
        .orderBy(col("doc_id"))),
    "q65_repetition" -> ((s, d) =>
      // Gopher-style repetition quality signals, per-row (no shuffle)
      TextAnalysis.repetitionSignals(t(s, d, "documents"), "doc_id", col("text"), n = 3)
        .select(col("doc_id"), col("dup_ngram_frac"), col("top_token_frac"))
        .orderBy(col("doc_id"))),
    "q66_decontaminate" -> ((s, d) => {
      // benchmark decontamination: docs 0-4 stand in for an eval set;
      // count shared 3-gram shingles from the rest of the corpus
      val docs = t(s, d, "documents")
      Dedup.contaminationScan(
        docs.filter(col("doc_id") >= 5), "doc_id", col("text"),
        docs.filter(col("doc_id") < 5).withColumnRenamed("doc_id", "bid"),
        "bid", col("text"), shingleN = 3, minOverlap = 1)
        .orderBy(col("doc_id"), col("bench_id"))
    }),
    "q70_corpus_freq" -> ((s, d) =>
      // unigram-LM quality proxy: avg corpus probability of each doc's
      // tokens; decimal-exact Σ tf·ctf, one final double division
      Curation.corpusFreqScore(t(s, d, "documents"), "doc_id", col("text"))
        .select(col("doc_id"), col("n_tokens"), col("lm_score"))
        .orderBy(col("doc_id"))),
    "q71_source_cap" -> ((s, d) =>
      // per-source cap: keep the first 20 docs per source (WindowGroupLimit
      // keeps the per-key sort partial — asserted in the plan audit)
      Curation.capPerKey(t(s, d, "documents").select(col("doc_id"), col("source")),
        col("source"), 20, col("doc_id"))
        .orderBy(col("source"), col("doc_id"))),
    "q72_shard_shuffle" -> ((s, d) =>
      // deterministic epoch shuffle: md5 shuffle key -> shard + in-shard
      // position; same seed = same permutation, unlike rand()
      Curation.shardShuffle(t(s, d, "documents").select(col("doc_id")),
        "doc_id", nShards = 8, seed = "epoch0")
        .withColumn("pos", row_number().over(
          Window.partitionBy(col("shard")).orderBy(col("shuffle_key"), col("doc_id")))
          .cast(IntegerType))
        .select(col("doc_id"), col("shuffle_key"), col("shard"), col("pos"))
        .orderBy(col("shard"), col("pos"))),
    // ---- streaming-shaped (windowed aggregation over event time) ----
    "q149_queue_window" -> ((s, d) =>
      // X24 queue windowed stats THROUGH the streaming operator itself:
      // in batch execution EliminateEventTimeWatermark drops the watermark
      // node and the aggregation is the streaming plan's — the oracle gates
      // the window/grouping/sum semantics; the watermark lateness contract
      // is pinned by QueueStreamSuite's MemoryStream test against this
      // same batch result
      graft.streaming.QueueStream.windowedStats(
        events(s, d).select(col("event_id").as("job_id"),
          col("event_type").as("status"), col("ts").as("end_time"),
          (col("event_id") % 5 + 1).cast(LongType).as("chunk_count")),
        "5 minutes", "10 minutes")
        .select(unix_timestamp(col("window.start")).as("bucket_start"),
          col("status"), col("n_jobs"), col("n_chunks"))
        .orderBy(col("bucket_start"), col("status"))),
    "q155_sliding_window" -> ((s, d) =>
      // sliding event-time windows (width 10 min, slide 5 min): every event
      // lands in exactly width/slide = 2 windows — the overlap family q51's
      // tumbling and q73's session windows don't cover
      events(s, d)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(unix_timestamp(col("w.start")).as("bucket_start"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy(col("bucket_start"), col("event_type"))),
    "q156_truncate" -> ((s, d) =>
      // X114 token-budget truncation, edges policy: keep 15 head + 15 tail
      // tokens of over-budget docs, drop the middle — per-row projection,
      // no shuffle
      Packing.truncateTokens(t(s, d, "documents"), "doc_id", col("text"),
        maxTokens = 30, policy = "edges")
        .orderBy(col("doc_id"))),
    "q157_fim_spans" -> ((s, d) =>
      // X115 fill-in-the-middle spans: md5-derived cut points (never
      // rand()), 90% of docs selected for the transform — per-row
      // projection, no shuffle
      Packing.fimSpans(t(s, d, "documents"), "doc_id", col("text"),
        fimRate = 0.9, seed = "s8")
        .orderBy(col("doc_id"))),
    "q158_rollup_datasheet" -> ((s, d) =>
      // X116 multi-granularity datasheet: leaf/per-source/global stats in
      // ONE pass via rollup (Expand + single exchange of group-sized rows)
      CorpusStats.datasheetRollup(t(s, d, "documents"), col("source"),
        "doc_id", col("text"), col("lang"))
        .orderBy(col("level"), col("key"), col("lang"))),
    "q159_span_corrupt" -> ((s, d) =>
      // X117 T5 span corruption: md5 coins at 15%, runs -> <Xk> sentinels;
      // one doc-keyed exchange shared by windows + reassembly aggregate
      TextAnalysis.spanCorrupt(t(s, d, "documents"), "doc_id", col("text"),
        noiseDensity = 0.15, seed = "s8sc")
        .orderBy(col("doc_id"))),
    "q160_length_batches" -> ((s, d) =>
      // X118 length-bucketed batching: power-of-two caps in integer space,
      // 4 hash shards x batch 8, dynamic-padding waste per row; one
      // (cap, shard)-keyed exchange serves both windows
      Packing.lengthBucketBatches(t(s, d, "documents"), "doc_id",
        col("text"), batchSize = 8, shards = 4, seed = "s8")
        .orderBy(col("doc_id"))),
    "q161_score_calibrate" -> ((s, d) =>
      // X119 cross-source score calibration: per-source percent_rank +
      // z-score under exact decimal moments; one source exchange
      Curation.scoreCalibrate(t(s, d, "documents"), col("source"),
        "doc_id", TextAnalysis.qualityScore(col("text")))
        .orderBy(col("doc_id"))),
    "q174_ivf_delete" -> ((s, d) => {
      // X129 in-place IVF deletion: build on the full corpus, delete the
      // odd ids, search — results must equal an index over the evens only
      // (centroids and the query vector are frozen external parameters)
      val embs = t(s, d, "embeddings")
      val cents = embs.filter(col("vec_id") < 4)
        .orderBy(col("vec_id")).collect()
        .map(r => r.getSeq[Float](r.fieldIndex("embedding")).toArray).toSeq
      val query = embs.filter(col("vec_id") === 5).head()
      val qv = query.getSeq[Float](query.fieldIndex("embedding")).toArray
      val dir = java.nio.file.Files.createTempDirectory("graft_ivf_del").toString
      val idx = new graft.sources.IvfIndex(s, s"$dir/ivf")
      idx.build(embs, "vec_id", "embedding", cents)
      idx.delete(embs.filter(col("vec_id") % 2 =!= 0)
        .select(col("vec_id").as("id")))
      idx.search(qv, k = 10, nprobe = 2)
        .select(col("id").as("vec_id"), col("cosine"))
        .orderBy(col("vec_id"))
    }),
    "q167_ivf_append" -> ((s, d) => {
      // X124 incremental IVF maintenance: build on the first half of the
      // corpus, append the second half against the frozen centroids —
      // search must be bit-identical to a full build (q153's oracle)
      val embs = t(s, d, "embeddings")
      val cents = embs.filter(col("vec_id") < 4)
        .orderBy(col("vec_id")).collect()
        .map(r => r.getSeq[Float](r.fieldIndex("embedding")).toArray).toSeq
      val query = embs.filter(col("vec_id") === 5).head()
      val qv = query.getSeq[Float](query.fieldIndex("embedding")).toArray
      val dir = java.nio.file.Files.createTempDirectory("graft_ivf_app").toString
      val idx = new graft.sources.IvfIndex(s, s"$dir/ivf")
      idx.build(embs.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", cents)
      idx.append(embs.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding")
      idx.search(qv, k = 10, nprobe = 2)
        .select(col("id").as("vec_id"), col("cosine"))
        .orderBy(col("vec_id"))
    }),
    "q253_phrase_planned" -> ((s, d) => {
      // X209 selectivity-ordered phrase planning: the q213 phrase with
      // the join chain anchored at the census-rarest term — pure plan
      // choice, so q213's oracle applies verbatim; a mismatch means
      // the reordering broke the adjacency intersection
      sharedInvIndex(s, d).phraseSearch(Seq("sort", "merge"))
        .orderBy(col("doc_id"))
    }),
    "q252_percolate" -> ((s, d) => {
      // X208 reverse search: an arriving batch (every tenth doc) matched
      // against the stored Boolean query table (q245's clauses) WITHOUT
      // any index — which saved searches does each new doc satisfy; the
      // alerting/routing primitive, one tokenize pass + one equi-join
      import s.implicits._
      val batch = t(s, d, "documents").filter(col("doc_id") % 10 === 0)
      val clauses = Seq(
        ("qa", "sort", "must"), ("qa", "merge", "must"),
        ("qa", "spark", "should"), ("qa", "join", "should"),
        ("qa", "bubble", "must_not"),
        ("qb", "scan", "must"), ("qb", "filter", "should"),
        ("qc", "data", "should"), ("qc", "big", "should"))
        .toDF("query_id", "term", "clause")
      TextAnalysis.percolate(batch, "doc_id", col("text"), clauses)
        .orderBy(col("query_id"), col("doc_id"))
    }),
    "q251_prf_expand" -> ((s, d) => {
      // X207 pseudo-relevance feedback (Rocchio/RM3 family): first-pass
      // BM25 top-5 → their term vectors from the pruned forward
      // sidecar → 5 most distinctive NEW terms (round-6 fb-tf·idf) →
      // re-rank with the expanded query; the oracle recomputes every
      // stage from raw text, so a drift anywhere in the two-pass
      // composition breaks the hash
      sharedInvIndex(s, d)
        .expandedBm25(Seq("sort", "merge", "spark"), k = 20)
    }),
    "q250_more_like_this" -> ((s, d) => {
      // X206 related-documents serving: the seed doc's term vector from
      // the pruned forward sidecar, top-10 distinctive terms by round-6
      // tf·idf (census df, live N), then a standard pruned BM25 over
      // those terms with the seed excluded — text never read; the
      // oracle recomputes the term selection AND the dynamic-term
      // ranking from raw text
      sharedInvIndex(s, d).moreLikeThis(docId = 7L, k = 15)
    }),
    "q249_pq_refined" -> ((s, d) => {
      // X205 ADC + exact refinement (the FAISS IndexRefineFlat tail of
      // the compressed funnel): rank the probed lists by m-byte ADC,
      // re-fetch ONLY the top refine·k survivors' raw vectors from the
      // SAME probed directories (partition-pruned AND candidate-
      // filtered), rerank by exact cosine — search()'s output shape
      val embs = t(s, d, "embeddings")
      val query = embs.filter(col("vec_id") === 5L)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      sharedIvfPqIndex(s, d)
        .searchPqRefined(query, k = 10, nprobe = 2, refine = 3)
        .select(col("id").as("vec_id"), col("cosine"))
        .orderBy(col("vec_id"))
    }),
    "q248_pruned_serve" -> ((s, d) => {
      // X204 static index pruning (Carmel et al. SIGIR '01): BM25 over
      // the keep-50-per-term pruned serving copy with ORIGINAL
      // statistics (census df, full doclens) — per-term serve I/O is
      // bounded by keepPerTerm regardless of how hot the term is, and
      // every returned doc's score is exactly its full-index score
      // (pruning can only drop low-impact hits, never perturb a
      // score); the oracle replicates the (tf DESC, doc ASC) top-50
      // survivor rule and the original-stats arithmetic
      sharedPrunedIndex(s, d)
        .bm25CensusDf(Seq("sort", "merge", "spark"), k = 20)
    }),
    "q247_script_langid" -> ((s, d) => {
      // X203 script profile + script-aware language ID over the mixed
      // corpus: per-doc Han/kana/Thai/Latin codepoint counts (the
      // multilingual curation signal) and langIdScript — the stopword
      // vote where tokenization works, the script-class fallback where
      // a CJK/Thai run is one opaque token (q47's langId answers 'und'
      // there)
      val m = mixedDocs(s, d)
      TextAnalysis.scriptProfile(m.select(col("doc_id"), col("text")),
          col("text"))
        .withColumn("lang_pred", TextAnalysis.langIdScript(col("text")))
        .drop("text")
        .orderBy(col("doc_id"))
    }),
    "q239_unicode_vocab" -> ((s, d) => {
      // X198 unsegmented-script fallback: vocabulary census over the
      // mixed-script corpus through the unicode tokens mode — each
      // CJK/Thai codepoint is its own unit, so the per-character df/cf
      // rows exist AT ALL (the whitespace mode would collapse every
      // run into one opaque token); restricted to the unsegmented-class
      // units so the gate pins exactly the new behavior
      val m = mixedDocs(s, d)
      m.select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"), unicode = true)).as("term"))
        .filter(col("term") =!= "")
        .filter(col("term").rlike(TextAnalysis.UnsegRe))
        .groupBy(col("term"))
        .agg(count_distinct(col("doc_id")).as("df"), count(lit(1)).as("cf"))
        .orderBy(col("term"))
    }),
    "q240_unicode_bm25" -> ((s, d) => {
      // X198 through the FULL persisted serving path: an inverted index
      // built over segmentUnicode(text) ranks per-character CJK query
      // units next to an ASCII term with the exact q214 arithmetic —
      // the index layout, census and BM25 serve all work unchanged on
      // the segmented token stream
      sharedUInvIndex(s, d).bm25(Seq("機", "習", "sort"), k = 20)
    }),
    "q241_unicode_shingles" -> ((s, d) => {
      // X198 through shingle dedup: q45's consecutive-pair jaccard over
      // the mixed corpus with segmented text — CJK/Thai runs shingle as
      // per-character 3-grams instead of one opaque token, so near-dup
      // statistics stay meaningful on unsegmented scripts
      val m = mixedDocs(s, d)
      val pairs = m.select(col("doc_id").as("id1"),
        (col("doc_id") + 1).as("id2"))
      Dedup.jaccardVerify(pairs, m, "doc_id",
          TextAnalysis.segmentUnicode(col("text")), 3)
        .orderBy(col("id1"))
    }),
    "q267_collapse" -> ((s, d) => {
      // X224 field collapsing (ES collapse + inner_hits): the BM25
      // top-50 folded to one representative per source with its two
      // runner-up inner hits — the "3 results from the same site" fix,
      // attribute grouping distinct from content dedup (q243)
      SearchEngine.collapseByField(
        sharedInvIndex(s, d).bm25(Seq("sort", "merge", "spark"), k = 50),
        t(s, d, "documents"), "doc_id", col("source"), k = 10, innerHits = 2)
    }),
    "q270_sigterms_served" -> ((s, d) => {
      // X227 census-served significant terms: "what is different about
      // the hits" — the q214 BM25 top-20 as the foreground, df_fg from
      // the hit docs' PRUNED forward term vectors, df_bg from the
      // census sidecar, text never tokenized at query time (the hit-id
      // collect is the bounded scalar anchor, the MLT/PRF shape)
      val idx = sharedInvIndex(s, d)
      val fgIds = idx.bm25(Seq("sort", "merge", "spark"), k = 20)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSeq.sorted
      idx.significantTerms(fgIds, n = 15, minDf = 2L)
    }),
    "q266_sig_terms" -> ((s, d) => {
      // X223 significant_terms (ES JLH): which terms are significantly
      // more frequent in the German docs than corpus-wide — absolute
      // lift × relative lift over doc frequencies, superset background,
      // minDf=2 against one-doc flukes
      TextAnalysis.significantTerms(t(s, d, "documents"), "doc_id",
        col("text"), col("lang") === "de", n = 15, minDf = 2L)
    }),
    "q265_rank_eval" -> ((s, d) => {
      // X222 offline ranking evaluation: two BM25 runs scored against
      // deterministic graded qrels (every n_chars%7 doc, grade
      // 1 + doc_id%3) — nDCG@20 / MRR / recall@20 per query, the
      // trec_eval conventions; the oracle recomputes runs, judgments
      // and metrics from scratch
      import org.apache.spark.sql.expressions.Window
      val idx = sharedInvIndex(s, d)
      def ranked(qid: String, terms: Seq[String]) =
        idx.bm25(terms, k = 20)
          .withColumn("query_id", lit(qid))
          .withColumn("rank", row_number().over(
            Window.partitionBy(lit(1))
              .orderBy(col("score").desc, col("doc_id").asc)))
      val run = ranked("qa", Seq("sort", "merge"))
        .unionByName(ranked("qb", Seq("spark", "stream")))
      val qrels = t(s, d, "documents")
        .filter(col("n_chars") % 7 === 0)
        .select(col("doc_id"),
          (lit(1) + col("doc_id") % 3).cast(IntegerType).as("rel"))
      val both = Seq("qa", "qb")
        .map(q => qrels.withColumn("query_id", lit(q)))
        .reduce(_ unionByName _)
      RankEval.rankEval(run, both, k = 20).orderBy(col("query_id"))
    }),
    "q263_span_first" -> ((s, d) => {
      // X220 SpanFirstQuery: docs whose 'sort' occurrence starts in the
      // first 3 positions, served from the term-pruned postings slice
      // (position predicate + doc-keyed aggregate; text never read)
      TextAnalysis.spanFirst(
          sharedInvIndex(s, d).termPostings(Seq("sort")), "sort", end = 3)
        .orderBy(col("doc_id"))
    }),
    "q264_field_boost" -> ((s, d) => {
      // X221 field_value_factor rescorer (ES function_score): the BM25
      // top-50 re-ranked by score × ln(1 + n_chars) — a static
      // per-document signal folded into relevance, the standard
      // top-N-rescore composition
      SearchEngine.fieldValueBoost(
        sharedInvIndex(s, d).bm25(Seq("sort", "merge", "spark"), k = 50),
        t(s, d, "documents"), "doc_id", col("n_chars"), k = 20)
    }),
    "q262_wildcard" -> ((s, d) => {
      // X219 wildcard query under Lucene's top-terms blended rewrite:
      // 's*' expands against the census (vocabulary-sized read, no
      // postings I/O to expand) to the 4 highest-df matches, which then
      // score as ONE blended SynonymQuery group — maxExpansions
      // exercises the Lucene expansion cut
      sharedInvIndex(s, d).wildcardSearch("s*", k = 20, maxExpansions = 4)
    }),
    "q258_syn_bm25" -> ((s, d) => {
      // X215 SynonymQuery BM25 served from the shared persisted index:
      // (sort|order) and (fast|quick) each score as ONE pseudo-term —
      // tf summed, df blended to the group max ('quick' is absent from
      // the corpus, so its group degrades to 'fast' exactly) — next to
      // the plain term 'merge'; Lucene SynonymQuery semantics, never
      // the double-counting naive OR expansion
      sharedInvIndex(s, d).bm25Synonyms(
        Seq(Seq("sort", "order"), Seq("fast", "quick"), Seq("merge")), k = 20)
    }),
    "q259_bm25f" -> ((s, d) => {
      // X218 BM25F (Robertson & Zaragoza CIKM'04): head = first 8
      // tokens (title proxy, weight 2), body = the rest (weight 1);
      // per-field length norms feed ONE saturation curve — a title hit
      // outranks a body hit without double-dipping the k1 saturation
      TextAnalysis.bm25fTopK(t(s, d, "documents"), "doc_id", col("text"),
        headLen = 8, Seq("sort", "merge", "spark"), k = 20)
    }),
    "q268_bm25f_served" -> ((s, d) => {
      // X225 index-served BM25F: q259's exact ranking from the fielded
      // sidecar — per-field tf from the query terms' PRUNED buckets,
      // per-field doclens from the sidecar, the ranking core shared
      // with the tokenize path (bit-identical by construction); text
      // never read at query time
      sharedInvIndex(s, d).bm25fTopK(Seq("sort", "merge", "spark"), k = 20)
    }),
    "q260_decay_rank" -> ((s, d) => {
      // X216 exponential-decay function score (ES function_score exp
      // decay): users ranked by half-life-weighted event counts —
      // recent activity dominates, stale activity fades smoothly; the
      // decay anchor is max(ts) over the input, never the wall clock
      Sessionize.decayedActivity(events(s, d), col("user_id"), col("ts"),
        lit(1.0), halfLifeDays = 7.0, k = 20)
    }),
    "q261_mmr_rerank" -> ((s, d) => {
      // X217 MMR diversified re-rank (Carbonell & Goldstein SIGIR'98):
      // q34's exact top-50 candidates, greedily re-cut to 10 trading
      // relevance against max-similarity-to-selected (λ=0.7) — near-dup
      // hits stop crowding the page; bounded m makes the greedy a
      // driver-side loop over collected side data by contract
      val anchor = t(s, d, "embeddings").filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      Ann.mmrRerank(t(s, d, "embeddings"), "vec_id", "embedding",
        anchor, m = 50, k = 10, lambda = 0.7)
    }),
    "q277_derived_maintain" -> ((s, d) => {
      // X235 derived-artifact maintenance: build the index + all three
      // rebuild-on-cadence sidecars on HALF the corpus, append the
      // other half, then let the policy detect the drift and rebuild —
      // the decision record is the output, the rebuilds run for real
      // (a lifecycle-class row); the oracle recomputes the drift
      // arithmetic from the corpus counts
      val docs = t(s, d, "documents")
      val dir = java.nio.file.Files.createTempDirectory("graft_dmaint").toString
      val idx = new graft.sources.InvertedIndex(s, s"$dir/inv")
      idx.build(docs.filter(col("doc_id") % 2 === 0), "doc_id", col("text"))
      idx.buildDerived(8) // all three sidecars from one postings scan (r22)
      idx.append(docs.filter(col("doc_id") % 2 =!= 0), "doc_id", col("text"))
      idx.maintainDerived(maxStaleFrac = 0.1)
    }),
    "q331_derived_delta" -> ((s, d) => {
      // X287 the q277 attribution split: the same artifact set, but the
      // drift is one SMALL append (a tenth of the base), so every acted
      // row runs its O(delta-files) mechanism — forward/fielded
      // delta-apply, blockmax adopt — never a corpus rebuild; the
      // verbose decision record pins the CHOSEN mode per artifact and
      // the oracle recomputes both the drift arithmetic and the modes.
      // The base is a QUARTER of the corpus: this row prices the
      // increment, and the one-off build it needs should not dominate
      // the board (q277 already prices a bigger build)
      val docs = t(s, d, "documents")
      val dir = java.nio.file.Files.createTempDirectory("graft_ddelta").toString
      val idx = new graft.sources.InvertedIndex(s, s"$dir/inv")
      idx.build(docs.filter(col("doc_id") % 4 === 0), "doc_id", col("text"))
      idx.buildDerived(8) // all three sidecars from one postings scan (r22)
      idx.append(docs.filter(col("doc_id") % 40 === 1), "doc_id", col("text"))
      idx.maintainDerivedVerbose(maxStaleFrac = 0.02)
    }),
    "q276_phrase_suggest" -> ((s, d) => {
      // X234 phrase suggester (ES phrase suggester = direct generator
      // + LM rerank): per-slot fuzzy corrections from the census
      // cross-multiply into whole-phrase candidates, reranked by the
      // persisted Stupid-Backoff model's perplexity — "did you mean
      // sort merge spark" for the misspelled QUERY, not single terms
      val idx = sharedInvIndex(s, d)
      val lm = sharedNgramLm(s, d)
      val cands = TextAnalysis.phraseCandidates(idx.vocab(),
        Seq("sorrt", "mergee", "spark"), perTermK = 2)
      val scored = lm.score(cands, "phrase", col("phrase"))
      cands.join(scored, Seq("phrase"))
        .select(col("phrase"), col("n_changes"), col("xent"), col("ppl"))
        .orderBy(col("ppl").asc, col("phrase").asc)
        .limit(5)
    }),
    "q274_explain" -> ((s, d) => {
      // X232 the _explain API: per-term BM25 breakdown of the q214
      // top-1 document — tf/df/idf/partial rows whose round-6 partials
      // sum to exactly the served score (same arithmetic, same stats
      // expressions); the relevance-debugging surface
      val idx = sharedInvIndex(s, d)
      val top = idx.bm25(Seq("sort", "merge", "spark"), k = 1)
        .select(col("doc_id")).head().getLong(0)
      idx.explain(Seq("sort", "merge", "spark"), top)
    }),
    "q275_span_near" -> ((s, d) => {
      // X233 ordered span-near (Lucene SpanNearQuery inOrder): 'merge'
      // followed by 'sort' within 3 positions over the pruned postings
      // slice — phrase-with-slop, direction-sensitive unlike q215
      TextAnalysis.spanNearOrdered(
        sharedInvIndex(s, d).termPostings(Seq("merge", "sort")),
        "merge", "sort", maxDist = 3)
        .orderBy(col("doc_id"))
    }),
    "q272_dis_max" -> ((s, d) => {
      // X230 dis_max (Lucene DisjunctionMaxQuery): two query variants
      // ranked independently over the FULL corpus, combined per doc as
      // best + 0.3·(sum − best) — strongest-field-wins with smooth
      // weak-corroboration credit; legs are the uncut round-6 rankings
      // so the max semantics hold for every matching doc
      val idx = sharedInvIndex(s, d)
      SearchEngine.disMax(Seq(
        idx.bm25Ranked(Seq("sort", "merge")),
        idx.bm25Ranked(Seq("spark", "stream"))), k = 20, tieBreaker = 0.3)
    }),
    "q273_boosting" -> ((s, d) => {
      // X231 boosting query (ES boosting compound): the q214 ranking
      // with docs containing 'bubble' DEMOTED to 0.3x instead of
      // excluded — negative context without must_not's recall loss;
      // the negative membership is one pruned postings projection
      val idx = sharedInvIndex(s, d)
      SearchEngine.boostingQuery(
        idx.bm25Ranked(Seq("sort", "merge", "spark")),
        idx.termPostings(Seq("bubble")).select(col("doc_id")),
        k = 20, negativeBoost = 0.3)
    }),
    "q271_serp_page" -> ((s, d) => {
      // X229 the rendered SERP page: q257's fused hit set collapsed by
      // source (X224 — one site, one slot, runner-ups as inner hits)
      // next to the page's facet rail (X182 over lang/source) — the
      // collapse + facets composition a production result page renders
      // on top of the fused ranking. Sections share one scalar schema:
      // ('collapse', rank, source, 'rep|inner_ids', n_group, rrf) and
      // ('facet', rank, key, value, count, 0.0).
      val (fused, _) = serpFused(s, d)
      val docs = t(s, d, "documents")
      val hits = fused.select(col("vec_id").as("doc_id"),
        col("rrf").as("score"))
      val coll = SearchEngine.collapseByField(hits, docs, "doc_id",
          col("source"), k = 5, innerHits = 2)
        .select(lit("collapse").as("section"), col("rank"),
          col("field_value").as("k1"),
          concat(col("doc_id").cast(StringType), lit("|"),
            col("inner_ids")).as("k2"),
          col("n_group").cast(LongType).as("n"), col("score"))
      val fac = SearchEngine.facetCounts(hits, "doc_id",
          docsAsMeta(s, d), Seq("lang", "source"), topM = 3)
        .select(lit("facet").as("section"), col("rank"),
          col("meta_key").as("k1"), col("meta_value").as("k2"),
          col("n").cast(LongType).as("n"), lit(0.0).as("score"))
      coll.union(fac).orderBy(col("section"), col("rank"), col("k1"))
    }),
    "q257_serp_full" -> ((s, d) => {
      // X206+X207 threaded into the X188 serving stack — the full
      // production SERP: fuzzy-corrected BM25 (msm=2), the dense IVF
      // leg, AND the PRF-expanded recall-rescue leg (X207) fused by
      // RRF; plus the MLT "related" rail (X206) for the top fused hit.
      // Output: ('hit', rank, vec_id, rrf) rows for the fused top-10
      // and ('related', rank, vec_id, bm25) rows for the rail — every
      // stage served from persisted layouts, the oracle recomputes all
      // of it from raw text/embeddings
      import org.apache.spark.sql.expressions.Window
      val (fused, inv) = serpFused(s, d)
      val hits = fused
        .withColumn("rank", row_number().over(
          Window.orderBy(col("rrf").desc, col("vec_id").asc)))
        .select(lit("hit").as("section"), col("rank"),
          col("vec_id"), col("rrf").as("score"))
      val top = fused.orderBy(col("rrf").desc, col("vec_id").asc)
        .head().getAs[Long]("vec_id")
      val related = inv.moreLikeThis(top, k = 5, topTerms = 10)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)))
        .select(lit("related").as("section"), col("rank"),
          col("doc_id").as("vec_id"), col("score"))
      hits.union(related).orderBy(col("section"), col("rank"))
    }),
    "q256_percolate_store" -> ((s, d) => {
      // X212 percolation at stored-query scale: an arriving batch
      // (every twentieth doc) matched against the PERSISTED 10k-alert
      // table — stored-clause I/O prunes to the batch vocabulary's
      // term buckets at the file listing, the clause gate reads the
      // totals sidecar; the oracle regenerates the same 10k queries
      // from the corpus vocabulary and runs the same join in DuckDB
      val batch = t(s, d, "documents").filter(col("doc_id") % 20 === 0)
      sharedQueryStore(s, d).percolate(batch, "doc_id", col("text"))
        .orderBy(col("query_id"), col("doc_id"))
    }),
    "q283_phrase_prefix" -> ((s, d) => {
      // X240 match_phrase_prefix (the search-box query): 'sort'
      // immediately followed by a token starting 'mer' — the prefix
      // expands from its tprefix census partition (pruned at the file
      // listing), positions from the pruned buckets, text never read
      sharedInvIndex(s, d)
        .phrasePrefixSearch(Seq("sort"), "mer", maxExpansions = 10)
        .orderBy(col("doc_id"))
    }),
    "q282_multi_snippets" -> ((s, d) => {
      // X239 multi-fragment highlighting (ES number_of_fragments=3):
      // q218's serving shape with three non-overlapping densest
      // windows per hit doc — greedy order is the fragment order;
      // anchors from the pruned term buckets, text refetched once for
      // the 20 hit docs only
      val docs = t(s, d, "documents")
      val idx = sharedInvIndex(s, d)
      val terms = Seq("sort", "merge", "spark")
      val top = idx.bm25(terms, k = 20).select(col("doc_id"))
      TextAnalysis.snippetsMulti(
        docs.join(top, Seq("doc_id"), "left_semi"), "doc_id", col("text"),
        idx.termPostings(terms).join(top, Seq("doc_id"), "left_semi"),
        terms, window = 8, nFrags = 3)
        .orderBy(col("doc_id"), col("frag"))
    }),
    "q281_index_merge" -> ((s, d) => {
      // X238 segment-merge at layout grain: two indexes built over
      // disjoint corpus halves, one adopted into the other through the
      // atomic staging protocol (source-proportional, source
      // untouched), then BM25 served from the merged layout — q214's
      // oracle verbatim, because merge(evens, odds) must answer
      // exactly like build(all)
      val docs = t(s, d, "documents")
      val dir = java.nio.file.Files.createTempDirectory("graft_merge").toString
      val a = new graft.sources.InvertedIndex(s, s"$dir/a")
      val bx = new graft.sources.InvertedIndex(s, s"$dir/b")
      a.build(docs.filter(col("doc_id") % 2 === 0), "doc_id", col("text"))
      bx.build(docs.filter(col("doc_id") % 2 =!= 0), "doc_id", col("text"))
      a.mergeFrom(bx)
      a.bm25(Seq("sort", "merge", "spark"), k = 20)
    }),
    "q279_percentiles" -> ((s, d) => {
      // X237 exact percentiles (ES percentiles agg, exact/type-7 form
      // spelled relationally so both engines run the IDENTICAL
      // interpolation): p50/p90/p99 of event value per event type
      Sessionize.percentilesExact(events(s, d), col("event_type"),
          col("value"), Seq(0.5, 0.9, 0.99))
        .orderBy(col("key"), col("p"))
    }),
    "q348_hybrid_maxsim" -> ((s, d) => {
      // X299 composed: q180's text+vector RRF grown to THREE legs —
      // BM25 (lexical), exact cosine (pooled single-vector), MaxSim
      // (late-interaction over the vec_id%50 chunk groups, q344's
      // token set) — the lexical/dense/late-interaction triple a
      // modern RAG stack fuses; ids share the 0..N fixture domain
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents")
      val embs = t(s, d, "embeddings")
      val qv = embs.filter(col("vec_id") === 0L)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val bmLeg = TextAnalysis.bm25TopK(docs, "doc_id", col("text"),
          Seq("sort", "merge", "spark"), k = 20)
        .select(col("doc_id").as("vec_id"), col("score"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("vec_id").asc)))
      val cosLeg = Ann.bruteForceTopK(embs, "vec_id", "embedding", qv, k = 20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("cosine").desc, col("vec_id").asc)))
      val toks = embs.filter(col("vec_id") < 4)
        .orderBy(col("vec_id")).select("embedding").collect()
        .map(_.getSeq[Float](0).toArray).toSeq
      val msLeg = Ann.maxSimTopK(embs, col("vec_id") % 50, "embedding",
          toks, k = 20)
        .select(col("doc_key").as("vec_id"), col("maxsim"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("maxsim").desc, col("vec_id").asc)))
      Ann.rrfFuse(Seq(bmLeg, cosLeg, msLeg), "vec_id", k = 10)
    }),
    "q347_moving_percentiles" -> ((s, d) =>
      // X303 ES moving_percentiles, exact form: per hourly bucket the
      // p50/p90 over the trailing 3 buckets' raw values (the
      // sketch-merge window run exactly); empty trailing windows null
      Sessionize.movingPercentiles(events(s, d), col("ts"), col("value"),
        widthSeconds = 3600L, windowW = 3, ps = Seq(0.5, 0.9))
        .orderBy(col("bucket_start"), col("p"))),
    "q345_graph_beam" -> ((s, d) => {
      // X301 graph-ANN serve mechanics under a hash gate: exact 6-NN
      // digraph over the vec_id<200 slice (SQL-expressible adjacency),
      // then the distributed beam search with the window DISABLED —
      // the walk visits exactly the entry's reachable set, which the
      // oracle mirrors as a recursive CTE; top-10 among visited. Gates
      // frontier expansion, visited dedup, scoring, and the tie rule;
      // graph QUALITY is q346 + suite recall territory
      val e = t(s, d, "embeddings").filter(col("vec_id") < 200)
      val adj = knn6Adjacency(e)
      val anchor = e.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      try GraphAnn.beamSearchTopK(adj, e, "vec_id", "embedding", anchor,
        k = 10, beamWidth = Int.MaxValue, maxHops = 64, entryId = Some(0L))
      finally graft.util.Pins.release(adj)
    }),
    "q349_graph_store_serve" -> ((s, d) => {
      // X304 persisted graph serve: the q345 adjacency written to the
      // gbucket=N layout and the SAME exhaustive walk served from
      // per-hop partition-pruned reads — q345's oracle verbatim, so a
      // layout that dropped/duplicated edges or pruned the wrong
      // buckets answers wrong
      val e = t(s, d, "embeddings").filter(col("vec_id") < 200)
      val adj = knn6Adjacency(e)
      val dir = java.nio.file.Files.createTempDirectory("graft_gidx").toString
      val gi = new graft.sources.GraphIndex(s, s"$dir/g")
      try gi.build(adj) finally graft.util.Pins.release(adj)
      val anchor = e.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      gi.searchTopK(e, "vec_id", "embedding", anchor,
        k = 10, beamWidth = Int.MaxValue, maxHops = 64, entryId = Some(0L))
    }),
    "q350_graph_store_delete" -> ((s, d) => {
      // X304 lazy tombstone semantics under the hash gate: delete the
      // entry node (!) and one more id, then the same exhaustive walk —
      // deleted nodes still ROUTE (reachability unchanged, entry
      // included) but never RETURN; oracle = q345's reachable set with
      // the tombstoned ids excluded from the final cut only
      import s.implicits._
      val e = t(s, d, "embeddings").filter(col("vec_id") < 200)
      val adj = knn6Adjacency(e)
      val dir = java.nio.file.Files.createTempDirectory("graft_gidx_del").toString
      val gi = new graft.sources.GraphIndex(s, s"$dir/g")
      try gi.build(adj) finally graft.util.Pins.release(adj)
      gi.delete(Seq(0L, 7L).toDF("id"))
      val anchor = e.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      gi.searchTopK(e, "vec_id", "embedding", anchor,
        k = 10, beamWidth = Int.MaxValue, maxHops = 64, entryId = Some(0L))
    }),
    "q352_graph_append" -> ((s, d) => {
      // X307 FreshDiskANN insert under the serve gate: build the graph
      // WITHOUT the vec_id%7==0 nodes, insert two of them (ids 0/7 —
      // present at every SF), then the exhaustive walk from entry 1 —
      // the inserted nodes must be reachable through their reverse
      // edges and score like any resident. Rows-only by design
      // (graph-dependent); the suite pins the insert contracts. Two
      // inserts, not more: each is ~a beam walk of driver-scheduled
      // jobs, and the walk count is the row's floor (job-count-bound)
      import s.implicits._
      val e = t(s, d, "embeddings").filter(col("vec_id") < 200)
        .localCheckpoint(true)
      val base = e.filter(col("vec_id") % 7 =!= 0)
      val g = GraphAnn.buildVamana(base, "vec_id", "embedding",
        r = 8, alpha = 1.2, rounds = 2)
      val dir = java.nio.file.Files.createTempDirectory("graft_gappend").toString
      val gi = new graft.sources.GraphIndex(s, s"$dir/g")
      try gi.build(g) finally graft.util.Pins.release(g)
      gi.append(e, "vec_id", "embedding",
        Seq(0L, 7L).toDF("id"), r = 8, searchBeam = 12,
        entryId = Some(1L))
      val anchor = e.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      // beam 32, not exhaustive: the gate is "the inserted node is
      // findable through its reverse edges" (its own vector must rank
      // it first), which any fixed beam preserves deterministically —
      // exhaustive walks are q345/q349/q350's oracle territory
      try gi.searchTopK(e, "vec_id", "embedding", anchor,
        k = 10, beamWidth = 32, maxHops = 64, entryId = Some(1L))
      finally graft.util.Pins.release(e)
    }),
    "q351_beam_sweep" -> ((s, d) => {
      // X306 beam operating-point curve (the X141 nprobe sweep on the
      // graph tier): recall@8 vs beamWidth over the SHARED persisted
      // vamana graph (build amortized outside timing, the serve-many
      // split), two probe queries — deterministic but not
      // SQL-expressible (graph-dependent), so rows-only by design; the
      // suite pins monotonicity and the exhaustive-beam ceiling
      val e = t(s, d, "embeddings").filter(col("vec_id") < 200)
        .localCheckpoint(true)
      val g = sharedGraphIndex(s, d).edges().localCheckpoint(true)
      try {
        val probes = e.filter(col("vec_id").isin(2, 5))
          .select("vec_id", "embedding").collect()
          .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq
          .sortBy(_._1)
        GraphAnn.beamSweep(g, e, "vec_id", "embedding", probes,
          k = 8, beamWidths = Seq(8, 32), entryId = Some(0L))
      } finally { graft.util.Pins.release(g); graft.util.Pins.release(e) }
    }),
    "q346_vamana_recall" -> ((s, d) => {
      // X300 Vamana build + beam serve graded against the exact scan:
      // recall@10 per probe query (vec_id 0-3) on the vec_id<200
      // slice — deterministic (hash-seeded build, id-asc ties) but not
      // SQL-expressible (iterative alpha-prune), so rows-only by
      // design; the suite pins the build contracts
      val e = t(s, d, "embeddings").filter(col("vec_id") < 200)
        .localCheckpoint(true)
      val g = GraphAnn.buildVamana(e, "vec_id", "embedding",
        r = 8, alpha = 1.2, rounds = 2)
      try {
        val probes = e.filter(col("vec_id") < 4)
          .select("vec_id", "embedding").collect()
          .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq
          .sortBy(_._1)
        // independent read-only probe chains over the same pinned
        // frames — overlapped (util.Par, guide §2.6); order preserved,
        // so the rows are identical to the sequential loop's
        val rows = graft.util.Par.map(probes) { case (qid, qv) =>
          val exact = Ann.bruteForceTopK(e, "vec_id", "embedding", qv, 10)
            .collect().map(_.getLong(0)).toSet
          val got = GraphAnn.beamSearchTopK(g, e, "vec_id", "embedding",
            qv, k = 10, beamWidth = 32, entryId = Some(0L))
            .collect().map(_.getLong(0))
          val hits = got.count(exact)
          (qid, hits.toLong, math.round(hits / 10.0 * 1e6) / 1e6)
        }
        import s.implicits._
        rows.toDF("qid", "n_hits", "recall_at_10").orderBy(col("qid"))
      } finally { graft.util.Pins.release(g); graft.util.Pins.release(e) }
    }),
    "q344_maxsim" -> ((s, d) => {
      // X299 ColBERT MaxSim late interaction (Khattab & Zaharia,
      // SIGIR '20): 4 query token vectors (vec_id 0-3, the q34 anchor
      // convention) against vec_id%50 chunk-grouped docs (the q102
      // convention) — per-token max cosine over each doc's chunks,
      // round-6 decimal-summed, top 10. Tokens ride as literals; chunk
      // vectors never cross an exchange (map-side partial MAX)
      val toks = t(s, d, "embeddings").filter(col("vec_id") < 4)
        .orderBy(col("vec_id")).select("embedding").collect()
        .map(_.getSeq[Float](0).toArray).toSeq
      Ann.maxSimTopK(t(s, d, "embeddings"), col("vec_id") % 50, "embedding",
        toks, k = 10)
    }),
    "q343_ip_range" -> ((s, d) => {
      // X298 ES ip_range: dotted-quad ips derived from event ids (the
      // PARSER is the capability — strict reject-don't-guess IPv4 →
      // long), two deliberately malformed classes prove the null path,
      // overlapping + open-ended + empty ranges per the ES conventions
      val id = col("event_id")
      val ip = when(id % 97 === 0, lit("not-an-ip"))
        .when(id % 89 === 0, lit("300.1.2.3"))
        .otherwise(concat(lit("10."),
          pmod(shiftright(id, 16), lit(256)).cast(StringType), lit("."),
          pmod(shiftright(id, 8), lit(256)).cast(StringType), lit("."),
          pmod(id, lit(256)).cast(StringType)))
      CorpusStats.ipRangeAgg(events(s, d).select(id, ip.as("ip")),
          col("ip"), Seq(
            (Some("10.0.0.0"), Some("10.0.128.0")),
            (Some("10.0.128.0"), None),
            (None, Some("10.0.0.64")),
            (Some("10.0.0.32"), Some("10.0.192.0")),
            (Some("11.0.0.0"), Some("12.0.0.0")))) // empty, still emits
        .orderBy(col("key"))
    }),
    "q342_top_metrics" -> ((s, d) => {
      // X296 ES top_metrics (size 1): per lang the LONGEST doc's
      // metrics — one max_by aggregate, no window, ties to the highest
      // doc_id (the documented deterministic tail)
      CorpusStats.topMetrics(t(s, d, "documents"), col("lang"),
          col("n_chars"), col("doc_id"), Seq(
            "top_chars" -> col("n_chars"),
            "top_source" -> col("source"),
            "top_doc" -> col("doc_id")))
        .orderBy(col("key"))
    }),
    "q341_normalize" -> ((s, d) => {
      // X295 ES normalize pipeline agg: all six methods over the daily
      // series — the metric is ln(n) (score-scale, the softmax
      // contract; e^ln(n) = n keeps the softmax denominator exact and
      // bounded at every SF)
      // the daily aggregate feeds all six method calls (each of which
      // also runs its own one-row stats pass) — pinned once so the
      // events table is scanned ONCE, not ~12×; the harness releases
      // after the union materializes (Bench/Verify per-query release)
      val daily = events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("bucket_start"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(true)
      val metric = log(col("n").cast(DoubleType))
      Seq("rescale_0_1", "rescale_0_100", "percent_of_sum",
          "mean", "zscore", "softmax")
        .map(mm => Sessionize.normalizeBucket(daily, metric, mm)
          .select(lit(mm).as("method"), col("bucket_start"), col("n"),
            col("normalized")))
        .reduce(_ unionAll _)
        .orderBy(col("method"), col("bucket_start"))
    }),
    "q337_string_stats" -> ((s, d) => {
      // X291 ES string_stats: per-lang length panel + base-2 character
      // entropy, each char's term round-6 decimal-summed (order-free)
      CorpusStats.stringStats(t(s, d, "documents"), col("lang"),
          col("text"))
        .orderBy(col("key"))
    }),
    "q338_boxplot" -> ((s, d) => {
      // X292 ES boxplot agg, exact form: five-number summary of event
      // value per type — X237's type-7 interpolation pivoted
      Sessionize.boxplot(events(s, d), col("event_type"), col("value"))
        .orderBy(col("key"))
    }),
    "q339_mad" -> ((s, d) => {
      // X293 ES median_absolute_deviation, exact: deviations measured
      // against the round-6 median the first pass publishes
      Sessionize.madExact(events(s, d), col("event_type"), col("value"))
        .orderBy(col("key"))
    }),
    "q280_bucket_pipeline" -> ((s, d) => {
      // X236 ES pipeline aggregations over a gap-filled min_doc_count=0
      // histogram: hourly event counts with cumulative_sum, derivative
      // and a trailing 3-bucket moving average — empty buckets zero-
      // filled first, so the pipeline metrics never skip time
      Sessionize.bucketPipeline(events(s, d), col("ts"),
          widthSeconds = 3600L, movingW = 3)
        .orderBy(col("bucket_start"))
    }),
    "q278_percolate_point" -> ((s, d) => {
      // X212's hot path priced on its own: ONE arriving document
      // against the persisted 10k-alert store — the alerting serve
      // (which saved searches fire for this doc?), where the clause
      // read prunes to the single doc's vocabulary buckets at the
      // file listing; q256 prices the bulk-batch shape
      val one = t(s, d, "documents").filter(col("doc_id") === 40)
      sharedQueryStore(s, d).percolate(one, "doc_id", col("text"))
        .orderBy(col("query_id"))
    }),
    "q269_qstore_lifecycle" -> ((s, d) => {
      // X212 stored-query lifecycle (the q220 pattern on the
      // percolation side): clone the shared 10k store's on-disk layout
      // into the lifecycle path (the build is a deterministic fixture,
      // so a file copy IS a fresh build — the build-once/serve-many
      // split priced in q256 stays clean and this row prices the
      // MAINTENANCE walk), then append 100 single-must alerts,
      // unsubscribe every 20th stored query, run the X186 maintain
      // POLICY with both thresholds crossed (5% tombstoned > 1%;
      // appended part-files > 1/bucket) so vacuum (physical removal)
      // AND compact (one file per bucket) both act, and percolate the
      // q256 batch from what survived — every maintenance step runs
      // for real on disk; the oracle recomputes only the SURVIVING
      // clause table, so corrupted state anywhere in the walk breaks
      // the hash.
      val dir = java.nio.file.Files.createTempDirectory("graft_qs_lc").toString
      val src = sharedQueryStore(s, d).storePath
      val conf = s.sparkContext.hadoopConfiguration
      val hfs = new org.apache.hadoop.fs.Path(src).getFileSystem(conf)
      org.apache.hadoop.fs.FileUtil.copy(hfs, new org.apache.hadoop.fs.Path(src),
        hfs, new org.apache.hadoop.fs.Path(s"$dir/qs"), false, conf)
      val qs = new graft.sources.QueryStore(s, s"$dir/qs")
      // the ranked vocabulary feeds the append fixture twice (count +
      // join): pin it once, released after the append materializes
      val vocab = rankedVocab(s, d).localCheckpoint(true)
      try {
        qs.append(appendedClausesFrom(s, vocab, vocab.count().toInt))
      } finally graft.util.Pins.release(vocab)
      qs.delete(s.range(0, 10000).filter(col("id") % 20 === 0)
        .select(concat(lit("q"), col("id").cast(IntegerType)).as("query_id")))
      // the policy, not bare actions: both thresholds crossed, so the
      // report (forced materialized) must show vacuum AND compact acted
      val acted = qs.maintain(maxFilesPerBucket = 1, maxTombstoneFrac = 0.01)
        .collect().map(r => r.getString(0) -> r.getBoolean(3)).toMap
      require(acted == Map("vacuum" -> true, "compact" -> true),
        s"maintain policy missed a crossed threshold: $acted")
      val batch = t(s, d, "documents").filter(col("doc_id") % 20 === 0)
      qs.percolate(batch, "doc_id", col("text"))
        .orderBy(col("query_id"), col("doc_id"))
    }),
    "q255_maxscore_bm25" -> ((s, d) => {
      // X211 MaxScore cut over the block-max sidecar: q214's exact
      // query and oracle (the optimization is result-invariant — the
      // MaxScore theorem only ever skips docs provably below the kth
      // score), with the per-doc scoring work bounded by the essential
      // (high-ceiling, rare) terms' candidates whenever the term-
      // ceiling math proves the hot terms non-essential
      sharedInvIndex(s, d).bm25MaxScore(Seq("sort", "merge", "spark"), k = 20)
    }),
    "q254_bigram_bm25" -> ((s, d) => {
      // X198 finished with character-BIGRAM units (Lucene CJKAnalyzer /
      // CJKBigramFilter): the persisted index built over
      // segmentUnicodeBigram(text) ranks overlapping CJK pairs (機械,
      // 学習) next to an ASCII term with the exact q214 arithmetic —
      // bigram units restore idf contrast the per-character fallback
      // (q240) lacks, the known CJK ranking fix
      sharedBInvIndex(s, d).bm25(Seq("機械", "学習", "sort"), k = 20)
    }),
    "q242_hot_term_skip" -> ((s, d) => {
      // X199 hot-term serve policy: BM25 with maxDfFrac — the term
      // whose census df exceeds the fraction of the live doc count
      // ('merge' at this corpus) is elided before any postings I/O
      // (its idf ≈ 0; its postings ∝ the corpus); the oracle mirrors
      // the skip rule itself, so WHICH term is hot is decided by the
      // data on both sides
      sharedInvIndex(s, d)
        .bm25(Seq("sort", "merge", "spark"), k = 20, maxDfFrac = 0.78)
    }),
    "q243_serving_dedup" -> ((s, d) => {
      // X193 threaded into the X188 stack — the real SERP order: fuse,
      // THEN collapse by content fingerprint (best-ranked survivor per
      // fingerprint), THEN snippet only the surviving hits
      val (fused, inv, corrected, docs) = servingStack(s, d)
      val hits = fused.select(col("vec_id").as("doc_id"), col("r0"),
        col("r1"), col("rrf").as("score"))
      val deduped = SearchEngine.dedupHits(hits, docs, "doc_id",
        col("text"), k = 10)
      val snips = TextAnalysis.snippets(
        docs.join(deduped.select(col("doc_id")), Seq("doc_id"), "left_semi"),
        "doc_id", col("text"), inv.termPostings(corrected), corrected,
        window = 8)
      deduped.join(snips, Seq("doc_id"), "left")
        .orderBy(col("doc_id"))
    }),
    "q244_ql_batch" -> ((s, d) => {
      // X197 in the X196 batch shape: Dirichlet QL top-5 per query for
      // a 3-query batch (one OOV term exercises the skip rule) in ONE
      // pruned pass — per-(doc,term) tf, shared cf/C, candidates × query
      // terms grid for the smoothing of zero-tf terms
      import s.implicits._
      val idx = sharedInvIndex(s, d)
      val queries = Seq(
        ("qa", "sort"), ("qa", "merge"),
        ("qb", "spark"), ("qb", "merge"),
        ("qc", "join"), ("qc", "zzznotaword")).toDF("query_id", "term")
      idx.qlBatch(queries, k = 5)
    }),
    "q245_boolean_batch" -> ((s, d) => {
      // X194 in the X196 batch shape: three Boolean queries (qa = the
      // q235 clauses — per-query parity with booleanSearch is oracle-
      // visible) answered from one pruned pass over the batch
      // vocabulary's buckets
      import s.implicits._
      val idx = sharedInvIndex(s, d)
      val clauses = Seq(
        ("qa", "sort", "must"), ("qa", "merge", "must"),
        ("qa", "spark", "should"), ("qa", "join", "should"),
        ("qa", "bubble", "must_not"),
        ("qb", "scan", "must"), ("qb", "filter", "should"),
        ("qc", "data", "should"), ("qc", "big", "should"))
        .toDF("query_id", "term", "clause")
      idx.booleanSearchBatch(clauses, minShould = 1)
        .orderBy(col("query_id"), col("doc_id"))
    }),
    "q238_sql_served_bm25" -> ((s, d) => {
      // X189 under the oracle gate: the ENTIRE q214 BM25 serving path
      // expressed as ONE spark.sql statement over the registered layout
      // views — tf from the postings view with stock-SQL md5 bucket
      // predicates (constant-folded to PartitionFilters), stats from
      // the doclens view, the exact bm25Rank arithmetic in SQL text.
      // Same oracle as q214: the SQL route and the Scala route must
      // produce the identical ranking.
      val idx = sharedInvIndex(s, d)
      new graft.sources.StoreCatalog(s)
        .registerInvertedIndex("graft_svc", idx.indexPath)
      s.sql(sqlServedBm25("graft_svc", idx.bucketCount))
    }),
    "q246_live_sql_delete" -> ((s, d) => {
      // X200 liveness under the oracle gate: register the views FIRST,
      // tombstone a seventh of the corpus AFTER registration, then run
      // the q238 SQL verbatim — the live provider must serve q217's
      // survivor ranking (N/avgdl/df all shrunk) with no
      // re-registration; the snapshot views this replaces would
      // resurrect the deleted docs here
      val docs = t(s, d, "documents")
      val dir = java.nio.file.Files.createTempDirectory("graft_sqllive").toString
      val idx = new graft.sources.InvertedIndex(s, s"$dir/inv")
      idx.build(docs, "doc_id", col("text"))
      new graft.sources.StoreCatalog(s)
        .registerInvertedIndex("graft_liv", s"$dir/inv")
      idx.delete(docs.filter(col("doc_id") % 7 === 0).select(col("doc_id")))
      s.sql(sqlServedBm25("graft_liv", idx.bucketCount))
    }),
    "q237_ql_rank" -> ((s, d) => {
      // X197 Dirichlet query-likelihood (Zhai & Lafferty '01): the
      // classic LM ranker served from the persisted index — tf from
      // pruned buckets, collection stats (cf, C) from the stored
      // layout, candidates restricted to ≥1-term matches, smoothing
      // exact for their zero-tf terms
      sharedInvIndex(s, d).qlTopK(Seq("sort", "merge", "spark"), k = 20)
    }),
    "q236_bm25_batch" -> ((s, d) => {
      // X196 batched BM25: top-5 per query for a 3-query batch in ONE
      // pruned pass over the persisted index (per-(doc,term) tf, shared
      // df/N/avgdl, one scoring join) — the bulk-serving shape where
      // looping bm25 would re-read the index per query
      import s.implicits._
      val idx = sharedInvIndex(s, d)
      val queries = Seq(
        ("qa", "sort"), ("qa", "merge"),
        ("qb", "spark"), ("qb", "merge"),
        ("qc", "join")).toDF("query_id", "term")
      idx.bm25Batch(queries, k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),
    "q235_boolean_search" -> ((s, d) => {
      // X194 set-Boolean retrieval served from the persisted index:
      // MUST sort+merge, SHOULD≥1 of spark/join, MUST_NOT bubble — one
      // pruned postings slice, one aggregate, text never read
      val idx = sharedInvIndex(s, d)
      idx.booleanSearch(must = Seq("sort", "merge"),
          should = Seq("spark", "join"), mustNot = Seq("bubble"),
          minShould = 1)
        .orderBy(col("doc_id"))
    }),
    "q234_lm_remove" -> ((s, d) => {
      // X195 subtractive model maintenance: build the persisted n-gram
      // LM on the full corpus, REMOVE a seventh (exact count
      // subtraction, new blue/green version), then score the full
      // corpus — must equal a model counted on the survivors directly
      // (q200's oracle with the reference side filtered)
      val docs = t(s, d, "documents")
      val dir = java.nio.file.Files.createTempDirectory("graft_lm_rm").toString
      val lm = new graft.sources.NgramLm(s, s"$dir/lm")
      lm.build(docs, "doc_id", col("text"))
      lm.remove(docs.filter(col("doc_id") % 7 === 0), "doc_id", col("text"))
      lm.score(docs, "doc_id", col("text")).orderBy(col("doc_id"))
    }),
    "q233_dedup_hits" -> ((s, d) => {
      // X193 SERP dedup: the FULL index-served BM25 ranking collapsed by
      // content fingerprint (best-ranked survivor per duplicate group),
      // re-cut to the top-20 — a result page never shows one document
      // twice; text fingerprinted only for the hit docs
      val docs = t(s, d, "documents")
      val idx = sharedInvIndex(s, d)
      SearchEngine.dedupHits(
          idx.bm25Ranked(Seq("sort", "merge", "spark")),
          docs, "doc_id", col("text"), k = 20)
        .select(col("doc_id"), col("score"), col("fp"))
    }),
    "q232_prefix_suggest" -> ((s, d) => {
      // X192 search-as-you-type: top-5 completions per prefix ranked
      // (df DESC, term ASC), served from the persisted index's census
      // sidecar — neither the text nor the postings layout is read
      // (the X190 plan audit), and the X226 tprefix partitions prune
      // the census read to the prefixes' first-character buckets at
      // the file listing; the oracle recounts the vocabulary
      val idx = sharedInvIndex(s, d)
      TextAnalysis.prefixSuggest(
        idx.vocabForPrefixes(Seq("so", "mer", "zz")),
        Seq("so", "mer", "zz"), topK = 5)
        .orderBy(col("prefix"), col("rank"))
    }),
    "q231_pq_carry" -> ((s, d) => {
      // X185/X156 carry the compressed layout: build BOTH layouts, split
      // list 0, merge the halves back — the PQ codes relocate with the
      // raw lists (no re-encode), so a FULL-probe ADC search over the
      // walked index must equal ADC over the untouched corpus (the
      // q154 oracle with probe pruning dropped)
      val embs = t(s, d, "embeddings")
      val coarse = embs.filter(col("vec_id") < 4).orderBy(col("vec_id"))
        .select(col("embedding")).collect().map(_.getSeq[Float](0).toArray).toSeq
      val books = Pq.seedCodebooks(embs, "vec_id", "embedding", m = 4, k = 4)
      val query = embs.filter(col("vec_id") === 5L)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val dir = java.nio.file.Files.createTempDirectory("graft_pq_carry").toString
      val idx = new graft.sources.IvfIndex(s, s"$dir/ivf")
      idx.buildWithPq(embs, "vec_id", "embedding", coarse, books) // one assign pass (r22)
      val newId = idx.splitList(0, lloydIters = 1).map(_._1)
        .getOrElse(sys.error("fixture list 0 must split"))
      idx.mergeLists(0, newId)
      idx.searchPq(query, topK = 10, nprobe = idx.centroids().size)
        .select(col("id").as("vec_id"), col("adc_dist"))
        .orderBy(col("vec_id"))
    }),
    "q230_census_lifecycle" -> ((s, d) => {
      // X190 census lifecycle (the q220 pattern on the stats side):
      // build on half the corpus, append the other half (additive
      // census rows), tombstone a seventh (read-side subtraction),
      // vacuum (postings, doclens and census in one batch), compact
      // (merge-sum) — then serve fuzzy suggestions from the census.
      // The oracle recounts the SURVIVING corpus's vocabulary, so a
      // census drift anywhere in the walk breaks the hash; the serve
      // itself never reads the postings layout (suite plan audit).
      val docs = t(s, d, "documents")
      val dir = java.nio.file.Files.createTempDirectory("graft_census_lc").toString
      val idx = new graft.sources.InvertedIndex(s, s"$dir/inv")
      idx.build(docs.filter(col("doc_id") % 2 === 0), "doc_id", col("text"))
      idx.append(docs.filter(col("doc_id") % 2 =!= 0), "doc_id", col("text"))
      idx.delete(docs.filter(col("doc_id") % 7 === 0).select(col("doc_id")))
      idx.vacuum()
      idx.compact()
      TextAnalysis.fuzzySuggestVocab(idx.vocab(),
          Seq("sorrt", "mergee", "spark"), topK = 5)
        .orderBy(col("qterm"), col("rank"))
    }),
    "q229_serving_facets" -> ((s, d) => {
      // X188 (facet tail): the same fused serving stack as q228, with
      // q222's facet counts computed over the FUSED top-10 — result-page
      // facets for the full hybrid pipeline, every leg from disk
      val (fused, _, _, _) = servingStack(s, d)
      SearchEngine.facetCounts(fused.select(col("vec_id").as("doc_id")),
          "doc_id", docsAsMeta(s, d), Seq("lang", "source"), topM = 5)
        .orderBy(col("meta_key"), col("rank"))
    }),
    "q228_serving_stack" -> ((s, d) => {
      // X188 serving-stack integration: every persisted serving leg
      // composed end-to-end from on-disk layouts in ONE query — fuzzy
      // term correction from the index census (X183/X190 sidecar), BM25
      // with minimum-should-match over the corrected terms (X173/X184),
      // the dense IVF leg (X112), RRF fusion (X77), query-biased
      // snippets for the fused hits (X177). The oracle recomputes the
      // whole pipeline from raw text/embeddings — a corruption anywhere
      // in the composition breaks the hash.
      val (fused, inv, corrected, docs) = servingStack(s, d)
      val snips = TextAnalysis.snippets(
        docs.join(fused.select(col("vec_id").as("doc_id")),
          Seq("doc_id"), "left_semi"),
        "doc_id", col("text"), inv.termPostings(corrected), corrected,
        window = 8)
      fused.join(snips.withColumnRenamed("doc_id", "vec_id"),
          Seq("vec_id"), "left")
        .orderBy(col("vec_id"))
    }),
    "q227_bm25_page" -> ((s, d) => {
      // X187 keyset-paged BM25 from the persisted index: page 2 of 10
      // under the (round-6 score DESC, doc_id ASC) total order, cursor
      // = page 1's last emitted row — the oracle is the OFFSET
      // statement of the same order (the q219 equivalence on q214's
      // ranking); no OFFSET discard ever runs engine-side
      val idx = sharedInvIndex(s, d)
      val terms = Seq("sort", "merge", "spark")
      val p1 = idx.bm25Page(terms, 10).collect()
      val cursor = (p1.last.getDouble(2), p1.last.getLong(0))
      idx.bm25Page(terms, 10, Some(cursor))
    }),
    "q226_ivf_merge" -> ((s, d) => {
      // X185 in-place list merge (the dual of q202's split): build the
      // q153 index, merge lists 1 and 2 (slot 3 renumbers into 2, the
      // centroid set shrinks to 3), then FULL-probe search — an exact
      // scan before and after, so q202's oracle applies verbatim; the
      // merge must be invisible to it
      val embs = t(s, d, "embeddings")
      val cents = embs.filter(col("vec_id") < 4)
        .orderBy(col("vec_id")).collect()
        .map(r => r.getSeq[Float](r.fieldIndex("embedding")).toArray).toSeq
      val query = embs.filter(col("vec_id") === 5).head()
      val qv = query.getSeq[Float](query.fieldIndex("embedding")).toArray
      val dir = java.nio.file.Files.createTempDirectory("graft_ivf_merge").toString
      val idx = new graft.sources.IvfIndex(s, s"$dir/ivf")
      idx.build(embs, "vec_id", "embedding", cents)
      idx.mergeLists(1, 2)
      idx.search(qv, k = 10, nprobe = idx.centroids().size)
        .select(col("id").as("vec_id"), col("cosine"))
        .orderBy(col("vec_id"))
    }),
    "q225_bm25_msm" -> ((s, d) => {
      // X184 minimum-should-match: BM25 restricted to docs containing
      // at least 2 of the 3 query terms — the Lucene/ES precision knob
      // — served from the persisted index; the gate filters SCORED
      // rows, so idf/avgdl match q214's exactly for the survivors
      sharedInvIndex(s, d).bm25(Seq("sort", "merge", "spark"), k = 20, msm = 2)
    }),
    "q224_index_fuzzy" -> ((s, d) => {
      // X183 served from the persisted layout: the vocabulary census
      // comes from the index's live postings (tombstones excluded —
      // none here), text never read; q223's oracle applies verbatim
      val idx = sharedInvIndex(s, d)
      TextAnalysis.fuzzySuggestVocab(idx.vocab(),
          Seq("sorrt", "mergee", "spark"), topK = 5)
        .orderBy(col("qterm"), col("rank"))
    }),
    "q223_fuzzy_suggest" -> ((s, d) => {
      // X183 "did you mean": distance-1 vocabulary matches for two
      // misspellings and one exact term, SymSpell deletion-neighborhood
      // candidates + exact levenshtein verify. The oracle brute-forces
      // the V×Q cross join the engine's equi-join avoids — same answer,
      // opposite plan (the differential IS the scale claim).
      TextAnalysis.fuzzySuggest(t(s, d, "documents"), "doc_id", col("text"),
          Seq("sorrt", "mergee", "spark"), topK = 5)
        .orderBy(col("qterm"), col("rank"))
    }),
    "q222_facet_counts" -> ((s, d) => {
      // X182 result-page facets: per facet key, the top-5 meta values
      // among the BM25 top-20 hits — the reference's EAV surface (P7)
      // composed with the persisted retrieval path; hit ids broadcast,
      // the meta scan prunes to the facet keys
      val idx = sharedInvIndex(s, d)
      val hits = idx.bm25(Seq("sort", "merge", "spark"), k = 20)
      SearchEngine.facetCounts(hits, "doc_id", docsAsMeta(s, d),
          Seq("lang", "source"), topM = 5)
        .orderBy(col("meta_key"), col("rank"))
    }),
    "q221_index_stats" -> ((s, d) => {
      // X181 per-bucket index health after a deletion batch: the census
      // reports what queries SEE (tombstones excluded), so the oracle
      // is the survivors' tokenize census grouped by the replicated
      // 28-bit md5 bucket — hash-skew and vacuum-debt monitoring gated
      // end-to-end
      val docs = t(s, d, "documents")
      val dir = java.nio.file.Files.createTempDirectory("graft_inv_st").toString
      val idx = new graft.sources.InvertedIndex(s, s"$dir/inv")
      idx.build(docs, "doc_id", col("text"))
      idx.delete(docs.filter(col("doc_id") % 7 === 0).select(col("doc_id")))
      idx.stats().orderBy(col("tbucket"))
    }),
    "q220_inverted_lifecycle" -> ((s, d) => {
      // X180 inverted-index lifecycle integration (the q203 pattern on
      // the text side): build on half the corpus, append the other
      // half, tombstone a seventh, vacuum (physical removal), compact
      // (one file per bucket) — then serve BM25 from what survived.
      // Every maintenance step ran for real on disk; the oracle only
      // sees the final corpus (q217's oracle verbatim), so a step that
      // corrupted state anywhere in the walk breaks the hash.
      val docs = t(s, d, "documents")
      val dir = java.nio.file.Files.createTempDirectory("graft_inv_lc").toString
      val idx = new graft.sources.InvertedIndex(s, s"$dir/inv")
      idx.build(docs.filter(col("doc_id") % 2 === 0), "doc_id", col("text"))
      idx.append(docs.filter(col("doc_id") % 2 =!= 0), "doc_id", col("text"))
      idx.delete(docs.filter(col("doc_id") % 7 === 0).select(col("doc_id")))
      idx.vacuum()
      idx.compact()
      idx.bm25(Seq("sort", "merge", "spark"), k = 20)
    }),
    "q324_media_audit" -> ((s, d) => {
      // X281 media audit (batch surface of the ingest stream): a mixed
      // bucket — each doc becomes one of the four container families by
      // id — classified and metadata'd per row, no decode, no shuffle
      val docs = t(s, d, "documents")
      val m = Multimodal.fromTextAsMp4s(
          docs.filter(col("doc_id") % 4 === 0), "doc_id", "text")
        .unionAll(Multimodal.fromTextAsMp3s(
          docs.filter(col("doc_id") % 4 === 1), "doc_id", "text"))
        .unionAll(Multimodal.fromTextAsOggs(
          docs.filter(col("doc_id") % 4 === 2), "doc_id", "text"))
        .unionAll(Multimodal.fromTextAsMkvs(
          docs.filter(col("doc_id") % 4 === 3), "doc_id", "text"))
      graft.streaming.MediaAuditStream.audit(m)
        .orderBy(col("media_id"))
    }),
    "q322_ogg_scan" -> ((s, d) => {
      // X280 Ogg page-layer walk WITHOUT decode: pages, logical
      // streams, packets (lacing-table boundaries) and the end-of-
      // stream granule — the duration anchor — from the OggS headers
      Multimodal.oggScan(Multimodal.fromTextAsOggs(
          t(s, d, "documents"), "doc_id", "text"))
        .orderBy(col("media_id"))
    }),
    "q323_mkv_meta" -> ((s, d) => {
      // X280 Matroska EBML varint walk: timestamp scale, duration,
      // track count parsed from the real element tree
      Multimodal.mkvMeta(Multimodal.fromTextAsMkvs(
          t(s, d, "documents"), "doc_id", "text"))
        .orderBy(col("media_id"))
    }),
    "q319_mp4_meta" -> ((s, d) => {
      // X278 ISO-BMFF metadata WITHOUT decode: brand/timescale/duration/
      // sample count/track dims parsed from the real box tree (mvhd/
      // tkhd/stsz) of deterministic PNG-sample mp4 fixtures — the
      // media-audit step of a 100 TB pipeline; payloads never shuffle
      Multimodal.mp4Meta(Multimodal.fromTextAsMp4s(
          t(s, d, "documents"), "doc_id", "text"))
        .orderBy(col("media_id"))
    }),
    "q320_mp4_frames" -> ((s, d) => {
      // X278 the demux side: stsz/stco/stsc sample extraction + real
      // javax.imageio PNG decode of every second frame (the q127
      // contract on the ISO-BMFF container)
      Multimodal.demuxFrames(Multimodal.fromTextAsMp4s(
          t(s, d, "documents"), "doc_id", "text"), stride = 2)
        .orderBy(col("media_id"), col("frame_no"))
    }),
    "q321_mp3_scan" -> ((s, d) => {
      // X279 MP3 header walk WITHOUT decode: frame count, sample rate,
      // bitrate profile (CBR/VBR), exact duration from the 4-byte
      // frame headers alone — the mp3val/ffprobe metadata pass
      Multimodal.mp3Scan(Multimodal.fromTextAsMp3s(
          t(s, d, "documents"), "doc_id", "text"))
        .orderBy(col("media_id"))
    }),
    "q334_id3_tags" -> ((s, d) => {
      // X289 ID3v2 tag walk: the tagged fixture's title/artist/album
      // parse back, AND the stream scan is tag-transparent — n_frames
      // and duration from the join must equal the untagged q321 walk
      // (the structural skip reads the declared tag length, never
      // byte-scans tag text)
      val media = Multimodal.fromTextAsTaggedMp3s(
        t(s, d, "documents"), "doc_id", "text")
      Multimodal.id3Tags(media)
        .join(Multimodal.mp3Scan(media).select(
          col("media_id"), col("n_frames"), col("duration_ms")),
          Seq("media_id"))
        .orderBy(col("media_id"))
    }),
    "q315_date_range" -> ((s, d) => {
      // X274 date_range agg: weekly-ish [from,to) buckets over the
      // event stream, one conditional-count aggregate row unpivoted —
      // overlap allowed, the empty pre-2024 bucket still emits, to is
      // exclusive (ES conventions); ts NTZ cast under the UTC session
      CorpusStats.dateRangeAgg(events(s, d),
        col("ts").cast(DataTypes.TimestampType), Seq(
          (Some("2024-01-01 00:00:00"), Some("2024-01-08 00:00:00")),
          (Some("2024-01-08 00:00:00"), Some("2024-01-15 00:00:00")),
          (Some("2024-01-15 00:00:00"), None),
          (None, Some("2024-01-01 00:00:00"))))
        .orderBy(col("key"))
    }),
    "q316_bucket_sort" -> ((s, d) => {
      // X275 bucket_sort pipeline: daily event buckets re-ordered by
      // doc count desc (ties by bucket_start — the documented
      // deterministic tail), skip 2, keep 5 — the ES from/size pair as
      // a TakeOrderedAndProject heap, never a driver-side slice
      val daily = events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("bucket_start"))
        .agg(count(lit(1)).as("n"))
      Sessionize.bucketSort(daily, Seq(("n", false)), from = 2,
        size = Some(5))
    }),
    "q317_span_within" -> ((s, d) => {
      // X273 span_within (Lucene SpanWithinQuery): 'merge' occurrences
      // sitting INSIDE a full 'table merge' phrase span — span-grain
      // containment over the two terms' pruned postings only; a merge
      // NOT preceded by table does not match, where a Boolean AND
      // would match the whole doc
      TextAnalysis.spanWithin(
        sharedInvIndex(s, d).termPostings(Seq("table", "merge")),
        "merge", Seq("table", "merge"))
        .orderBy(col("doc_id"))
    }),
    "q318_span_containing" -> ((s, d) => {
      // X273 span_containing: the dual — 'table merge' spans that
      // contain a 'merge' (every span, pinning the two surfaces
      // against each other on real data: n_spans ≡ span count)
      TextAnalysis.spanContaining(
        sharedInvIndex(s, d).termPostings(Seq("table", "merge")),
        "merge", Seq("table", "merge"))
        .orderBy(col("doc_id"))
    }),
    "q311_filters_agg" -> ((s, d) => {
      // X269 filters agg (ES named buckets): per-filter doc counts in
      // ONE pass — a single conditional-count aggregate row unpivoted
      // by a bounded stack, no per-filter scan, no row-mass shuffle;
      // every requested bucket emits (zero included) plus the
      // other_bucket_key remainder
      CorpusStats.filtersAgg(t(s, d, "documents"), Seq(
          "en" -> (col("lang") === "en"),
          "de" -> (col("lang") === "de"),
          "long" -> (length(col("text")) > 500),
          "nolang" -> (col("lang") === "xx")),
        otherBucketKey = Some("rest"))
        .orderBy(col("key"))
    }),
    "q312_significant_text" -> ((s, d) => {
      // X270 significant_text (ES): JLH over the RE-TOKENIZED text of
      // the q214 hit docs — foreground df from the hits' own text,
      // background df + corpus size from the census sidecar (one
      // vocabulary-sized read, postings never opened)
      val idx = sharedInvIndex(s, d)
      val hitIds = idx.bm25(Seq("sort", "merge", "spark"), k = 20)
        .select(col("doc_id"))
      val hits = t(s, d, "documents")
        .join(hitIds, Seq("doc_id"), "left_semi")
      idx.significantText(hits, "doc_id", col("text"), n = 15, minDf = 2L)
    }),
    "q313_auto_cal_histogram" -> ((s, d) => {
      // X271 calendar auto_date_histogram: orders span 1995-01..2001-08
      // (SF-invariant) — 7d needs ~345 buckets, 1M needs 80, 3M fits
      // 40 ⇒ the engine negotiates quarters; gapless UTC quarter
      // starts, the interval string in the result like ES
      // o_orderdate is parquet TIMESTAMP_NTZ; the UTC-pinned session
      // makes the instant cast the identity wall-clock reading
      Sessionize.autoDateHistogramCalendar(t(s, d, "orders"),
          col("o_orderdate").cast(DataTypes.TimestampType),
          targetBuckets = 40)
        .orderBy(col("bucket_start"))
    }),
    "q314_ql_hot_skip" -> ((s, d) => {
      // X199 hot-term policy on the QL surface (the q242 pattern): the
      // stop-class term ('merge' at this corpus, df > 0.78·N by the
      // census — the DATA decides) elides before any postings I/O;
      // elided terms skip like OOV on both engine and oracle, and a
      // query whose terms are ALL hot produces no candidates
      import s.implicits._
      val idx = sharedInvIndex(s, d)
      val queries = Seq(
        ("qa", "sort"), ("qa", "merge"),
        ("qb", "spark"), ("qb", "merge"),
        ("qc", "merge")).toDF("query_id", "term")
      idx.qlBatch(queries, k = 5, maxDfFrac = 0.78)
    }),
    "q310_t_test" -> ((s, d) => {
      // X268 Welch t_test (ES default heteroscedastic): do purchase
      // and click events carry the same mean value — one pass of
      // conditional decimal power sums, sample variances, round-6 t
      CorpusStats.welchTTest(events(s, d), col("value"),
        col("event_type") === "purchase", col("event_type") === "click")
    }),
    "q309_auto_histogram" -> ((s, d) => {
      // X267 auto_date_histogram: at most 40 buckets, the engine picks
      // the smallest ladder interval that fits — the dashboard
      // zoom-level negotiation; width travels in the result like ES's
      // reported interval
      Sessionize.autoDateHistogram(events(s, d), col("ts"),
          targetBuckets = 40)
        .orderBy(col("bucket_start"))
    }),
    "q308_cumulative_cardinality" -> ((s, d) => {
      // X266 cumulative_cardinality: distinct users seen THROUGH each
      // daily bucket — exact via first-seen buckets (one entity
      // aggregate + a bucket-sized cumsum), never a quadratic
      // union-of-distincts; new_entities doubles as the ES
      // derivative-of-cardinality
      Sessionize.cumulativeCardinality(events(s, d), col("ts"),
          widthSeconds = 86400L, entity = col("user_id"))
        .orderBy(col("bucket_start"))
    }),
    "q307_weighted_avg" -> ((s, d) => {
      // X265 weighted_avg: per event type, value averaged under
      // engagement weights (purchase 5, signup 3, else 1) — the
      // importance-weighted mean; decimal-exact numerator/denominator
      val w = when(col("event_type") === "purchase", 5.0)
        .when(col("event_type") === "signup", 3.0)
        .otherwise(1.0)
      CorpusStats.weightedAvg(events(s, d), col("event_type"),
          col("value"), w)
        .orderBy(col("key"))
    }),
    "q303_span_not" -> ((s, d) => {
      // X263 span_not (Lucene SpanNotQuery): 'merge' occurrences NOT
      // within 2 positions of 'bubble' — negative context at SPAN
      // grain, which whole-doc must_not cannot express; pruned
      // two-term postings read, banded join, no cross-product
      TextAnalysis.spanNot(
        sharedInvIndex(s, d).termPostings(Seq("merge", "bubble")),
        "merge", "bubble", pre = 2, post = 2)
        .orderBy(col("doc_id"))
    }),
    "q304_fuzzy_query" -> ((s, d) => {
      // X261 fuzzy query (Lucene FuzzyQuery): 'sorrt' expands to its
      // edit-distance-1 census neighbors (≤3, Lucene's rewrite
      // preference order) and scores as one SynonymQuery group — the
      // ranked sibling of the q223 suggester
      sharedInvIndex(s, d).fuzzyTermSearch("sorrt", k = 20,
        maxExpansions = 3)
    }),
    "q305_percentile_ranks" -> ((s, d) => {
      // X262 percentile_ranks: the exact empirical CDF at 10/100 per
      // event type — one conditional-count aggregate, no sort
      CorpusStats.percentileRanks(events(s, d), col("event_type"),
          col("value"), Seq(10.0, 100.0))
        .orderBy(col("key"), col("x"))
    }),
    "q306_matrix_stats" -> ((s, d) => {
      // X264 matrix_stats: covariance/correlation of event value vs
      // TIME (days since a fixed anchor) from exact decimal power sums
      // — does the metric drift with time, the monitoring question.
      // The anchor shift happens in EXACT long micros (var/cov/corr
      // are shift-invariant) and days keep b² inside double's 15
      // significant digits, so the per-row double→decimal casts agree
      // bit-for-bit across engines — raw epoch hours squared carry 17+
      // digits and the two engines' conversions diverge at 1e-4
      CorpusStats.matrixStats(events(s, d), col("value"),
        (unix_micros(col("ts")) - lit(1700000000000000L))
          .cast(DoubleType) / lit(8.64e10))
    }),
    "q301_field_value_factor" -> ((s, d) => {
      // X259 function_score field_value_factor: q214's full ranking
      // re-weighted by 0.5·log1p(n_chars) — the stored-signal boost;
      // order on the unrounded product, round-6 emitted
      SearchEngine.fieldValueFactor(
        sharedInvIndex(s, d).bm25Ranked(Seq("sort", "merge", "spark")),
        t(s, d, "documents"), "doc_id", col("n_chars"),
        factor = 0.5, modifier = "log1p", k = 20)
        .orderBy(col("score").desc, col("doc_id"))
    }),
    "q302_random_score" -> ((s, d) => {
      // X260 function_score random_score(seed): the deterministic
      // md5-jitter page — both engines derive the identical uniform
      // score from the same seed, the reproducible-sampling contract
      SearchEngine.randomScore(t(s, d, "documents"), "doc_id", "seed42")
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(20)
    }),
    "q298_value_histogram" -> ((s, d) => {
      // X256 numeric histogram (ES histogram agg): event values in
      // interval-25 buckets, empty buckets zero-filled between the data
      // bounds — the gapless bar chart
      Sessionize.valueHistogram(events(s, d), col("value"), interval = 25.0)
        .orderBy(col("bucket_start"))
    }),
    "q299_bucket_stats" -> ((s, d) => {
      // X257 stats_bucket/avg_bucket/extrema-keys pipeline family in
      // one row over the per-type count buckets — decimal order-free
      // sum, tie-keeping sorted extreme-key lists
      val b = events(s, d).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
      Sessionize.bucketStats(b, col("event_type"), col("n"))
    }),
    "q300_serial_diff" -> ((s, d) => {
      // X258 serial_diff (ES pipeline agg): hourly counts minus the
      // same hour YESTERDAY (lag 24 over the gap-filled spine) — the
      // seasonal-anomaly surface; first 24 buckets null, ES convention
      Sessionize.serialDiff(events(s, d), col("ts"), widthSeconds = 3600L,
          lagN = 24)
        .orderBy(col("bucket_start"))
    }),
    "q297_knn_filtered" -> ((s, d) => {
      // X255 filtered kNN (ES knn filter / FAISS IDSelector): q153's
      // probe with a candidate predicate applied BEFORE the top-k heap
      // — k survivors rank whenever they exist, where post-filtering
      // could return fewer; the predicate rides the pruned list read
      val embs = t(s, d, "embeddings")
      val query = embs.filter(col("vec_id") === 5).head()
      val qv = query.getSeq[Float](query.fieldIndex("embedding")).toArray
      sharedIvfIndex(s, d)
        .searchWhere(qv, k = 10, nprobe = 2, col("id") % 3 === 1)
        .select(col("id").as("vec_id"), col("cosine"))
        .orderBy(col("vec_id"))
    }),
    "q340_knn_filtered_pq" -> ((s, d) => {
      // X294 filtered kNN on the COMPRESSED layout (q297's pre-filter
      // on the IVFPQ serve path): the predicate cuts candidates before
      // the ADC heap, riding the same pruned code-directory read
      val embs = t(s, d, "embeddings")
      val query = embs.filter(col("vec_id") === 5L)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      sharedIvfPqIndex(s, d)
        .searchPqWhere(query, topK = 10, nprobe = 2, col("id") % 3 === 1)
        .select(col("id").as("vec_id"), col("adc_dist"))
        .orderBy(col("vec_id"))
    }),
    "q294_multi_match" -> ((s, d) => {
      // X252 multi_match best_fields (the ES default multi-field
      // query): per-field BM25 rankings from the fielded sidecar —
      // each with its OWN field statistics — dis_maxed per doc
      // (strongest field wins, 0.3 tie-break credit); the compose-only
      // proof that X225's sidecar + X230's combiner span the feature
      val idx = sharedInvIndex(s, d)
      val terms = Seq("sort", "merge", "spark")
      SearchEngine.disMax(Seq(
        idx.bm25FieldRanked("head", terms),
        idx.bm25FieldRanked("body", terms)), k = 20, tieBreaker = 0.3)
    }),
    "q295_terms_other" -> ((s, d) => {
      // X253 terms agg + sum_other_doc_count: top-5 sources plus the
      // __sum_other__ mass row — the rendered chart reconciles with
      // the corpus total
      CorpusStats.termsAggWithOther(t(s, d, "documents"), col("source"),
          size = 5)
        .orderBy(col("doc_count").desc, col("key"))
    }),
    "q296_range_agg" -> ((s, d) => {
      // X254 range agg over event value: open ends, an OVERLAPPING
      // range and an empty one that still emits — the ES conventions
      CorpusStats.rangeAgg(events(s, d), col("value"), Seq(
        (None, Some(10.0)), (Some(10.0), Some(100.0)),
        (Some(100.0), None), (Some(50.0), Some(150.0)),
        (Some(10000.0), None)))
        .orderBy(col("key"))
    }),
    "q290_snapshot_restore" -> ((s, d) => {
      // X248 snapshot/restore (the ES backup ops surface): snapshot
      // the shared index, tombstone a seventh of the corpus in the
      // copy, snapshot AGAIN (pending tombstones must travel), vacuum
      // the second copy, serve — q217's oracle verbatim: a snapshot
      // chain that corrupted any state answers wrong
      val dir = java.nio.file.Files.createTempDirectory("graft_snap").toString
      val src = sharedInvIndex(s, d)
      src.snapshot(s"$dir/a")
      val a = new graft.sources.InvertedIndex(s, s"$dir/a")
      a.delete(t(s, d, "documents").filter(col("doc_id") % 7 === 0)
        .select(col("doc_id")))
      a.snapshot(s"$dir/b")
      val bx = new graft.sources.InvertedIndex(s, s"$dir/b")
      bx.vacuum()
      bx.bm25(Seq("sort", "merge", "spark"), k = 20)
    }),
    "q325_ivf_snapshot" -> ((s, d) => {
      // X283 IVF snapshot/restore (q290's chain on the VECTOR layout —
      // the store behind the flagship funnel): snapshot the shared
      // index, delete a seventh of the corpus in the copy (the
      // assignment sidecar must have traveled for the discovery to
      // land), snapshot AGAIN (pending layout state must travel), and
      // serve the q153 search from the second copy — the oracle is the
      // IVF search over the surviving corpus, so a snapshot chain that
      // corrupted lists, centroids or sidecars answers wrong
      val embs = t(s, d, "embeddings")
      val query = embs.filter(col("vec_id") === 5).head()
      val qv = query.getSeq[Float](query.fieldIndex("embedding")).toArray
      val dir = java.nio.file.Files.createTempDirectory("graft_ivf_snap").toString
      sharedIvfIndex(s, d).snapshot(s"$dir/a")
      val a = new graft.sources.IvfIndex(s, s"$dir/a")
      a.delete(embs.filter(col("vec_id") % 7 === 0)
        .select(col("vec_id").as("id")))
      a.snapshot(s"$dir/b")
      new graft.sources.IvfIndex(s, s"$dir/b")
        .search(qv, k = 10, nprobe = 2)
        .select(col("id").as("vec_id"), col("cosine"))
        .orderBy(col("vec_id"))
    }),
    "q326_qstore_snapshot" -> ((s, d) => {
      // X283 QueryStore snapshot/restore: q269's EXACT lifecycle walk,
      // but the clone goes through the snapshot surface instead of a
      // raw tree copy — append, unsubscribe, maintain policy and the
      // final percolation all run on the RESTORED store, under q269's
      // oracle verbatim (a snapshot is byte-faithful, so the restored
      // store must answer the identical walk identically)
      val dir = java.nio.file.Files.createTempDirectory("graft_qs_snap").toString
      sharedQueryStore(s, d).snapshot(s"$dir/qs")
      val qs = new graft.sources.QueryStore(s, s"$dir/qs")
      val vocab = rankedVocab(s, d).localCheckpoint(true)
      try {
        qs.append(appendedClausesFrom(s, vocab, vocab.count().toInt))
      } finally graft.util.Pins.release(vocab)
      qs.delete(s.range(0, 10000).filter(col("id") % 20 === 0)
        .select(concat(lit("q"), col("id").cast(IntegerType)).as("query_id")))
      val acted = qs.maintain(maxFilesPerBucket = 1, maxTombstoneFrac = 0.01)
        .collect().map(r => r.getString(0) -> r.getBoolean(3)).toMap
      require(acted == Map("vacuum" -> true, "compact" -> true),
        s"maintain policy missed a crossed threshold: $acted")
      val batch = t(s, d, "documents").filter(col("doc_id") % 20 === 0)
      qs.percolate(batch, "doc_id", col("text"))
        .orderBy(col("query_id"), col("doc_id"))
    }),
    "q327_sampler" -> ((s, d) => {
      // X284 ES sampler agg: bound the child agg to a deterministic
      // top-40 sample (longest docs, ties by id) — the lang mix of the
      // SAMPLE, not the corpus, is the answer
      Curation.samplerAgg(t(s, d, "documents"), 40,
          col("n_chars").desc, col("doc_id").asc)
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang"))
    }),
    "q328_diversified_sampler" -> ((s, d) => {
      // X284 ES diversified_sampler: same sample discipline, but no
      // source may contribute more than 2 docs — the per-key cap cuts
      // BEFORE the global heap (the ES order), so the child agg sees a
      // de-biased sample; both cuts bite at every SF by construction
      Curation.diversifiedSampler(t(s, d, "documents"), col("source"),
          maxDocsPerValue = 2, shardSize = 25,
          col("n_chars").desc, col("doc_id").asc)
        .groupBy(col("lang")).agg(count(lit(1)).as("n"),
          sum(col("n_chars")).cast(LongType).as("sum_chars"))
        .orderBy(col("lang"))
    }),
    "q329_multi_terms" -> ((s, d) => {
      // X285 ES multi_terms: composite (lang, source) buckets as the
      // |-joined key string, top-8 by (count desc, key asc) plus the
      // __sum_other__ honesty row — q295's discipline on a tuple key
      CorpusStats.multiTermsAgg(t(s, d, "documents"),
          Seq(col("lang"), col("source")), size = 8)
        .orderBy(col("doc_count").desc, col("key"))
    }),
    "q330_categorize_text" -> ((s, d) => {
      // X286 categorize_text log-template clustering: log-like lines
      // derived from the real table (id/size volatile, lang/src shape)
      // collapse to one template per lang under digit masking; count +
      // lexicographically-smallest example per template
      val logs = t(s, d, "documents").select(concat(
        lit("evt id="), col("doc_id"), lit(" lang="), col("lang"),
        lit(" src="), col("source"), lit(" bytes="), col("n_chars"))
        .as("line"))
      TextAnalysis.categorizeText(logs, col("line"))
        .orderBy(col("template"))
    }),
    "q332_unigram_lm" -> ((s, d) => {
      // X288 unigram-LM tokenizer learning (Kudo 1804.10959, hard-EM):
      // the full trace — iter 0 = the seed substring census cut, iter k
      // = the vocabulary after EM round k (Viterbi recount, multi-char
      // prune, char smoothing) — q173's artifact-trace convention for
      // the OTHER tokenizer family
      TextAnalysis.unigramLearn(t(s, d, "documents"), "doc_id",
          col("text"), seedSize = 50, numIters = 2, maxPieceLen = 4)
        .orderBy(col("iter"), col("piece"))
    }),
    "q333_unigram_fertility" -> ((s, d) => {
      // X288 the application path (q179's convention): segment every
      // distinct corpus word under the FINAL learned model and grade
      // the tokenizer with X149's fertility metrics — the number a
      // vocab comparison against the BPE curve actually reads
      val docs = t(s, d, "documents")
      val trace = TextAnalysis.unigramLearn(docs, "doc_id", col("text"),
        seedSize = 50, numIters = 2, maxPieceLen = 4)
      val fin = trace.filter(col("iter") === 2)
        .select(col("piece"), col("cnt")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)
      val tot = fin.map(_._2).sum.toDouble
      val model = fin.map { case (p, c) => (p, -math.log(c / tot)) }
      val words = TextAnalysis.postings(docs, "doc_id", col("text"))
        .groupBy(col("term")).agg(count(lit(1)).as("freq"))
      TextAnalysis.unigramSegmented(words, col("term"), model, 4)
        .agg(sum(col("freq")).cast(LongType).as("n_words"),
          sum(col("freq") * size(col("pieces"))).cast(LongType)
            .as("total_tokens"),
          sum(col("freq") * length(col("term"))).cast(LongType)
            .as("__chars"))
        .select(col("n_words"), col("total_tokens"),
          round(col("total_tokens").cast(DoubleType) /
            col("n_words").cast(DoubleType), 6).as("avg_tokens_per_word"),
          round(col("__chars").cast(DoubleType) /
            col("total_tokens").cast(DoubleType), 6).as("avg_chars_per_token"))
    }),
    "q291_regexp" -> ((s, d) => {
      // X249 regexp query (ES regexp, implicitly anchored): 'mer.*'
      // expands from the pruned tprefix census partition capped at 4
      // by (df desc, term), scored as one SynonymQuery group — q262's
      // wildcard discipline with a raw regex
      sharedInvIndex(s, d).regexpSearch("mer.*", k = 20, maxExpansions = 4)
    }),
    "q292_adjacency_matrix" -> ((s, d) => {
      // X250 adjacency_matrix agg: named-filter doc counts + pairwise
      // intersections in ONE pass ('en&zh' is empty and omitted, the
      // ES convention)
      CorpusStats.adjacencyMatrix(t(s, d, "documents"), Seq(
        "en" -> (col("lang") === "en"),
        "long" -> (col("n_chars") > 300),
        "zh" -> (col("lang") === "zh")))
        .orderBy(col("key"))
    }),
    "q293_rare_terms" -> ((s, d) => {
      // X251 rare_terms agg: the census long tail — postings never
      // opened. The synthetic vocabulary is tiny and uniformly
      // frequent, so the "rare" bar derives from the census minimum
      // (min df + 20%) to stay non-degenerate at every SF; a real
      // corpus uses the ES-style absolute max_doc_count directly
      val v = sharedInvIndex(s, d).vocab()
      val lo = v.agg(min(col("df"))).head().getLong(0)
      CorpusStats.rareTerms(v, maxDocCount = lo * 6 / 5)
        .orderBy(col("term"))
    }),
    "q288_percolate_scored" -> ((s, d) => {
      // X246 scored percolation (ES percolate returns _score): q256's
      // fired (query, doc) pairs, each with a BM25 score of the stored
      // query against the arriving doc — batch-relative stats (the
      // percolator's corpus IS the arriving batch), round-6 partials
      // summed in DECIMAL(38,6) (order-free); must_not gates, never
      // scores. The oracle recomputes the whole score join in DuckDB.
      val batch = t(s, d, "documents").filter(col("doc_id") % 20 === 0)
      sharedQueryStore(s, d).percolateScored(batch, "doc_id", col("text"))
        .orderBy(col("query_id"), col("doc_id"))
    }),
    "q289_top_hits" -> ((s, d) => {
      // X247 terms+top_hits aggregation (the last big ES agg family):
      // per lang bucket over q214's FULL match set, the bucket's
      // doc_count and its top-3 hits by emitted round-6 score — the
      // grouped-results rail; the rank window partitions by bucket and
      // rewrites to WindowGroupLimit (suite plan-audited), never a
      // global single-partition window
      val idx = sharedInvIndex(s, d)
      SearchEngine.topHitsPerBucket(
        idx.bm25Ranked(Seq("sort", "merge", "spark")),
        t(s, d, "documents"), "doc_id", col("lang"), n = 3)
        .orderBy(col("field_value"), col("rank"))
    }),
    "q287_mlt_multi" -> ((s, d) => {
      // X244 multi-seed more-like-this (ES more_like_this with a like
      // LIST): the q214 top-2 docs' forward vectors sum into one
      // aggregate query vector, topTerms select by round-6 sum-tf·idf,
      // both seeds excluded — "related to this reading session"
      val idx = sharedInvIndex(s, d)
      val seeds = idx.bm25(Seq("sort", "merge", "spark"), k = 2)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSeq.sorted
      idx.moreLikeThese(seeds, k = 10, topTerms = 10)
    }),
    "q286_extended_stats" -> ((s, d) => {
      // X243 extended_stats (ES): the one-pass count/min/max/sum/avg/
      // variance/std panel per event type — population variance from
      // exact decimal power sums, order-free so any cluster layout
      // reproduces the same bits
      CorpusStats.extendedStats(events(s, d), col("event_type"),
          col("value"))
        .orderBy(col("key"))
    }),
    "q285_rescore_window" -> ((s, d) => {
      // X242 rescore window (ES rescore — the sparse-retrieve →
      // dense-rerank two-stage serve): the full BM25 ranking's top-30
      // recombined as 1·bm25 + 2·cosine-to-query, everything below
      // the window untouched, final order over the totals — a weakly
      // rescored doc can sink below unrescored ones, exactly why
      // window_size is a tuning knob
      val idx = sharedInvIndex(s, d)
      val embs = t(s, d, "embeddings")
      val qv = embs.filter(col("vec_id") === 0L)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val res = embs.select(col("vec_id").as("doc_id"),
        vecCosine(col("embedding"),
          lit(qv).cast(ArrayType(FloatType))).as("rscore"))
      SearchEngine.rescoreWindow(
        idx.bm25Ranked(Seq("sort", "merge", "spark")), res,
        windowSize = 30, k = 20, wq = 1.0, wr = 2.0)
    }),
    "q284_composite_agg" -> ((s, d) => {
      // X241 composite aggregation (the ES `composite` agg — THE
      // scalable way to page over ALL buckets of a high-cardinality
      // aggregation, where `terms` top-N cannot): (lang, source)
      // bucket counts under the composite key order, one page of 10
      // strictly after a cursor — keyset pagination (X179) applied to
      // the AGGREGATED frame, which is exactly what ES's after_key
      // protocol is; the oracle is the OFFSET equivalence
      val buckets = t(s, d, "documents")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("doc_count"))
      val keys = Seq(("lang", true), ("source", true))
      val last = Paging.keysetPage(buckets, keys, None, 5).collect().last
      Paging.keysetPage(buckets, keys,
        Some(Seq(last.getString(0), last.getString(1))), 10)
    }),
    "q219_keyset_page" -> ((s, d) => {
      // X179 keyset pagination ≡ OFFSET under a total order: take the
      // 100th row of documents ordered by (source, doc_id) as the
      // cursor (1-row collect — bounded, the cursor IS driver data in
      // any keyset API), then serve the next 50 via the lexicographic
      // after-predicate. The oracle is the OFFSET query itself — the
      // equivalence the operator's scaladoc claims, stated literally.
      val docs = t(s, d, "documents").select(col("source"), col("doc_id"))
      val keys = Seq(("source", true), ("doc_id", true))
      val last = Paging.keysetPage(docs, keys, None, 100).collect().last
      Paging.keysetPage(docs, keys,
        Some(Seq(last.getString(0), last.getLong(1))), 50)
    }),
    "q218_index_snippets" -> ((s, d) => {
      // X177 query-biased snippets for the persisted index's BM25
      // top-20: anchor positions from the pruned term buckets, text
      // refetched for ONLY the hit docs (the reference's refetch
      // discipline) — the hit-list + snippet serving composition a
      // search UI runs per query
      val docs = t(s, d, "documents")
      val idx = sharedInvIndex(s, d)
      val terms = Seq("sort", "merge", "spark")
      val top = idx.bm25(terms, k = 20).select(col("doc_id"))
      TextAnalysis.snippets(docs.join(top, Seq("doc_id"), "left_semi"),
          "doc_id", col("text"), idx.termPostings(terms), terms, window = 8)
        .orderBy(col("doc_id"))
    }),
    "q217_index_delete" -> ((s, d) => {
      // X175 tombstone deletion: build on the full corpus, tombstone a
      // seventh of it (O(batch) — no postings rewritten), then serve
      // BM25 from the filtered index. Scores must equal q214's
      // arithmetic over the SURVIVING docs exactly — N, avgdl and df
      // all shrink with the deletion (the oracle is bm25Sql with the
      // same WHERE). The suite additionally pins vacuum parity and the
      // two-rename crash contract; the gated row exercises the
      // tombstone-filtered read path a serving index runs between
      // vacuums.
      val docs = t(s, d, "documents")
      val dir = java.nio.file.Files.createTempDirectory("graft_inv_del").toString
      val idx = new graft.sources.InvertedIndex(s, s"$dir/inv")
      idx.build(docs, "doc_id", col("text"))
      idx.delete(docs.filter(col("doc_id") % 7 === 0).select(col("doc_id")))
      idx.bm25(Seq("sort", "merge", "spark"), k = 20)
    }),
    "q216_index_hybrid" -> ((s, d) => {
      // X174 hybrid retrieval served ENTIRELY from persisted layouts:
      // q180's composition with the BM25 leg from the inverted index and
      // the dense leg from a full-probe IVF search (exact either way) —
      // the production serving shape, both legs pure I/O, q180's oracle
      // verbatim
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents")
      val embs = t(s, d, "embeddings")
      val qv = embs.filter(col("vec_id") === 0L)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val inv = sharedInvIndex(s, d)
      val ivf = sharedIvfIndex(s, d)
      val bmLeg = inv.bm25(Seq("sort", "merge", "spark"), k = 20)
        .select(col("doc_id").as("vec_id"), col("score"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("vec_id").asc)))
      val cosLeg = ivf.search(qv, k = 20, nprobe = 4)
        .select(col("id").as("vec_id"), col("cosine"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("cosine").desc, col("vec_id").asc)))
      Ann.rrfFuse(Seq(bmLeg, cosLeg), "vec_id", k = 10)
    }),
    "q215_index_proximity" -> ((s, d) => {
      // X174 proximity served from the persisted index — q121's NEAR/4
      // over the pruned term buckets, pure I/O
      val idx = sharedInvIndex(s, d)
      TextAnalysis.proximityMatch(idx.termPostings(Seq("sort", "merge")),
        "sort", "merge", maxDist = 4)
        .orderBy(col("doc_id"))
    }),
    "q214_index_bm25" -> ((s, d) => {
      // X173 BM25 served from the persisted index: q118's exact ranking
      // (shared bm25Rank core) with tf from pruned postings buckets and
      // corpus stats from stored doclens — text never read at query time
      sharedInvIndex(s, d).bm25(Seq("sort", "merge", "spark"), k = 20)
    }),
    "q213_inverted_index" -> ((s, d) => {
      // X172 persisted inverted index: q117's phrase search, but the
      // postings come from the term-bucket-pruned on-disk layout — pure
      // I/O, so q117's oracle applies verbatim
      val idx = sharedInvIndex(s, d)
      TextAnalysis.phraseMatch(idx.termPostings(Seq("sort", "merge")),
        Seq("sort", "merge"))
        .orderBy(col("doc_id"))
    }),
    "q212_ohlc" -> ((s, d) =>
      // X171 OHLC candles: per (user, 1h bucket) open/high/low/close of
      // the value signal — the telemetry downsampling aggregate
      Sessionize.ohlcBuckets(events(s, d), col("user_id"), col("ts"),
        col("value"), "1 hour")
        .orderBy(col("key"), col("bucket_start"))),
    "q211_interpolate" -> ((s, d) => {
      // X170 interpolating as-of join: evaluate each user's sampled
      // 'view' value signal AT click time — linear between brackets,
      // hold at the edges, null with no readings
      val ev = events(s, d)
      val probes = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t"))
      val signal = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), unix_micros(col("ts")).as("rt"))
        .agg(max(col("value")).as("v"))
      AsOf.interpolateJoin(probes, signal, "user_id", "t", "rt", "v")
        .orderBy(col("event_id"))
    }),
    "q210_mixture_lifecycle" -> ((s, d) => {
      // X168 mixture lifecycle: X150's waterfill decides each source's
      // epoch allocation, X159 materializes the actual multi-epoch
      // training order from it — budget in, consumable schedule out; the
      // oracle recomputes the waterfill AND the schedule
      val docs = t(s, d, "documents")
      val plan = Curation.uniMaxPlan(docs, col("source"),
          size(TextAnalysis.tokens(col("text"))).cast(LongType),
          totalBudget = 48000L, maxEpochs = 2)
        .select(col("source"), col("epochs")).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toSeq
        .filter(_._2 > 0.0)
      Curation.epochSchedule(docs, "doc_id", col("source"), plan, seed = "mx")
        .orderBy(col("order_idx"))
    }),
    "q209_ngram_lm" -> ((s, d) => {
      // X167 persisted n-gram LM: build the Stupid Backoff count tables
      // once as a versioned artifact, score from the STORED tables — the
      // layout is pure I/O, so q200's oracle applies verbatim
      val docs = t(s, d, "documents")
      val lm = sharedNgramLm(s, d)
      lm.score(docs, "doc_id", col("text")).orderBy(col("doc_id"))
    }),
    "q208_dataset_card" -> ((s, d) => {
      // X163 dataset card: the one-row-per-source release document —
      // X80's volume/dup/quality/language datasheet joined with the X160
      // Zipf slope (generator health) and the unigram type-token ratio
      // (X92's n=1 diversity) — what a model card's data section cites
      val docs = t(s, d, "documents")
      val ds = CorpusStats.datasheet(docs, col("source"), "doc_id",
        col("text"), col("lang"))
        .withColumnRenamed("key", "source")
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("mean_tokens"), col("dup_rate"), col("mean_quality"),
          col("majority_lang"))
      val zf = CorpusStats.zipfFit(docs, col("source"), col("text"), topN = 200)
        .select(col("source"), col("slope").as("zipf_slope"),
          col("r2").as("zipf_r2"))
      val dv = CorpusStats.ngramDiversity(docs, col("source"), col("text"),
        maxN = 1)
        .select(col("source"), col("distinct_ratio").as("ttr"))
      ds.join(zf, Seq("source")).join(dv, Seq("source"))
        .orderBy(col("source"))
    }),
    "q207_crossmodal_dups" -> ((s, d) => {
      // X162 cross-modal dup report: one verdict row per document across
      // all three modalities — normalized-fingerprint text dup (X127),
      // rendered-image dHash dup (X147), audio envelope dup (X153) —
      // the "which modality is duplicated" datasheet a multimodal corpus
      // curator reads; the three signals genuinely differ (text
      // normalizes whitespace/NFC, audio keys raw bytes, image adds the
      // dims coincidence)
      val base = t(s, d, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
      val fp = base.select(col("doc_id"),
        TextAnalysis.normalizedFingerprint(col("text")).as("fp"))
      val textDups = fp.groupBy(col("fp")).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > 1).select(col("fp"), lit(true).as("__t"))
      val tflag = fp.join(textDups, Seq("fp"), "left")
        .select(col("doc_id"), coalesce(col("__t"), lit(false)).as("text_dup"))
      val ipair = Multimodal.imagePerceptualDups(
        Multimodal.fromTextAsImages(base, "doc_id", "text"), maxHamming = 0)
      val iIds = ipair.select(col("id1").as("doc_id"))
        .union(ipair.select(col("id2").as("doc_id"))).distinct()
        .withColumn("__i", lit(true))
      val apair = Multimodal.audioPerceptualDups(
        Multimodal.fromTextAsWavs(base, "doc_id", "text"), maxHamming = 0)
      val aIds = apair.select(col("id1").as("doc_id"))
        .union(apair.select(col("id2").as("doc_id"))).distinct()
        .withColumn("__a", lit(true))
      tflag.join(iIds, Seq("doc_id"), "left").join(aIds, Seq("doc_id"), "left")
        .select(col("doc_id"), col("text_dup"),
          coalesce(col("__i"), lit(false)).as("image_dup"),
          coalesce(col("__a"), lit(false)).as("audio_dup"))
        .withColumn("n_modal_dups",
          col("text_dup").cast(IntegerType) + col("image_dup").cast(IntegerType) +
            col("audio_dup").cast(IntegerType))
        .orderBy(col("doc_id"))
    }),
    "q206_vocab_growth" -> ((s, d) =>
      // X161 Heaps'-law curve: vocabulary vs token total at four
      // ingestion-order prefixes — does more crawl still buy vocabulary?
      CorpusStats.vocabGrowth(t(s, d, "documents"), col("doc_id"),
        col("text"), Seq(50L, 100L, 200L, 400L))
        .orderBy(col("cutoff"))),
    "q205_zipf_fit" -> ((s, d) =>
      // X160 per-source Zipf fit: log-log least squares over each
      // source's top-200 terms — the slope-drift alarm a recurring crawl
      // reads next to the mixture datasheet
      CorpusStats.zipfFit(t(s, d, "documents"), col("source"), col("text"),
        topN = 200)
        .orderBy(col("source"))),
    "q204_epoch_schedule" -> ((s, d) =>
      // X159 epoch schedule: materialize the multi-epoch training order
      // for a 3-source plan — src0 2 full passes, src1 one full + a 0.4
      // deterministic partial, src2 a 0.5 partial only; every epoch
      // reshuffled, one dense global order
      Curation.epochSchedule(t(s, d, "documents"), "doc_id", col("source"),
        Seq("src0" -> 2.0, "src1" -> 1.4, "src2" -> 0.5), seed = "ep")
        .orderBy(col("order_idx"))),
    "q203_index_lifecycle" -> ((s, d) => {
      // X124+X129+X156+X185 composed — the full steady-state maintenance
      // walk on ONE index: build(evens), append(odds), delete(multiples
      // of 3), split list 0, merge lists 1 and 2 back down; then
      // FULL-probe search, which is an exact scan over whatever
      // survived — the oracle recomputes the survivor set in SQL and
      // every maintenance step must be invisible to it
      val embs = t(s, d, "embeddings")
      val cents = embs.filter(col("vec_id") < 4)
        .orderBy(col("vec_id")).collect()
        .map(r => r.getSeq[Float](r.fieldIndex("embedding")).toArray).toSeq
      val query = embs.filter(col("vec_id") === 5).head()
      val qv = query.getSeq[Float](query.fieldIndex("embedding")).toArray
      val dir = java.nio.file.Files.createTempDirectory("graft_ivf_life").toString
      val idx = new graft.sources.IvfIndex(s, s"$dir/ivf")
      idx.build(embs.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", cents)
      idx.append(embs.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding")
      idx.delete(embs.filter(col("vec_id") % 3 === 0)
        .select(col("vec_id").as("id")))
      idx.splitList(0, lloydIters = 1)
      idx.mergeLists(1, 2)
      idx.search(qv, k = 10, nprobe = idx.centroids().size)
        .select(col("id").as("vec_id"), col("cosine"))
        .orderBy(col("vec_id"))
    }),
    "q202_ivf_split" -> ((s, d) => {
      // X156 in-place list split: build the q153 index, split list 0 by
      // local 2-means (centroid set grows to 5), then FULL-probe search —
      // a full probe is an exact scan before and after, so the oracle is
      // q34's exact cosine top-k; the split must be invisible to it
      val embs = t(s, d, "embeddings")
      val cents = embs.filter(col("vec_id") < 4)
        .orderBy(col("vec_id")).collect()
        .map(r => r.getSeq[Float](r.fieldIndex("embedding")).toArray).toSeq
      val query = embs.filter(col("vec_id") === 5).head()
      val qv = query.getSeq[Float](query.fieldIndex("embedding")).toArray
      val dir = java.nio.file.Files.createTempDirectory("graft_ivf_split").toString
      val idx = new graft.sources.IvfIndex(s, s"$dir/ivf")
      idx.build(embs, "vec_id", "embedding", cents)
      idx.splitList(0, lloydIters = 1)
      idx.search(qv, k = 10, nprobe = idx.centroids().size)
        .select(col("id").as("vec_id"), col("cosine"))
        .orderBy(col("vec_id"))
    }),
    "q201_prototype_prune" -> ((s, d) => {
      // X155 prototypicality pruning (Sorscher et al.): rank each
      // embedding by cosine to its own cluster centroid (4 seed-vector
      // clusters, q55's quantizer), keep the hardest half per cluster —
      // the data-pruning rule for the abundant-data regime
      val embs = t(s, d, "embeddings")
      val cents = embs.filter(col("vec_id") < 4).orderBy(col("vec_id"))
        .collect().map(r => r.getSeq[Float](r.fieldIndex("embedding")).toArray).toSeq
      val assign = Ann.ivfAssign(embs, "embedding", cents)
        .select(col("vec_id").as("id"), col("ivf_list").as("cluster"))
      Ann.prototypePrune(embs, "vec_id", "embedding", assign,
        keepFrac = 0.5, mode = "hard")
        .orderBy(col("cluster"), col("rank"))
    }),
    "q200_stupid_backoff" -> ((s, d) => {
      // X154 Stupid Backoff trigram scoring (Brants EMNLP'07), corpus
      // self-scored: tri/bi/uni relative frequencies with lambda=0.4
      // backoff and an add-one unigram floor — the web-scale LM ranking
      // that needs nothing but count tables
      val docs = t(s, d, "documents")
      TextAnalysis.stupidBackoff(docs, docs, "doc_id", col("text"))
        .orderBy(col("doc_id"))
    }),
    "q199_audio_envelope_dups" -> ((s, d) => {
      // X153 perceptual audio dedup at hamming 0: real WAV render +
      // decode + envelope hash; the generator keys each clip by its text
      // alone, so same-source twins (and the +96000 byte-identical
      // copies) are the exact-dup ground truth the oracle mirrors
      val base = t(s, d, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), col("source").as("text"))
      val media = Multimodal.fromTextAsWavs(
        base.union(base.select((col("doc_id") + 96000).as("doc_id"), col("text"))),
        "doc_id", "text")
      // pin-backed result; the Verify/Bench harnesses unpersist between
      // queries
      Multimodal.audioPerceptualDups(media, maxHamming = 0, numBands = 4)
        .orderBy(col("id1"), col("id2"))
    }),
    "q198_calibration" -> ((s, d) =>
      // X152 reliability diagram over the q197 classifier: 10 prob bins,
      // per-bin confidence vs empirical positive rate + ECE terms — the
      // check run before trusting the filter's 0.5 cut
      Curation.calibrationCurve(
        Curation.qualityClassifier(t(s, d, "documents"), "doc_id", col("text"),
          col("source").isin("src0", "src1", "src2", "src3", "src4"),
          dims = 16, iters = 3, lr = 0.5),
        col("prob"), col("label"), bins = 10)
        .orderBy(col("bin"))),
    "q197_quality_classifier" -> ((s, d) =>
      // X151 trained quality classifier: 3 full-batch LR rounds over 16
      // hashed bag-of-words bits, positives = src0..src4 — the TRAINING
      // itself is replayed bit-for-bit by the oracle's unrolled CTEs
      // (integer-quantized gradients make the reduce order-independent)
      Curation.qualityClassifier(t(s, d, "documents"), "doc_id", col("text"),
        col("source").isin("src0", "src1", "src2", "src3", "src4"),
        dims = 16, iters = 3, lr = 0.5)
        .orderBy(col("doc_id"))),
    "q196_unimax" -> ((s, d) =>
      // X150 UniMax allocation: waterfill a 48k-token budget over the
      // corpus sources under a 2-epoch repetition cap — token-poor
      // sources cap out, the rest share one water level
      Curation.uniMaxPlan(t(s, d, "documents"), col("source"),
        size(TextAnalysis.tokens(col("text"))).cast(LongType),
        totalBudget = 48000L, maxEpochs = 2)
        .orderBy(col("source"))),
    "q195_bpe_fertility" -> ((s, d) => {
      // X149 tokenizer fertility sweep: learn 5 merges (q173's trace),
      // grade the 0/2/5-merge prefixes — corpus-weighted tokens-per-word
      // and chars-per-token per candidate vocab, one corpus pass
      val docs = t(s, d, "documents")
      val merges = TextAnalysis.bpeMerges(docs, "doc_id", col("text"), 5)
        .orderBy(col("step")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.bpeFertility(docs, "doc_id", col("text"), merges, Seq(0, 2, 5))
    }),
    "q194_pii_redact" -> ((s, d) => {
      // X148 typed PII redaction over a fixture exercising each rule,
      // the pinned order (URL consumes its embedded email), and the
      // conservative phone form — appended to a corpus slice so the
      // clean-row path runs at volume too
      import s.implicits._
      val fixture = Seq(
        (900001L, "contact me at alice@example.com or bob@corp.net thanks"),
        (900002L, "see https://example.com/a?x=1 and http://foo.org"),
        (900003L, "server at 10.0.0.1 and 192.168.100.200 responded"),
        (900004L, "call +1 555-123-4567 now"),
        (900005L, "mail to carol@site.io via https://go.to/x?e=d@ve.com now"),
        (900006L, "+44 20-7946-0958 at 8.8.8.8")
      ).toDF("doc_id", "text")
      val in = t(s, d, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"), col("text")).union(fixture)
      TextAnalysis.piiRedact(in, "doc_id", col("text"))
        .orderBy(col("doc_id"))
    }),
    "q193_image_dhash_dups" -> ((s, d) => {
      // X147 perceptual image dedup at hamming 0: real PNG render +
      // decode + dHash; identical (dims, seed) renders are the exact-dup
      // ground truth the oracle mirrors from the generator's formula
      // twin injection: +96000 ≡ 0 (mod 48) keeps the width formula, so
      // every base image gets one byte-identical copy (plus any natural
      // same-(dims, source) coincidences — the oracle computes both)
      val base = t(s, d, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), col("source").as("text"))
      val media = Multimodal.fromTextAsImages(
        base.union(base.select((col("doc_id") + 96000).as("doc_id"), col("text"))),
        "doc_id", "text")
      // pin-backed result; the Verify/Bench harnesses unpersist between
      // queries (the round-7 hygiene), so no release dance here
      Multimodal.imagePerceptualDups(media, maxHamming = 0)
        .orderBy(col("id1"), col("id2"))
    }),
    "q192_nfc_normalize" -> ((s, d) => {
      // X146 Unicode NFC canonicalization (codegen Expression): composed
      // and decomposed accents, combining-mark reordering, and Hangul
      // jamo composition all collapse to one byte form — and X127's
      // fingerprint (now NFC-first) gives rows 1 and 2 the same key
      import s.implicits._
      val rows = Seq(
        (1L, "café menu"),
        (2L, "café menu"),
        (3L, "plain ascii text 42"),
        (4L, "ḍ̇ mark order"),
        (5L, "가 vs 가")
      ).toDF("doc_id", "text")
      rows.select(col("doc_id"),
        TextAnalysis.nfc(col("text")).as("nfc_text"),
        TextAnalysis.normalizedFingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),
    "q191_domain_gate" -> ((s, d) => {
      // X145 domain blocklist gate over the urlProfile hosts: suffix
      // match blocks whole domains (example.com), a hosting domain
      // (github.io), one exact host, and prefers the most specific entry
      import s.implicits._
      val hosts = TextAnalysis.urlProfile(syntheticUrls(s, d), "doc_id", col("url"))
      val blocklist = Seq("example.com", "src0.example.com", "github.io",
        "src5.co.uk", "spam.net").toDF("domain")
      TextAnalysis.domainGate(hosts, "doc_id", col("host"), blocklist)
        .orderBy(col("doc_id"))
    }),
    "q190_lsh_calibrate" -> ((s, d) => {
      // X144 empirical LSH calibration: measured precision/recall of
      // three banding schemes (8 hashes; rows 1/2/4) vs exact Jaccard on
      // a deterministic quarter-sample with injected exact duplicates —
      // the measured complement of q170's theoretical S-curve
      val docs = t(s, d, "documents").filter(col("doc_id") % 4 === 0)
        .select(col("doc_id"), col("text"))
      val all = docs.union(
        docs.select((col("doc_id") + 100000).as("doc_id"), col("text")))
      Dedup.lshCalibrate(all, "doc_id", col("text"), shingleN = 3,
        numHashes = 8, rowsGrid = Seq(1, 2, 4),
        thresholds = Seq(0.2, 0.5, 0.8))
    }),
    "q189_cross_source_dup" -> ((s, d) => {
      // X143 cross-source duplication matrix over winnowed-sketch
      // postings: shared n-gram mass per source pair — which sources
      // quote each other, visible even with no whole-document repeats
      val docs = t(s, d, "documents")
      Dedup.crossSourceMatrix(
        Dedup.winnowedSketch(docs, "doc_id", col("text"))
          .join(docs.select(col("doc_id"), col("source")), Seq("doc_id")),
        "fp", "source")
    }),
    "q188_capacity_plan" -> ((s, d) =>
      // X142 pack-capacity planner: one corpus pass grades four candidate
      // context lengths — packs, boundary splits, tail waste
      Packing.capacityPlan(
        t(s, d, "documents").select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast(LongType).as("n_tokens")),
        "doc_id", "n_tokens", Seq(128L, 512L, 2048L, 8192L))),
    "q187_nprobe_sweep" -> ((s, d) => {
      // X141 IVF tuning sweep: recall@10 vs lists read for nprobe 1..4
      // (cents = vec_id<4, sample queries = vec_id 5 and 6) — the curve
      // that picks the index's serving operating point
      val embs = t(s, d, "embeddings")
      val cents = embs.filter(col("vec_id") < 4).orderBy(col("vec_id"))
        .collect().map(r => r.getSeq[Float](r.fieldIndex("embedding")).toArray).toSeq
      val qs = embs.filter(col("vec_id").isin(5L, 6L)).orderBy(col("vec_id"))
        .collect().map(r => (r.getLong(r.fieldIndex("vec_id")).toInt,
          r.getSeq[Float](r.fieldIndex("embedding")).toArray)).toSeq
      Ann.nprobeSweep(embs, "vec_id", "embedding", cents, qs,
        k = 10, nprobes = Seq(1, 2, 3, 4))
    }),
    "q186_curriculum" -> ((s, d) =>
      // X140 curriculum schedule: quality-quantile bands (4), md5 epoch
      // shuffle within band, dense global order via the distributed
      // prefix scheme — the exact sequence a trainer consumes
      Curation.curriculumOrder(t(s, d, "documents"), "doc_id",
        TextAnalysis.qualityScore(col("text")), bands = 4, seed = "ep0")
        .select(col("id").as("doc_id"), col("score"), col("band"),
          col("shuffle_key"), col("order_idx"))
        .orderBy(col("order_idx"))),
    "q185_cluster_datasheet" -> ((s, d) => {
      // X139 embedding-cluster topic datasheet: assign docs to the 4
      // seed-vector clusters (q55's quantizer), profile each cluster by
      // its members' text — population, tokens, dominant source, top-5
      // terms — the data-map row a curator reads before weighting
      val embs = t(s, d, "embeddings")
      val cents = embs.filter(col("vec_id") < 4).orderBy(col("vec_id"))
        .collect().map(r => r.getSeq[Float](r.fieldIndex("embedding")).toArray).toSeq
      val assign = Ann.ivfAssign(embs, "embedding", cents)
        .select(col("vec_id").as("id"), col("ivf_list").as("cluster"))
      CorpusStats.clusterDatasheet(t(s, d, "documents"), "doc_id",
        col("text"), col("source"), assign, topTerms = 5)
        .orderBy(col("cluster"))
    }),
    "q183_tag_dictionary" -> ((s, d) => {
      // X137 dictionary taxonomy tagging: broadcast phrase lexicon
      // (mixed 1/2/3-token phrases) matched as token n-grams; overlapping
      // occurrences each count toward the (doc, tag) cell
      TextAnalysis.tagDictionary(t(s, d, "documents"), "doc_id", col("text"),
        Seq(
          ("exec", "hash"), ("exec", "row scan"), ("exec", "merge"),
          ("stream", "stream batch"), ("stream", "window"),
          ("storage", "table part value"), ("storage", "column")))
        .orderBy(col("doc_id"), col("tag"))
    }),
    "q184_shard_read" -> ((s, d) => {
      // X138 trainer-side shard reader over the q182 export: write shards
      // of 4 packs to a temp dir, read shards 0 and 2 back with manifest
      // validation + text refetch — the token pieces a training worker
      // actually consumes, sliced per [tok_start, tok_end)
      val docs = t(s, d, "documents")
      val asg = Packing.packAssignments(
        docs.select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast(LongType).as("n_tokens")),
        "doc_id", "n_tokens", 2048L)
      val slices = Packing.packSlices(asg, "doc_id", "n_tokens", 2048L)
      val dir = java.nio.file.Files.createTempDirectory("graft_shard_read").toString
      Packing.writeShards(slices, dir, packsPerShard = 4L)
      Packing.readShards(s, dir, docs, "doc_id", col("text"),
        packsPerShard = 4L, shards = Seq(0L, 2L))
        .orderBy(col("pack_id"), col("tok_start"))
    }),
    "q175_ivfpq_append" -> ((s, d) => {
      // X130 incremental IVF×PQ maintenance: buildPq on the evens,
      // appendPq the odds against the frozen coarse centroids + stored
      // codebooks — ADC search must be bit-identical to a fresh full
      // buildPq (q154's oracle verbatim: the codes layout is pure I/O)
      val embs = t(s, d, "embeddings")
      val coarse = embs.filter(col("vec_id") < 4).orderBy(col("vec_id"))
        .select(col("embedding")).collect().map(_.getSeq[Float](0).toArray).toSeq
      val books = Pq.seedCodebooks(embs, "vec_id", "embedding", m = 4, k = 4)
      val query = embs.filter(col("vec_id") === 5L)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_app").toString
      val idx = new graft.sources.IvfIndex(s, s"$dir/ivf")
      idx.buildPq(embs.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
        coarse, books)
      idx.appendPq(embs.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding")
      idx.searchPq(query, topK = 10, nprobe = 2)
        .select(col("id").as("vec_id"), col("adc_dist"))
        .orderBy(col("vec_id"))
    }),
    "q177_ivfpq_delete" -> ((s, d) => {
      // X130 in-place IVF×PQ deletion: buildPq on the full corpus, delete
      // the odd ids (bucket-pruned sidecar discovery + per-list swap),
      // search — ADC results must equal a clean buildPq over the evens
      val embs = t(s, d, "embeddings")
      val coarse = embs.filter(col("vec_id") < 4).orderBy(col("vec_id"))
        .select(col("embedding")).collect().map(_.getSeq[Float](0).toArray).toSeq
      val books = Pq.seedCodebooks(embs, "vec_id", "embedding", m = 4, k = 4)
      val query = embs.filter(col("vec_id") === 5L)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_del").toString
      val idx = new graft.sources.IvfIndex(s, s"$dir/ivf")
      idx.buildPq(embs, "vec_id", "embedding", coarse, books)
      idx.deletePq(embs.filter(col("vec_id") % 2 =!= 0)
        .select(col("vec_id").as("id")))
      idx.searchPq(query, topK = 10, nprobe = 2)
        .select(col("id").as("vec_id"), col("adc_dist"))
        .orderBy(col("vec_id"))
    }),
    "q182_shard_manifest" -> ((s, d) => {
      // X136 shard manifest over the q150 cut list: shards of 4 packs,
      // per-shard counts + order-independent md5 content fingerprint —
      // the validation row a training worker checks before reading
      val asg = Packing.packAssignments(
        t(s, d, "documents").select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast(LongType).as("n_tokens")),
        "doc_id", "n_tokens", 2048L)
      Packing.shardManifest(
        Packing.packSlices(asg, "doc_id", "n_tokens", 2048L),
        packsPerShard = 4L)
    }),
    "q181_ivf_retrain" -> ((s, d) => {
      // X135 coarse re-training: build on the frozen seeds, retrain ONE
      // Lloyd round warm-started from them (q58's update rule), search
      // the blue/green rebuilt index — results must equal an in-SQL
      // search whose centroids are the Lloyd-updated means
      val embs = t(s, d, "embeddings")
      val cents = embs.filter(col("vec_id") < 4)
        .orderBy(col("vec_id")).collect()
        .map(r => r.getSeq[Float](r.fieldIndex("embedding")).toArray).toSeq
      val query = embs.filter(col("vec_id") === 5).head()
      val qv = query.getSeq[Float](query.fieldIndex("embedding")).toArray
      val dir = java.nio.file.Files.createTempDirectory("graft_ivf_retrain").toString
      val idx = new graft.sources.IvfIndex(s, s"$dir/ivf")
      idx.build(embs, "vec_id", "embedding", cents)
      val next = idx.retrain(s"$dir/ivf2", iters = 1)
      next.search(qv, k = 10, nprobe = 2)
        .select(col("id").as("vec_id"), col("cosine"))
        .orderBy(col("vec_id"))
    }),
    "q180_hybrid_search" -> ((s, d) => {
      // X76+X77 TRUE hybrid retrieval: the lexical BM25 leg over the
      // documents table and the exact-cosine leg over the embeddings
      // table (the two tables share the 0..N id domain), merged by
      // reciprocal-rank fusion — q119 fuses two VECTOR legs; this is the
      // text+vector composition a RAG stack actually serves
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents")
      val embs = t(s, d, "embeddings")
      val qv = embs.filter(col("vec_id") === 0L)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val bmLeg = TextAnalysis.bm25TopK(docs, "doc_id", col("text"),
          Seq("sort", "merge", "spark"), k = 20)
        .select(col("doc_id").as("vec_id"), col("score"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("vec_id").asc)))
      val cosLeg = Ann.bruteForceTopK(embs, "vec_id", "embedding", qv, k = 20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("cosine").desc, col("vec_id").asc)))
      Ann.rrfFuse(Seq(bmLeg, cosLeg), "vec_id", k = 10)
    }),
    "q179_bpe_tokenize" -> ((s, d) => {
      // X128 end-to-end: learn 5 merge rules from the corpus (q173's
      // trace), segment the corpus with them, report per-doc word and
      // BPE-symbol counts. The segmentation is computed ONCE per distinct
      // word (vocab-sized) and broadcast back to the postings — the way a
      // shipped tokenizer is applied at corpus scale, never per-occurrence
      val docs = t(s, d, "documents")
      val merges = TextAnalysis.bpeMerges(docs, "doc_id", col("text"), 5)
        .orderBy(col("step")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val post = docs
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
        .filter(col("term") =!= "")
      val seg = post.select(col("term")).distinct()
        .select(col("term"),
          size(TextAnalysis.bpeSegment(col("term"), merges)).as("n_sym"))
      post.join(broadcast(seg), Seq("term"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_sym")).cast(LongType).as("n_bpe_tokens"))
        .orderBy(col("doc_id"))
    }),
    "q178_decontaminate" -> ((s, d) => {
      // X133 cross-corpus span decontamination: the held-out set is every
      // doc_id % 10 == 3 document; spans in the TRAIN corpus (all docs)
      // whose every 8-token window also appears in the held-out set —
      // the spans a cutSpans pass would remove before training. The
      // held-out docs themselves surface as (near-)full-doc spans; other
      // docs surface shared boilerplate only.
      val docs = t(s, d, "documents")
      Dedup.contaminatedSpans(docs, docs.filter(col("doc_id") % 10 === 3),
        "doc_id", col("text"), windowLen = 8)
        .orderBy(col("doc_id"), col("span_start"))
    }),
    "q176_crawl_pipeline" -> ((s, d) => {
      // the end-to-end crawl→corpus composition every stage already gates
      // alone: URL-normalize dedup (X122) → normalized-fingerprint exact
      // dedup (X127) → minhash near-dup drop (X2/X3) → Gopher quality gate
      // (X50) → calibrated quality floor (X119) → token-budget mixture
      // (X49) → sequence packing (X26), reported as the per-stage
      // retention funnel a pipeline datasheet records
      val docs = t(s, d, "documents")
      val urls = TextAnalysis.urlProfile(syntheticUrls(s, d), "doc_id", col("url"))
      val s1 = urls.filter(col("host").isNotNull)
        .groupBy(col("norm_url")).agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      // each stage is PINNED (eager localCheckpoint): its frame feeds both
      // the next stage and its own retention count, and the whole funnel
      // is read 8 times by the count union — unpinned, every count would
      // re-execute the entire upstream chain (minhash, gate, calibration)
      // once per stage
      val d1 = docs.join(s1, Seq("doc_id")).localCheckpoint(true)
      val s2 = d1.select(col("doc_id"),
          TextAnalysis.normalizedFingerprint(col("text")).as("__fp"))
        .groupBy(col("__fp")).agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      val d2 = d1.join(s2, Seq("doc_id")).localCheckpoint(true)
      val pairs = Dedup.minhashCandidatePairs(d2, "doc_id", col("text"),
        shingleN = 3, numHashes = 8, rowsPerBand = 2)
      val d3 = d2.join(pairs.select(col("id2").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti").localCheckpoint(true)
      // the gate output is pinned BEFORE the keep filter: filtering the
      // unmaterialized frame collapses the staged rule projections into
      // one interpreted Filter that re-splits the text ~27x per row (the
      // shingle-chain re-eval trap)
      val d4 = d3.join(Curation.gopherGate(d3, "doc_id", col("text"))
        .localCheckpoint(true).filter(col("keep")).select("doc_id"), Seq("doc_id"))
        .localCheckpoint(true)
      val d5 = d4.join(Curation.scoreCalibrate(d4, col("source"), "doc_id",
          TextAnalysis.qualityScore(col("text")))
        .filter(col("pct_rank") >= 0.2).select("doc_id"), Seq("doc_id"))
        .localCheckpoint(true)
      val d6 = Curation.mixtureSample(d5, col("source"), "doc_id",
        size(TextAnalysis.tokens(col("text"))),
        budgets = Seq("src0" -> 800L, "src1" -> 500L, "src2" -> 250L),
        seed = "mix0").localCheckpoint(true)
      val packs = Packing.packAssignments(
        d6.select(col("doc_id"), col("tokens")), "doc_id", "tokens", 2048L)
      val stageCounts = Seq(
        (0, "input", docs), (1, "url_dedup", d1), (2, "exact_dedup", d2),
        (3, "near_dedup", d3), (4, "quality_gate", d4), (5, "calibrated", d5),
        (6, "mixed", d6))
        .map { case (i, nm, df) =>
          df.agg(count(lit(1)).as("n"))
            .select(lit(i).as("stage_no"), lit(nm).as("stage"), col("n"))
        }
        .reduce(_.unionByName(_))
      stageCounts.unionByName(
          packs.agg(coalesce(max(col("pack_last")) + 1, lit(0L)).cast(LongType).as("n"))
            .select(lit(7).as("stage_no"), lit("packs").as("stage"), col("n")))
        .orderBy(col("stage_no"))
    }),
    "q168_canonical_quality" -> ((s, d) => {
      // X123 quality-driven canonical per cluster over the q68 clustering
      // (docs + exact clones); the id-derived score bonus shifts by
      // +1 mod 3 for clones, so the canonical pick genuinely follows
      // quality — sometimes the original, sometimes the clone
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val both = docs.unionByName(
        docs.select((col("doc_id") + 100000).as("doc_id"), col("text")))
      val groups = Dedup.dedupGroups(Dedup.minhashCandidatePairs(both, "doc_id",
        col("text"), shingleN = 3, numHashes = 8, rowsPerBand = 2))
      val scores = both.select(col("doc_id").as("id"),
        (TextAnalysis.qualityScore(col("text")) +
          (col("doc_id") % 3).cast(DoubleType) * lit(0.05)).as("score"))
      Dedup.canonicalByQuality(groups, scores).orderBy(col("id"))
    }),
    "q173_bpe_merges" -> ((s, d) =>
      // X128 BPE merge learning: 5 merge rules from the corpus vocabulary
      // (one corpus pass; iterations are vocab-sized)
      TextAnalysis.bpeMerges(t(s, d, "documents"), "doc_id", col("text"), 5)
        .orderBy(col("step"))),
    "q172_effective_tokens" -> ((s, d) => {
      // X127 -> X121 -> X125 composition, the "how much corpus do we
      // actually have" datasheet: canonicalized exact-dedup (keep min id
      // per normalized fp), cut duplicated 8-token spans from the
      // survivors, report per-source doc/token retention
      val docs = t(s, d, "documents")
      val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
      val kept = docs
        .select(col("doc_id"), col("source"), col("text"),
          TextAnalysis.normalizedFingerprint(col("text")).as("fp"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("doc_id"), col("source"), col("text"))
      val clean = Dedup.cutSpans(kept,
        Dedup.dupSpans(kept, "doc_id", col("text"), windowLen = 8),
        "doc_id", col("text"))
      kept.select(col("doc_id"), col("source")).join(clean, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("raw_tokens"),
          sum(col("n_tokens") - col("n_removed")).as("effective_tokens"),
          round(sum(col("n_tokens") - col("n_removed")).cast(DoubleType) /
            sum(col("n_tokens")).cast(DoubleType), 6).as("retention"))
        .orderBy(col("source"))
    }),
    "q171_norm_dedup_delta" -> ((s, d) => {
      // X127 canonicalization delta: pairs whose NORMALIZED fingerprints
      // collide but raw ones do not — the crawl-noise dup class (clones
      // get comma noise that normalization erases)
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val noisy = docs.select((col("doc_id") + 100000).as("doc_id"),
        regexp_replace(col("text"), " ", ", ").as("text"))
      val fps = docs.unionByName(noisy).select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("raw_fp"),
        TextAnalysis.normalizedFingerprint(col("text")).as("norm_fp"))
      fps.as("a")
        .join(fps.as("b"), col("a.norm_fp") === col("b.norm_fp") &&
          col("a.doc_id") < col("b.doc_id"))
        .filter(col("a.raw_fp") =!= col("b.raw_fp"))
        .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
          col("a.norm_fp").as("norm_fp"))
        .orderBy(col("id1"), col("id2"))
    }),
    "q170_lsh_plan" -> ((s, d) =>
      // X126 LSH banding S-curve for the engine's 16-hash family at 19
      // Jaccard probe levels; sequential-fold powers, oracle bit-exact
      Dedup.lshPlan(s, 16, (1 to 19).map(i => (i * 5) / 100.0))),
    "q169_cut_spans" -> ((s, d) => {
      // X121 -> X125 composition: detect duplicated 8-token spans, then
      // cut every occurrence and emit the cleaned corpus (Lee et al.
      // ExactSubstr detect + rewrite)
      val docs = t(s, d, "documents")
      Dedup.cutSpans(docs,
        Dedup.dupSpans(docs, "doc_id", col("text"), windowLen = 8),
        "doc_id", col("text"))
        .orderBy(col("doc_id"))
    }),
    "q164_dup_spans" -> ((s, d) =>
      // X121 duplicated-span extraction: maximal token ranges whose every
      // 8-token window occurs >= 2 times in the corpus
      Dedup.dupSpans(t(s, d, "documents"), "doc_id", col("text"), windowLen = 8)
        .orderBy(col("doc_id"), col("span_start"))),
    "q165_url_profile" -> ((s, d) =>
      // X122 URL normalization + registrable domain over deterministic
      // synthetic URLs (the corpus has no URL column)
      TextAnalysis.urlProfile(syntheticUrls(s, d), "doc_id", col("url"))
        .orderBy(col("doc_id"))),
    "q166_domain_caps" -> ((s, d) =>
      // X122 -> X30 composition: cap documents per registrable domain at 3
      Curation.capPerKey(
        TextAnalysis.urlProfile(syntheticUrls(s, d), "doc_id", col("url")),
        col("registrable_domain"), 3, col("doc_id").asc)
        .select(col("doc_id"), col("registrable_domain"),
          col("rn").cast(LongType).as("rn"))
        .orderBy(col("doc_id"))),
    "q163_calibrate_edges" -> ((s, d) => {
      // X119 guard branches under the hash gate: a zero-variance source
      // (constant score, n>1 -> varr=0 -> z=0 via the otherwise(0.0)) and
      // a single-row source (n=1 -> z=0, pct_rank=0) alongside a healthy
      // source, all derived deterministically from documents
      val ids = t(s, d, "documents").select(col("doc_id"))
      val sc = (col("doc_id") % 7).cast(DoubleType) / 10.0
      val in = ids.filter(col("doc_id") <= 20)
          .select(col("doc_id"), lit("const").as("src"), lit(0.5).as("sc"))
        .unionByName(ids.filter(col("doc_id") === 21)
          .select(col("doc_id"), lit("single").as("src"), sc.as("sc")))
        .unionByName(ids.filter(col("doc_id").between(22, 60))
          .select(col("doc_id"), lit("normal").as("src"), sc.as("sc")))
      Curation.scoreCalibrate(in, col("src"), "doc_id", col("sc"))
        .orderBy(col("doc_id"))
    }),
    "q162_containment" -> ((s, d) =>
      // X120 asymmetric containment: 28-bit shingle postings, df in
      // [2, 50] stop-shingle cut, pairs sharing >= 2 shingles
      Dedup.containmentPairs(t(s, d, "documents"), "doc_id", col("text"),
        shingleN = 3, maxDf = 50, minShared = 2)
        .orderBy(col("id1"), col("id2"))),
    "q51_event_window" -> ((s, d) =>
      events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(unix_timestamp(col("w.start")).as("bucket_start"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy(col("bucket_start"), col("event_type"))),
    "q52_json_extract" -> ((s, d) =>
      events(s, d)
        .select(col("event_id"), get_json_object(col("props"), "$.k").cast(LongType).as("k"))
        .groupBy((col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
        .orderBy(col("k_mod"))),
    "q80_vocab_stats" -> ((s, d) =>
      // per-source vocabulary profile; exact distinct for the oracle, the
      // HLL sketch path is unit-bounded in CorpusStatsSuite
      CorpusStats.vocabStats(t(s, d, "documents"), col("source"), "doc_id", col("text"))
        .withColumnRenamed("key", "source")
        .orderBy(col("source"))),
    "q79_incremental_dedup" -> ((s, d) => {
      // incremental ingest vs a historical corpus: bloom pre-filter +
      // exact anti-join verify (result independent of filter sizing)
      val docs = t(s, d, "documents")
      Dedup.incrementalDedup(
        docs.filter(col("doc_id") >= 200), docs.filter(col("doc_id") < 250),
        "doc_id", col("text"), col("text"))
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),
    "q78_top_terms" -> ((s, d) =>
      // vocabulary head: global top-50 terms by occurrences, doc
      // frequency alongside; top-k heap, no full vocab sort
      TextAnalysis.topTerms(t(s, d, "documents"), "doc_id", col("text"), k = 50)),
    "q77_hash_split" -> ((s, d) =>
      // deterministic 80/10/10 split: disjoint md5-bucket ranges, stable
      // across runs/engines (unlike randomSplit)
      graft.util.Sampling.hashSplit(t(s, d, "documents").select(col("doc_id")),
        col("doc_id"), Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .orderBy(col("doc_id"))),
    "q76_pii_counts" -> ((s, d) =>
      // per-row regexp_count over the scrub patterns; no shuffle
      TextAnalysis.piiCounts(t(s, d, "documents"), col("text"))
        .select(col("doc_id"), col("n_urls"), col("n_emails"), col("has_pii"))
        .orderBy(col("doc_id"))),
    "q75_balanced_sample" -> ((s, d) =>
      // data-driven mixture balancing: every source contributes ~the
      // smallest source's char mass, membership decided by the md5 gate
      Curation.balancedSample(t(s, d, "documents"),
        col("source"), col("doc_id"), col("n_chars"))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))),
    "q74_length_stats" -> ((s, d) =>
      // per-source doc-length profile: exact interpolated quantiles
      // (= DuckDB quantile_cont); the approx sketch path is unit-bounded
      CorpusStats.lengthStats(t(s, d, "documents"), col("source"), col("n_chars"))
        .withColumnRenamed("key", "source")
        .orderBy(col("source"))),
    "q73_sessionize" -> ((s, d) =>
      // gaps-and-islands sessionization: 30-min inactivity gap per user;
      // both window passes share one exchange + sort (plan-audited)
      Sessionize.assignSessions(events(s, d),
        col("user_id"), col("ts"), col("event_id"), gapMicros = 30L * 60 * 1000000)
        .groupBy(col("user_id"), col("session_no"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"),
          dsum(col("value")).as("sum_value"))
        .orderBy(col("user_id"), col("session_no"))),
    // ---- store mutation on a disposable copy (S7-S9, VectorTable.php:346-445) ----
    "q81_store_upsert" -> ((s, d) => {
      // S7 upsert: vec_id%100==0 keys get their vector replaced in place —
      // the UPDATE branch keeps the existing id (VectorTable.php:370) and,
      // unlike the reference's documented magnitude bug (VectorTable.php:361),
      // refreshes ALL derived columns; vec_id%100==7 arrives as a NEW
      // (post_id, 1) key -> fresh ids past max, in (post_id, seq) order.
      // x*2f is exact in float, so the oracle reproduces it bit-for-bit.
      val store = tempStore(s, d, "q81")
      val emb = t(s, d, "embeddings")
      val updates = emb.filter(col("vec_id") % 100 === 0).select(
          col("vec_id").as("post_id"), lit(0).as("sequence_no"),
          transform(col("embedding"), x => x * lit(2.0f)).as("vector"),
          lit("upd").as("vector_type"))
        .unionByName(emb.filter(col("vec_id") % 100 === 7).select(
          col("vec_id").as("post_id"), lit(1).as("sequence_no"),
          col("embedding").as("vector"), lit("new").as("vector_type")))
      store.upsert(updates)
      storeState(store)
    }),
    "q82_store_insert_all" -> ((s, d) => {
      // S8 replace-all-per-key: post 7's row is dropped and replaced by two
      // fresh rows (DELETE + inserts, VectorTable.php:401-425); new ids
      // continue past the pre-mutation max even though an id was freed
      val store = tempStore(s, d, "q82")
      val src = t(s, d, "embeddings").filter(col("vec_id") === 7)
      val rows = src.select(col("vec_id").as("post_id"), lit(0).as("sequence_no"),
          transform(col("embedding"), x => x * lit(0.5f)).as("vector"),
          lit("repl").as("vector_type"))
        .unionByName(src.select(col("vec_id").as("post_id"), lit(1).as("sequence_no"),
          transform(col("embedding"), x => x * lit(4.0f)).as("vector"),
          lit("repl").as("vector_type")))
      store.insertAll(7L, rows)
      storeState(store)
    }),
    "q83_store_delete" -> ((s, d) => {
      // S9 set-oriented delete: the id set (posts 3 and 11) goes through
      // deleteMany as a FRAME — ids grouped by bucket, each touched bucket
      // rewritten once, no driver-side id collect at all (the per-id
      // delete() loop would cost one full read+rewrite pass per id)
      val store = tempStore(s, d, "q83")
      store.deleteMany(store.read().filter(col("post_id").isin(3L, 11L))
        .select(col("id")))
      storeState(store)
    }),
    "q335_embstore_snapshot" -> ((s, d) => {
      // X290 EmbeddingStore snapshot/restore: snapshot the seeded
      // store, run q83's EXACT delete on the RESTORED copy, serve its
      // state under q83's oracle verbatim; the source must not see the
      // copy's mutation (asserted — the one thing the oracle can't)
      val store = tempStore(s, d, "q335")
      val target = store.storePath + "_snap"
      val p = new org.apache.hadoop.fs.Path(target)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      store.snapshot(target)
      val copy = new graft.sources.EmbeddingStore(s, target, numBuckets = 4)
      val before = store.count()
      copy.deleteMany(copy.read().filter(col("post_id").isin(3L, 11L))
        .select(col("id")))
      require(store.count() == before,
        "the source must not see the copy's delete")
      storeState(copy)
    }),
    "q336_nglm_snapshot" -> ((s, d) => {
      // X290 NgramLm snapshot: the cross-location copy the blue/green
      // versioning can't give — snapshot the shared model, score the
      // corpus from the COPY under q209's oracle verbatim (pure I/O)
      val dir = java.nio.file.Files.createTempDirectory("graft_lm_snap").toString
      sharedNgramLm(s, d).snapshot(s"$dir/lm")
      new graft.sources.NgramLm(s, s"$dir/lm")
        .score(t(s, d, "documents"), "doc_id", col("text"))
        .orderBy(col("doc_id"))
    }),
    "q84_admin_page" -> ((s, d) => {
      // T7+T9+J6: the admin listing's status DESC + CASE-priority +
      // queued_time DESC ordering, page 2 (VectorTableQueue.php:403-437),
      // with the posts left-join for the listing columns. post_chars is
      // coalesced to -1: a nullable int would round-trip as float64 on
      // one side of the driver's hash compare
      // the outer coalesce below maps BOTH join misses and null n_chars
      // to the -1 sentinel, matching the oracle's COALESCE(d.n_chars, -1)
      val posts = docsAsPosts(s, d)
        .select(col("ID"), col("n_chars").as("post_chars"))
      EmbedQueue.adminPage(queueFromEvents(s, d), Some(posts), page = 2)
        .select(col("job_id"), col("status"),
          coalesce(col("post_chars"), lit(-1)).as("post_chars"),
          unix_micros(col("queued_time")).as("queued_us"))
        .orderBy(col("job_id"))
    }),
    "q85_image_roundtrip" -> ((s, d) => {
      // real javax.imageio path: render content-dependent PNGs, resize to
      // half via decode->scale->re-encode, then decode again — the dims the
      // oracle recomputes arithmetically only match if both codec passes
      // actually ran (Multimodal.ImageCodec)
      val media = Multimodal.fromTextAsImages(t(s, d, "documents"), "doc_id", "text")
      Multimodal.decodeImages(Multimodal.resizeImages(media, 2))
        .orderBy(col("media_id"))
    }),
    "q86_audio_roundtrip" -> ((s, d) => {
      // real javax.sound.sampled path: render content-dependent WAVs,
      // decode through AudioSystem — the container-declared rate/frames
      // only match the oracle arithmetic if the codec round-trip ran.
      // rms/zero_crossings are decode-derived (unit-tested, not oracle-
      // expressible) and are projected away here
      val media = Multimodal.fromTextAsWavs(t(s, d, "documents"), "doc_id", "text")
      Multimodal.decodeAudio(media)
        .select(col("media_id"), col("sample_rate"), col("n_frames"), col("duration_ms"))
        .orderBy(col("media_id"))
    }),
    "q87_video_frames" -> ((s, d) => {
      // GFV0 container path: render 2+id%4 PNG frames per doc, demux the
      // stream, sample every 2nd frame, decode each through javax.imageio
      // — frame numbers and decoded dims must match the oracle arithmetic
      val media = Multimodal.fromTextAsVideos(t(s, d, "documents"), "doc_id", "text")
      Multimodal.demuxFrames(media, stride = 2)
        .orderBy(col("media_id"), col("frame_no"))
    }),
    "q88_pq_adc" -> ((s, d) => {
      // product-quantization ADC search (X45): seed codebooks from the
      // first 4 vectors (q58/q59 convention), encode every row to 4 codes,
      // score the vec_id=5 query through the LUT — codes + distances must
      // match the oracle's argmin/sum arithmetic exactly
      val embs = t(s, d, "embeddings")
      val books = Pq.seedCodebooks(embs, "vec_id", "embedding", m = 4, k = 4)
      val query = embs.filter(col("vec_id") === 5L)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      Pq.adcTopK(Pq.encode(embs, "embedding", books), "vec_id", "codes",
        books, query, topK = 10)
    }),
    "q89_ivfpq" -> ((s, d) => {
      // IVF×PQ (X46): q59's coarse probe prune (max-dot, nprobe=2 of the
      // 4 seed centroids) composed with q88's ADC code scoring
      val embs = t(s, d, "embeddings")
      val coarse = embs.filter(col("vec_id") < 4).orderBy(col("vec_id"))
        .select(col("embedding")).collect().map(_.getSeq[Float](0).toArray).toSeq
      val books = Pq.seedCodebooks(embs, "vec_id", "embedding", m = 4, k = 4)
      val query = embs.filter(col("vec_id") === 5L)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      Pq.ivfAdcTopK(embs, "vec_id", "embedding", coarse, books, query,
        nprobe = 2, topK = 10)
    }),
    "q90_line_dedup" -> ((s, d) => {
      // X47 cross-document line dedup (RefinedWeb/CCNet boilerplate pass):
      // pages = 5 consecutive docs, each doc contributing its text line and
      // a per-source promo line, under a shared nav header. The header and
      // promo lines recur across pages -> removed; every content line is
      // unique at this SF -> kept, original order intact.
      val pages = t(s, d, "documents")
        .groupBy((col("doc_id") / 5).cast(LongType).as("page_id"))
        .agg(concat_ws("\n",
          lit("nav home about contact subscribe"),
          concat_ws("\n", transform(
            array_sort(collect_list(struct(col("doc_id"),
              concat(col("text"), lit("\npromo "), col("source")).as("block")))),
            b => b.getField("block")))).as("text"))
      Dedup.lineDedup(pages, "page_id", col("text"), minDocs = 2, minLen = 5)
        .orderBy(col("page_id"))
    }),
    "q91_semantic_dedup" -> ((s, d) => {
      // X48 SemDeDup (cluster-then-prune): 4 seed centroids (q58/q59
      // convention), pairs scored within clusters only; tau=0.40 marks a
      // meaningful dup set at this SF (25 of 500 rows). is_dup=false rows
      // are the kept corpus.
      val embs = t(s, d, "embeddings")
      val cents = embs.filter(col("vec_id") < 4).orderBy(col("vec_id"))
        .collect().map(r => r.getSeq[Float](r.fieldIndex("embedding")).toArray).toSeq
      Dedup.semanticDedup(embs, "vec_id", "embedding", cents, tau = 0.40)
        .orderBy(col("vec_id"))
    }),
    "q92_mixture_sample" -> ((s, d) =>
      // X49 token-budget data mixing: explicit per-source budgets, greedy
      // fill in md5-shuffled order, first over-budget doc cut whole;
      // sources outside the mixture are dropped entirely
      Curation.mixtureSample(t(s, d, "documents"), col("source"), "doc_id",
        size(TextAnalysis.tokens(col("text"))),
        budgets = Seq("src0" -> 800L, "src1" -> 500L, "src2" -> 250L),
        seed = "mix0")
        .orderBy(col("doc_id"))),
    "q93_quality_gate" -> ((s, d) =>
      // X50 Gopher-style quality gate: ordered rejection rules, verdict +
      // first-failing-rule reason per doc (NULL = kept); per-row, no shuffle
      Curation.gopherGate(t(s, d, "documents"), "doc_id", col("text"))
        .orderBy(col("doc_id"))),
    "q94_novelty" -> ((s, d) =>
      // X51 corpus novelty: fraction of each doc's distinct hashed
      // 3-gram shingles unique to it corpus-wide (q67 hash convention)
      Dedup.noveltyScore(t(s, d, "documents"), "doc_id", col("text"))
        .orderBy(col("doc_id"))),
    "q95_bigram_table" -> ((s, d) =>
      // X52 n-gram-LM count table: top-3 continuations per head token,
      // ties broken by the continuation's lexical order
      TextAnalysis.bigramTable(t(s, d, "documents"), "doc_id", col("text"), k = 3)
        .orderBy(col("w1"), col("rank"))),
    "q96_vocab_overlap" -> ((s, d) =>
      // X53 pairwise source-vocabulary Jaccard: the mixture-design
      // diagnostic (near-redundant sources show up as high overlap)
      CorpusStats.vocabOverlap(t(s, d, "documents"), col("source"), "doc_id", col("text"))
        .orderBy(col("s1"), col("s2"))),
    "q97_ivf_stats" -> ((s, d) => {
      // X54 IVF partition health: per-list population + mean cosine to
      // the centroid (q58/q59 seed-centroid convention)
      val embs = t(s, d, "embeddings")
      val cents = embs.filter(col("vec_id") < 4).orderBy(col("vec_id"))
        .collect().map(r => r.getSeq[Float](r.fieldIndex("embedding")).toArray).toSeq
      Ann.ivfStats(embs, "vec_id", "embedding", cents)
        .orderBy(col("ivf_list"))
    }),
    "q98_winnow_overlap" -> ((s, d) =>
      // X55 winnowing (SIGMOD'03): doc pairs sharing >= 1 selected
      // fingerprint — sketch-level overlap at ~2/(w+1) posting density
      Dedup.winnowedOverlap(t(s, d, "documents"), "doc_id", col("text"),
        shingleN = 3, window = 4)
        .orderBy(col("id1"), col("id2"))),
    "q99_split_leakage" -> ((s, d) => {
      // X56 eval-integrity audit: clone every 10th doc under a new id so
      // content-dup leakage across the id-hashed split exists by
      // construction; report each val/test doc whose fingerprint appears
      // in train
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val clones = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text"))
      Dedup.splitLeakage(docs.unionByName(clones), "doc_id", col("text"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .orderBy(col("doc_id"), col("train_id"))
    }),
    "q100_dedup_report" -> ((s, d) => {
      // X57 per-source dedup dashboard: clones under the SAME source
      // (doc_id%13==0 -> intra-key dup mass) and under a NEW source
      // (doc_id%7==0 -> cross-key shared contents) make both columns
      // non-trivial by construction
      val docs = t(s, d, "documents").select(col("doc_id"), col("source"), col("text"))
      val intra = docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 20000).as("doc_id"), col("source"), col("text"))
      val cross = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 30000).as("doc_id"), lit("mirror").as("source"), col("text"))
      Dedup.dedupReport(docs.unionByName(intra).unionByName(cross),
        col("source"), "doc_id", col("text"))
        .withColumnRenamed("key", "source")
        .orderBy(col("source"))
    }),
    "q101_adaptive_cutoff" -> ((s, d) =>
      // X58 data-driven quality gate: keep the top 90% by quality score;
      // the cutoff is the corpus' own p10, recorded alongside for audit
      Curation.adaptiveQualityCutoff(t(s, d, "documents"), "doc_id", col("text"),
        keepFrac = 0.9)
        .orderBy(col("doc_id"))),
    "q102_mean_pool" -> ((s, d) =>
      // X59 chunk->doc embedding pooling: vec_id%50 stands in for the doc
      // grouping; index-ordered sequential fold keeps the float mean
      // bit-identical to the oracle. Flattened per dim (q61 convention —
      // no array columns through the driver's hash compare)
      Ann.meanPool(t(s, d, "embeddings"), col("vec_id") % 50, col("vec_id"), "embedding")
        .select(col("gid"), col("n_chunks"), posexplode(col("pooled")).as(Seq("dim", "val")))
        .orderBy(col("gid"), col("dim"))),
    "q103_matryoshka" -> ((s, d) =>
      // X60 MRL prefix view: first 16 dims re-normalized (the low-dim
      // candidate index; the full 64-dim vector remains for rerank)
      t(s, d, "embeddings")
        .select(col("vec_id"),
          posexplode(graft.functions.VectorFunctions.matryoshka(col("embedding"), 16))
            .as(Seq("dim", "val")))
        .orderBy(col("vec_id"), col("dim"))),
    "q104_matryoshka_search" -> ((s, d) => {
      // X61 MRL funnel: 16-dim prefix candidates (top-50), full-dim
      // exact rerank to top-10 — the q34 query vector (vec_id=5)
      val embs = t(s, d, "embeddings")
      val q = embs.filter(col("vec_id") === 5L)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      Ann.matryoshkaTopK(embs, "vec_id", "embedding", q,
        prefixDims = 16, candidates = 50, k = 10)
    }),
    "q105_recall_at_k" -> ((s, d) => {
      // X62 ANN eval harness: recall@10 of the 16-dim prefix funnel vs
      // exact brute force, same query
      val embs = t(s, d, "embeddings")
      val q = embs.filter(col("vec_id") === 5L)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val exact = Ann.bruteForceTopK(embs, "vec_id", "embedding", q, k = 10)
      val approx = Ann.matryoshkaTopK(embs, "vec_id", "embedding", q,
        prefixDims = 16, candidates = 50, k = 10)
      Ann.recallAtK(exact, approx, "vec_id", k = 10)
    }),
    "q106_contrastive_pairs" -> ((s, d) => {
      // X63 training-pair mining: q68's near-dup components (docs +
      // exact clones) -> (anchor=min id, up to 3 positives) per cluster
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val both = docs.unionByName(
        docs.select((col("doc_id") + 100000).as("doc_id"), col("text")))
      Dedup.contrastivePairs(
        Dedup.dedupGroups(Dedup.minhashCandidatePairs(both, "doc_id", col("text"),
          shingleN = 3, numHashes = 8, rowsPerBand = 2)), k = 3)
        .orderBy(col("anchor_id"), col("rank"))
    }),
    "q107_lm_score" -> ((s, d) => {
      // X64 CCNet-style LM quality score: per-doc cross-entropy/perplexity
      // under the corpus's own add-0.5-smoothed bigram model
      val docs = t(s, d, "documents")
      TextAnalysis.lmScore(docs, docs, "doc_id", col("text"), alpha = 0.5)
        .orderBy(col("doc_id"))
    }),
    "q108_dsir_weights" -> ((s, d) => {
      // X65 DSIR importance weights: bigram-LM likelihood ratio of each
      // doc under the lang='en' target model vs the whole-corpus model
      val docs = t(s, d, "documents")
      Curation.dsirWeights(docs, docs.filter(col("lang") === "en"),
        "doc_id", col("text"), alpha = 0.5)
        .orderBy(col("doc_id"))
    }),
    "q109_ppl_buckets" -> ((s, d) => {
      // X66 CCNet head/middle/tail: per-language perplexity terciles
      // under the corpus's own bigram model
      val docs = t(s, d, "documents")
      Curation.pplBuckets(docs, docs, "doc_id", col("text"), col("lang"))
        .orderBy(col("doc_id"))
    }),
    "q110_funnel" -> ((s, d) =>
      // X68 ordered conversion funnel over the clickstream: min-cascade,
      // strictly-increasing timestamps chain the stages
      Sessionize.funnel(events(s, d), col("user_id"), col("ts"), col("event_type"),
        Seq("view", "click", "signup", "purchase"))
        .orderBy(col("user_id"))),
    "q111_funnel_counts" -> ((s, d) =>
      // X68 funnel chart: survivors per stage from the per-user frame
      Sessionize.funnelCounts(
        Sessionize.funnel(events(s, d), col("user_id"), col("ts"), col("event_type"),
          Seq("view", "click", "signup", "purchase")),
        Seq("view", "click", "signup", "purchase"))
        .orderBy(col("stage"))),
    "q112_cohort_retention" -> ((s, d) =>
      // X69 weekly cohort retention triangle over the clickstream
      Sessionize.cohortRetention(events(s, d), col("user_id"), col("ts"))
        .orderBy(col("cohort_week"), col("week_offset"))),
    "q113_cms_estimate" -> ((s, d) => {
      // X70 count-min sketch: fixed 4x512 counter table, probe a mix of
      // frequent and absent tokens; estimates are deterministic
      val docs = t(s, d, "documents")
      val cells = CorpusStats.cmsCells(docs, "doc_id", col("text"), depth = 4, width = 512)
      CorpusStats.cmsEstimate(cells,
        Seq("the", "of", "and", "model", "data", "zzz_absent_token"),
        depth = 4, width = 512)
        .orderBy(col("term"))
    }),
    "q114_priority_sample" -> ((s, d) =>
      // X71 weight-proportional sample without replacement, k=100 by
      // n_chars — deterministic across engines (no transcendental)
      Curation.prioritySample(t(s, d, "documents"), "doc_id", col("n_chars"),
        k = 100, seed = "r6")
        .orderBy(col("priority").desc, col("doc_id"))),
    "q115_sq_search" -> ((s, d) => {
      // X72 SQ8 asymmetric search: float query vs dequantized int8 codes
      // (1 byte/dim store), bit-exact sequential dot, top-k heap
      val embs = t(s, d, "embeddings")
      val query = embs.filter(col("vec_id") === 0L)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      Quantize.sqTopK(embs, "vec_id", "embedding", query, k = 20)
    }),
    "q116_lang_profile" -> ((s, d) =>
      // X73 code-switching profile: per-line langId -> majority language,
      // majority fraction, distinct-language count per doc
      TextAnalysis.langProfile(t(s, d, "documents"), "doc_id", col("text"))
        .orderBy(col("doc_id"))),
    "q117_phrase_match" -> ((s, d) =>
      // X74 exact phrase search on the positional inverted index
      TextAnalysis.phraseMatch(
        TextAnalysis.positionalPostings(t(s, d, "documents"), "doc_id", col("text")),
        Seq("sort", "merge"))
        .orderBy(col("doc_id"))),
    "q118_bm25" -> ((s, d) =>
      // X76 BM25 keyword leg: Lucene idf variant, one doc-keyed pass
      TextAnalysis.bm25TopK(t(s, d, "documents"), "doc_id", col("text"),
        Seq("sort", "merge", "spark"), k = 20)),
    "q119_hybrid_rrf" -> ((s, d) => {
      // X77 hybrid fusion: exact-cosine leg + SQ8 compressed leg merged by
      // reciprocal-rank fusion (ranks only — leg scores incomparable)
      import org.apache.spark.sql.expressions.Window
      val embs = t(s, d, "embeddings")
      val q = embs.filter(col("vec_id") === 0L)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val cosLeg = Ann.bruteForceTopK(embs, "vec_id", "embedding", q, k = 20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("cosine").desc, col("vec_id").asc)))
      val sqLeg = Quantize.sqTopK(embs, "vec_id", "embedding", q, k = 20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("vec_id").asc)))
      Ann.rrfFuse(Seq(cosLeg, sqLeg), "vec_id", k = 10)
    }),
    "q120_session_traces" -> ((s, d) =>
      // X78 behavioral-sequence export: 30-min-gap sessions serialized as
      // ordered event-type traces
      Sessionize.sessionTraces(events(s, d), col("user_id"), col("ts"),
        col("event_id"), col("event_type"), gapMicros = 1800000000L)
        .orderBy(col("user_id"), col("session_no"))),
    "q121_proximity" -> ((s, d) =>
      // X79 NEAR/4 co-occurrence of 'sort' and 'merge' on the positional
      // index — band-bucketed join, never per-doc cartesian
      TextAnalysis.proximityMatch(
        TextAnalysis.positionalPostings(t(s, d, "documents"), "doc_id", col("text")),
        "sort", "merge", maxDist = 4)
        .orderBy(col("doc_id"))),
    "q122_datasheet" -> ((s, d) =>
      // X80 per-source corpus datasheet: volume, dup rate, quality,
      // majority language — one corpus read, one exchange
      CorpusStats.datasheet(t(s, d, "documents"), col("source"), "doc_id",
        col("text"), col("lang"))
        .withColumnRenamed("key", "source")
        .orderBy(col("source"))),
    "q123_funnel_latency" -> ((s, d) =>
      // X81 time-to-convert: per-transition latency stats off the funnel
      Sessionize.funnelLatency(
        Sessionize.funnel(events(s, d), col("user_id"), col("ts"), col("event_type"),
          Seq("view", "click", "signup", "purchase")),
        Seq("view", "click", "signup", "purchase"))
        .orderBy(col("stage"))),
    "q124_centroid_drift" -> ((s, d) =>
      // X82 embedding-space drift: per-label centroids (bit-exact mean),
      // pairwise centroid cosine
      Ann.centroidDrift(t(s, d, "embeddings"), col("label"), "vec_id", "embedding")
        .orderBy(col("k1"), col("k2"))),
    "q125_snapshot_diff" -> ((s, d) => {
      // X83 crawl-over-crawl delta: new snapshot = drop doc_id%11==0,
      // touch doc_id%7==0, add re-keyed doc_id%13==0 copies
      val docs = t(s, d, "documents")
      val newSnap = docs.filter(col("doc_id") % 11 =!= 0)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" updated"))).otherwise(col("text")))
        .unionByName(docs.filter(col("doc_id") % 13 === 0)
          .withColumn("doc_id", col("doc_id") + 100000))
      Dedup.snapshotDiff(docs, newSnap, "doc_id", col("text"))
        .orderBy(col("doc_id"))
    }),
    "q126_collocations" -> ((s, d) =>
      // X85 PMI collocation mining off one bigram-table pass
      TextAnalysis.collocations(t(s, d, "documents"), "doc_id", col("text"),
        minCount = 5, k = 20)),
    "q148_asof_nearest" -> ((s, d) => {
      // X108 nearest as-of: each click aligned to the CLOSER purchase
      // either side (tie -> backward)
      val all = events(s, d)
      val clicks = all.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val purchases = all.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"), col("value"))
        .groupBy("user_id", "p_ts")
        .agg(max(col("value")).as("p_value"))
      AsOf.asofJoinNearest(clicks, purchases, "user_id", "ts", "p_ts",
        Seq("p_ts", "p_value"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("value"), col("p_ts"), col("p_value"))
        .orderBy(col("event_id"))
    }),
    "q147_search_sql" -> ((s, d) => {
      // the flagship funnel EXECUTED AS PURE SQL over the registered
      // kernels (pack_sign_bits/hamming_dist/vec_dot) — the SQL surface
      // itself under the DuckDB gate, not just suite parity
      graft.functions.GraftFunctions.register(s)
      val q = t(s, d, "embeddings").filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      embStore(s, d).createOrReplaceTempView("graft_sql_search_store")
      s.sql(SearchEngine.searchSqlText(q, 5, "graft_sql_search_store"))
    }),
    "q146_asof_forward" -> ((s, d) => {
      // X107 forward as-of: each click picks up the user's NEXT purchase
      // at or after it — the label-at-horizon lookup
      val all = events(s, d)
      val clicks = all.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val purchases = all.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"), col("value"))
        .groupBy("user_id", "p_ts")
        .agg(max(col("value")).as("p_value"))
      AsOf.asofJoinForward(clicks, purchases, "user_id", "ts", "p_ts",
        Seq("p_ts", "p_value"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("value"), col("p_ts"), col("p_value"))
        .orderBy(col("event_id"))
    }),
    // X106 deflate-ratio quality signal — deliberately NO oracleSql
    // entry: DuckDB has no deflate, so the driver records a rows-only
    // check; determinism and byte accounting are pinned by CurationSuite
    "q145_deflate_ratio" -> ((s, d) =>
      Curation.deflateRatio(t(s, d, "documents"), "doc_id", col("text"))
        .orderBy(col("doc_id"))),
    "q144_leakage_safe_split" -> ((s, d) =>
      // X105 cluster-preserving 80/10/10: near-dup groups never straddle
      // the train/test boundary (the q99 leakage class, prevented)
      Dedup.leakageSafeSplit(t(s, d, "documents"), "doc_id", col("text"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "ls")
        .orderBy(col("doc_id"))),
    "q143_clip_recommend" -> ((s, d) =>
      // X104 quantizer clip policy: p0.5/p99.5 bounds per dim + the grid
      // step ratio clipping would buy
      Quantize.clipRecommendation(t(s, d, "embeddings"), "embedding",
        loFrac = 0.005, hiFrac = 0.995)
        .orderBy(col("dim"))),
    "q142_dedup_provenance" -> ((s, d) =>
      // X103 removal audit trail: (removed, kept, rule) for exact
      // fingerprint dups then near-dup components over the survivors
      Dedup.dedupProvenance(t(s, d, "documents"), "doc_id", col("text"))
        .orderBy(col("removed_id"))),
    "q141_mixture_plan" -> ((s, d) =>
      // X102 target-mix planning: three sources get 60/30/10 of a 20k
      // token budget; rate = what stratifiedHashSample should keep
      Curation.mixturePlan(t(s, d, "documents"), col("source"),
        size(TextAnalysis.tokens(col("text"))),
        targets = Seq("src0" -> 0.6, "src1" -> 0.3, "src2" -> 0.1),
        totalBudget = 20000L)
        .orderBy(col("source"))),
    "q140_salt_plan" -> ((s, d) =>
      // X101 data-driven salt factors: sources past the per-task budget
      // with the sub-key count that brings them back under it
      graft.util.Salt.saltPlan(t(s, d, "documents"), col("source"),
        targetPerTask = 10L)),
    "q139_coverage_hist" -> ((s, d) => {
      // X98 in-distribution check: every 5th vector plays "new snapshot",
      // the rest are the reference; NN cosine within the 8-bit sign
      // bucket, histogrammed
      val e = t(s, d, "embeddings")
      Ann.coverageHistogram(e.filter(col("vec_id") % 5 === 0),
        e.filter(col("vec_id") % 5 =!= 0), "vec_id", "embedding", bits = 8)
        .orderBy(col("bucket"))
    }),
    "q138_vocab_coverage" -> ((s, d) =>
      // X97 tokenizer-sizing curve: token mass covered by the top-N types
      CorpusStats.vocabCoverage(t(s, d, "documents"), col("text"))
        .orderBy(col("top_n"))),
    "q137_sim_histogram" -> ((s, d) =>
      // X96 near-dup threshold sweep: exact jaccard histogram over the
      // banded candidate population + pairs-at-or-above cumulative
      Dedup.similarityHistogram(t(s, d, "documents"), "doc_id", col("text"))
        .orderBy(col("bucket"))),
    "q136_jl_project" -> ((s, d) =>
      // X95 seed-regenerable JL sign projection 64 -> 16, exploded to
      // long format for the hash compare
      Ann.jlProject(t(s, d, "embeddings"), "embedding", inDim = 64, outDim = 16,
        seed = "jl")
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("dim", "val")))
        .orderBy(col("vec_id"), col("dim"))),
    "q135_sq8_error" -> ((s, d) =>
      // X94 int8 accuracy gate: per-dim mean/max reconstruction error of
      // the quantize->dequantize round trip, next to the grid range
      Quantize.reconstructionError(t(s, d, "embeddings"), "embedding")
        .orderBy(col("dim"))),
    "q134_stratified_split" -> ((s, d) =>
      // X93 exact-proportion stratified split: 80/10/10 holds within one
      // row PER SOURCE (hashSplit q77 only hits it in expectation)
      graft.util.Sampling.stratifiedSplit(
        t(s, d, "documents").select(col("doc_id"), col("source")),
        col("doc_id"), col("source"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "s7")
        .orderBy(col("doc_id"))),
    "q133_ngram_diversity" -> ((s, d) =>
      // X92 distinct-n per source: the synthetic/templated-text tell;
      // one staged-token pass explodes all three gram orders
      CorpusStats.ngramDiversity(t(s, d, "documents"), col("source"), col("text"))
        .orderBy(col("source"), col("n"))),
    "q132_hard_negatives" -> ((s, d) => {
      // X91 contrastive hard negatives: vec_id%7 as the dedup-group stand-
      // in; anchors vec_id<3 mine their top-3 most-similar OUT-of-group
      // rows — the "close but wrong" contrastive training pairs
      val e = t(s, d, "embeddings").withColumn("grp", col("vec_id") % 7)
      Ann.hardNegatives(e.filter(col("vec_id") < 3), e,
        "vec_id", "vec_id", "embedding", "embedding", "grp", "grp", k = 3)
        .orderBy(col("anchor_id"), col("rank"))
    }),
    "q131_bpe_pairs" -> ((s, d) =>
      // X90 BPE step-1 merge candidates: char-pair counts off the
      // vocab-sized token census, frequency as weight
      TextAnalysis.bpePairStats(t(s, d, "documents"), col("text"), k = 25)),
    "q130_mixture_drift" -> ((s, d) => {
      // X89 mixture drift: the q125 snapshot edit (drop %11, add re-keyed
      // %13) shifts the SOURCE distribution; per-source KL/JS terms are
      // the pre-training drift alarm
      val docs = t(s, d, "documents")
      val newSnap = docs.filter(col("doc_id") % 11 =!= 0)
        .unionByName(docs.filter(col("doc_id") % 13 === 0)
          .withColumn("doc_id", col("doc_id") + 100000))
      Curation.mixtureDrift(docs, newSnap, col("source"))
        .orderBy(col("source"))
    }),
    "q129_embedding_health" -> ((s, d) =>
      // X88 per-dim mean/variance/sign-balance — the embedding-collapse
      // and anisotropy dashboard; one dim-keyed exchange of partials
      Ann.embeddingHealth(t(s, d, "embeddings"), "embedding")
        .orderBy(col("dim"))),
    "q128_cdc_chunks" -> ((s, d) =>
      // X87 content-defined chunking: md5-cut token chunks with
      // rank-weighted decimal fingerprints — boundaries move with content,
      // not with offsets, so chunk-level dedup survives edits
      TextAnalysis.cdcChunks(t(s, d, "documents"), "doc_id", col("text"), divisor = 16)
        .orderBy(col("doc_id"), col("chunk_no"))),
    "q127_gif_frames" -> ((s, d) => {
      // X86 standard-container demux: the same frames as q87 muxed into a
      // real ANIMATED GIF, demuxed back through javax.imageio's sequence
      // reader — the oracle arithmetic is identical to q87's because the
      // two containers carry the same deterministic content
      val media = Multimodal.fromTextAsGifs(t(s, d, "documents"), "doc_id", "text")
      Multimodal.demuxFrames(media, stride = 2)
        .orderBy(col("media_id"), col("frame_no"))
    }))

  // ======================================================================

  // explicit whitespace class, not \s: Java regex \s includes \x0B where
  // RE2's does not — TextAnalysis.Ws keeps both engines on the same set
  private val mdNorm = "regexp_replace(lower(trim(text)), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')"
  private def toksSqlOn(c: String) =
    s"regexp_split_to_array(lower(trim($c)), '[ \\t\\n\\x0B\\f\\r]+')"
  private val toksSql = toksSqlOn("text")

  /** DuckDB mirror of [[TextAnalysis.segmentUnicode]]: pad every
    * unsegmented-script codepoint with spaces (RE2 `\x{...}` class,
    * `\1` group reference, 'g' flag — DuckDB replaces only the first
    * match without it). */
  private def padSqlOn(c: String) =
    s"regexp_replace($c, '${TextAnalysis.UnsegReSql}', ' \\1 ', 'g')"

  /** Unicode-mode tokenization: the pad FIRST, then the exact default
    * pipeline — mirrors `TextAnalysis.tokens(c, unicode = true)`. */
  private val uToksSql = toksSqlOn(padSqlOn("text"))

  /** DuckDB mirror of `tokens(segmentUnicodeBigram(text))` as a string
    * walk (RE2 has no lookarounds, so the engine's lookaround trick is
    * out): non-class text tokenizes through the default pipeline with
    * the runs blanked to spaces; each extracted unsegmented-script run
    * contributes its n−1 overlapping character bigrams (singleton runs
    * their unigram). Token ORDER differs from the engine's stream —
    * irrelevant to the tf/df/dl bag statistics BM25 consumes. */
  private val bToksSql = {
    val c = TextAnalysis.UnsegClassSql
    val ascii = toksSqlOn(s"regexp_replace(text, '$c+', ' ', 'g')")
    val runs =
      s"""flatten(list_transform(regexp_extract_all(text, '$c+'),
          r -> CASE WHEN len(r) >= 2
            THEN list_transform(range(len(r) - 1),
              i -> substr(r, CAST(i + 1 AS INT), 2))
            ELSE [r] END))"""
    s"list_concat($ascii, $runs)"
  }

  /** Mixed-script corpus for the unicode-segmentation gates (q239–
    * q241): deterministic derivation from `documents`, so both engines
    * compute the identical fixture — every third doc gains a CJK
    * suffix, the next third a Thai prefix. One source of truth for the
    * phrases (interpolated into BOTH the Column and the SQL side). */
  private val CjkPhrase = "機械学習は楽しい 検索エンジン"
  private val ThaiPhrase = "ภาษาไทย ทดสอบ"
  private def mixedDocs(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").withColumn("text",
      when(col("doc_id") % 3 === 0, concat(col("text"), lit(" " + CjkPhrase)))
        .when(col("doc_id") % 3 === 1, concat(lit(ThaiPhrase + " "), col("text")))
        .otherwise(col("text")))
  private val mixedSqlFrom =
    s"""(SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN text || ' $CjkPhrase'
          WHEN doc_id % 3 = 1 THEN '$ThaiPhrase ' || text
          ELSE text END AS text FROM documents) AS mx"""

  /** Shared by q121 (in-memory postings) and q215 (persisted index). */
  private val proximitySql: String =
    s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
          p AS (SELECT doc_id, CAST(u.i AS INT) AS pos, tk[CAST(u.i + 1 AS INT)] AS term
            FROM t, UNNEST(range(len(tk))) AS u(i)
            WHERE tk[CAST(u.i + 1 AS INT)] <> ''),
          pairs AS (SELECT DISTINCT a.doc_id, a.pos AS pa, b.pos AS pb
            FROM p a JOIN p b ON b.doc_id = a.doc_id
              AND abs(a.pos - b.pos) <= 4 AND a.pos <> b.pos
            WHERE a.term = 'sort' AND b.term = 'merge')
          SELECT doc_id, COUNT(*) AS n_pairs,
            CAST(MIN(abs(pa - pb)) AS INT) AS min_dist
          FROM pairs GROUP BY 1 ORDER BY doc_id"""

  // ======================================================================
  // Build-once layout cache: the persisted-layout PURE-SERVE queries
  // (q213/q214-class) share one on-disk build per (kind, sf dir) per
  // process, so the bench times the SERVE, not a disposable rebuild —
  // exactly how a serving deployment amortizes its index. Correctness
  // is untouched: a layout is a pure-I/O artifact of (corpus, build
  // parameters), bit-identical for every consumer, and NO query that
  // MUTATES a layout (delete/vacuum/compact/split/merge/append
  // lifecycles) uses the cache — those keep their private disposable
  // builds and keep pricing maintenance honestly. Bench.prebuild runs
  // the builds outside the timed section; under Verify the first
  // consumer pays the build once, every result identical either way.
  // ======================================================================

  // a plain map under a REENTRANT monitor, not ConcurrentHashMap:
  // derived layouts build from other cached layouts (pruned copy <-
  // shared index), and a nested computeIfAbsent on one CHM throws
  // "Recursive update" whenever the two keys land in the same bin
  private val layoutCache =
    scala.collection.mutable.HashMap.empty[(String, String), String]

  private def cachedDir(kind: String, d: String)(build: String => Unit): String =
    layoutCache.synchronized {
      layoutCache.getOrElseUpdate((kind, d), {
        val dir = java.nio.file.Files
          .createTempDirectory(s"graft_shared_$kind").toString
        build(dir)
        dir
      })
    }

  /** Shared inverted index over `documents` (default buckets), with
    * the X206 forward sidecar built alongside (a derived artifact of
    * the same build). */
  private def sharedInvIndex(s: SparkSession, d: String): graft.sources.InvertedIndex = {
    val dir = cachedDir("inv", d) { dir =>
      val idx = new graft.sources.InvertedIndex(s, s"$dir/inv")
      idx.build(t(s, d, "documents"), "doc_id", col("text"))
      idx.buildDerived(8) // the q259/q268 head-length convention
    }
    new graft.sources.InvertedIndex(s, s"$dir/inv")
  }

  /** Shared unicode-mode inverted index over the mixed-script corpus. */
  private def sharedUInvIndex(s: SparkSession, d: String): graft.sources.InvertedIndex = {
    val dir = cachedDir("inv_u", d) { dir =>
      new graft.sources.InvertedIndex(s, s"$dir/inv")
        .build(mixedDocs(s, d), "doc_id",
          TextAnalysis.segmentUnicode(col("text")))
    }
    new graft.sources.InvertedIndex(s, s"$dir/inv")
  }

  /** Shared inverted index over the mixed-script corpus with CHARACTER-
    * BIGRAM units (the Lucene CJKAnalyzer behavior — X198 finished);
    * the q254 serving layout. */
  private def sharedBInvIndex(s: SparkSession, d: String): graft.sources.InvertedIndex = {
    val dir = cachedDir("inv_b", d) { dir =>
      new graft.sources.InvertedIndex(s, s"$dir/inv")
        .build(mixedDocs(s, d), "doc_id",
          TextAnalysis.segmentUnicodeBigram(col("text")))
    }
    new graft.sources.InvertedIndex(s, s"$dir/inv")
  }

  /** Shared persisted [[graft.sources.QueryStore]] holding the q256
    * generated 10k-alert table (X212): 10,000 stored Boolean queries
    * derived DETERMINISTICALLY from the corpus vocabulary — both
    * engines rank the vocab by (df DESC, term) and pick each query's
    * must/should/should/must_not terms by fixed modular strides, with
    * per-(query, term) clause collisions resolved by pick priority —
    * so the fixture is a pure function of `documents` and the DuckDB
    * oracle regenerates it bit-for-bit. */
  private def sharedQueryStore(s: SparkSession, d: String): graft.sources.QueryStore = {
    val dir = cachedDir("qstore", d) { dir =>
      new graft.sources.QueryStore(s, s"$dir/qs")
        .build(generatedClauses(s, d))
    }
    new graft.sources.QueryStore(s, s"$dir/qs")
  }

  /** The q257/q271 shared SERP front half: fuzzy-corrected BM25 (msm=2)
    * + dense IVF + PRF recall legs, three-way RRF-fused to the pinned
    * top-10 (both rows' consumers would otherwise re-run all three
    * legs). Returns (fused hits, inverted index). */
  private def serpFused(s: SparkSession, d: String)
      : (DataFrame, graft.sources.InvertedIndex) = {
    import org.apache.spark.sql.expressions.Window
    val inv = sharedInvIndex(s, d)
    val ivf = sharedIvfIndex(s, d)
    val embs = t(s, d, "embeddings")
    val qv = embs.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val corrected = TextAnalysis.fuzzySuggestVocab(inv.vocab(),
        Seq("sorrt", "mergee", "spark"), topK = 1)
      .filter(col("rank") === 1).select(col("term")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    def ranked(df: DataFrame, scoreCol: String) = df
      .withColumn("rank", row_number().over(
        Window.orderBy(col(scoreCol).desc, col("vec_id").asc)))
    // the BM25 leg and the PRF leg share ONE per-doc tf frame (r22;
    // pin released after the eager fusion checkpoint materializes both)
    val (bmTopK, prfTopK, sharedPerDoc) =
      inv.bm25AndExpanded(corrected, k = 20, msm = 2, fbDocs = 5, fbTerms = 5)
    val bmLeg = ranked(bmTopK
      .select(col("doc_id").as("vec_id"), col("score")), "score")
    val cosLeg = ranked(ivf.search(qv, k = 20, nprobe = 4)
      .select(col("id").as("vec_id"), col("cosine")), "cosine")
    val prfLeg = ranked(prfTopK
      .select(col("doc_id").as("vec_id"), col("score")), "score")
    val fused = Ann.rrfFuse(Seq(bmLeg, cosLeg, prfLeg), "vec_id", k = 10)
      .localCheckpoint(true)
    graft.util.Pins.release(sharedPerDoc)
    (fused, inv)
  }

  /** The corpus vocabulary ranked (df DESC, term ASC) with a 1-based
    * rn — the deterministic fixture base shared by the q256 store and
    * the q269 lifecycle walk. */
  private def rankedVocab(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    t(s, d, "documents")
      .select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
      // no pre-distinct: count_distinct(doc_id) dedups per term itself —
      // the explicit distinct was a second full exchange over the
      // exploded (doc, term) pairs for the identical df (r22)
      .groupBy(col("term"))
      .agg(count_distinct(col("doc_id")).as("df"))
      .withColumn("rn", row_number().over(
        Window.orderBy(col("df").desc, col("term").asc)))
      .select(col("term"), col("rn"))
  }

  /** q269's appended alert batch: 100 single-must queries ('a' || i,
    * term at vocabulary stride 3i+1) — id-disjoint from the stored
    * 'q'-prefixed set, the append contract. */
  private def appendedClausesFrom(s: SparkSession, vocab: DataFrame,
      v: Int): DataFrame =
    s.range(0, 100).select(col("id").cast(IntegerType).as("i"))
      .select(concat(lit("a"), col("i")).as("query_id"),
        ((col("i") * 3 + 1) % v + 1).as("rn"))
      .join(vocab, Seq("rn"))
      .select(col("query_id"), col("term"), lit("must").as("clause"))

  private def generatedClauses(s: SparkSession, d: String): DataFrame = {
    val vocab = rankedVocab(s, d)
    generatedClausesFrom(s, vocab, vocab.count().toInt)
  }

  private def generatedClausesFrom(s: SparkSession, vocab: DataFrame,
      v: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = s.range(0, 10000).select(col("id").cast(IntegerType).as("i"))
    def pick(pr: Int, clause: String, rn: Column) =
      g.select(concat(lit("q"), col("i")).as("query_id"),
        lit(pr).as("pr"), lit(clause).as("clause"), (rn + 1).as("rn"))
    val picks = pick(0, "must", col("i") % v)
      .union(pick(1, "should", (col("i") * 7 + 3) % v))
      .union(pick(2, "should", (col("i") * 13 + 5) % v))
      .union(pick(3, "must_not", (col("i") * 31 + 11) % v))
    picks.join(vocab, Seq("rn"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id"), col("term")).orderBy(col("pr"))))
      .filter(col("rk") === 1)
      .select(col("query_id"), col("term"), col("clause"))
  }

  /** The exact 6-NN digraph over an embedding slice — the
    * SQL-expressible adjacency q345/q349/q350 gate the beam walk on.
    * Pinned; callers release after the serve materializes. */
  private def knn6Adjacency(e: DataFrame): DataFrame = {
    val a = e.select(col("vec_id").as("src"), col("embedding").as("sv"))
    val b = e.select(col("vec_id").as("dst"), col("embedding").as("dv"))
    a.join(b, col("src") =!= col("dst"))
      .withColumn("cos", graft.functions.VectorFunctions.vecCosine(
        col("sv"), col("dv")))
      .withColumn("__rk", row_number().over(Window.partitionBy(col("src"))
        .orderBy(col("cos").desc, col("dst").asc)))
      .filter(col("__rk") <= 6).select(col("src"), col("dst"))
      .localCheckpoint(true)
  }

  /** The (vec_id < 4) centroid convention shared by every IVF query. */
  private def cents4(s: SparkSession, d: String): Seq[Array[Float]] =
    t(s, d, "embeddings").filter(col("vec_id") < 4).orderBy(col("vec_id"))
      .select(col("embedding")).collect().map(_.getSeq[Float](0).toArray).toSeq

  /** Shared IVF index over `embeddings` with the (vec_id < 4) centroids. */
  private def sharedIvfIndex(s: SparkSession, d: String): graft.sources.IvfIndex = {
    val dir = cachedDir("ivf", d) { dir =>
      new graft.sources.IvfIndex(s, s"$dir/ivf")
        .build(t(s, d, "embeddings"), "vec_id", "embedding", cents4(s, d))
    }
    new graft.sources.IvfIndex(s, s"$dir/ivf")
  }

  /** Shared IVF×PQ index (q154's build: seed codebooks m=4, k=4) —
    * carries BOTH layouts (raw lists + codes), the q231 shape, so the
    * X205 refined search can re-fetch raw vectors from the same probed
    * directories. */
  private def sharedIvfPqIndex(s: SparkSession, d: String): graft.sources.IvfIndex = {
    val dir = cachedDir("ivfpq", d) { dir =>
      val embs = t(s, d, "embeddings")
      val books = Pq.seedCodebooks(embs, "vec_id", "embedding", m = 4, k = 4)
      val idx = new graft.sources.IvfIndex(s, s"$dir/ivf")
      idx.build(embs, "vec_id", "embedding", cents4(s, d))
      idx.buildPq(embs, "vec_id", "embedding", cents4(s, d), books)
    }
    new graft.sources.IvfIndex(s, s"$dir/ivf")
  }

  /** Shared persisted Stupid-Backoff model over `documents`. */
  private def sharedNgramLm(s: SparkSession, d: String): graft.sources.NgramLm = {
    val dir = cachedDir("nglm", d) { dir =>
      new graft.sources.NgramLm(s, s"$dir/lm")
        .build(t(s, d, "documents"), "doc_id", col("text"))
    }
    new graft.sources.NgramLm(s, s"$dir/lm")
  }

  /** Shared X204 static-pruned serving copy (keep-50 per term) derived
    * from [[sharedInvIndex]] — a derived artifact, rebuilt not
    * mutated, so it caches like its source. */
  private def sharedPrunedIndex(s: SparkSession, d: String): graft.sources.InvertedIndex = {
    val src = sharedInvIndex(s, d) // resolve the source OUTSIDE the cache closure
    val dir = cachedDir("inv_pruned", d) { dir =>
      src.prunedCopy(s"$dir/pinv", keepPerTerm = 50)
      ()
    }
    new graft.sources.InvertedIndex(s, s"$dir/pinv")
  }

  /** Bench hook: force every shared layout build OUTSIDE the timed
    * section (the build-once/serve-many split). */
  def prebuildLayouts(s: SparkSession, d: String): Unit = {
    sharedInvIndex(s, d); sharedUInvIndex(s, d); sharedBInvIndex(s, d)
    sharedIvfIndex(s, d); sharedIvfPqIndex(s, d)
    sharedNgramLm(s, d); sharedPrunedIndex(s, d); sharedQueryStore(s, d)
    sharedGraphIndex(s, d)
    ()
  }

  /** Shared persisted vamana graph over the vec_id<200 slice (the
    * X300 build, r=8/rounds=2) — the serve rows (q351) time the WALK,
    * not the build, per the build-once/serve-many bench split; q346
    * keeps its private in-query build as the build gate. */
  private def sharedGraphIndex(s: SparkSession, d: String): graft.sources.GraphIndex = {
    val dir = cachedDir("graph", d) { dir =>
      val e = t(s, d, "embeddings").filter(col("vec_id") < 200)
      val adj = graft.operators.GraphAnn.buildVamana(
        e, "vec_id", "embedding", r = 8, alpha = 1.2, rounds = 2)
      try new graft.sources.GraphIndex(s, s"$dir/g").build(adj)
      finally graft.util.Pins.release(adj)
    }
    new graft.sources.GraphIndex(s, s"$dir/g")
  }

  /** The q238/q246 Spark-SQL text: the ENTIRE q214 BM25 serving path as
    * one statement over `<prefix>_postings` / `<prefix>_doclens` —
    * stock-SQL md5 bucket predicates (constant-folded, pushed into the
    * live V2 scan), the exact bm25Rank arithmetic. */
  private def sqlServedBm25(prefix: String, b: Int): String = {
    val terms = Seq("sort", "merge", "spark")
    def bucketSql(t: String) =
      s"CAST(pmod(CAST(conv(substring(md5('$t'), 1, 7), 16, 10) AS BIGINT), $b) AS INT)"
    val termList = terms.map(t => s"'$t'").mkString(", ")
    val bucketList = terms.map(bucketSql).mkString(", ")
    val tfCols = terms.indices.map(i =>
      s"count(CASE WHEN term = '${terms(i)}' THEN 1 END) AS tf$i").mkString(", ")
    val pdCols = terms.indices.map(i =>
      s"coalesce(tf.tf$i, 0L) AS tf$i").mkString(", ")
    val dfCols = terms.indices.map(i =>
      s"count(CASE WHEN tf$i > 0 THEN 1 END) AS df$i").mkString(", ")
    val partial = terms.indices.map { i =>
      s"""round(ln(1.0D + (CAST(n_docs AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5D)
            / (CAST(df$i AS DOUBLE) + 0.5D))
          * CAST(tf$i AS DOUBLE) * 2.2D
          / (CAST(tf$i AS DOUBLE) + 1.2D * ((1.0D - 0.75D)
             + (0.75D * CAST(dl AS DOUBLE)) / avgdl)), 6)"""
    }.mkString(" + ")
    s"""WITH tf AS (SELECT doc_id, $tfCols
          FROM ${prefix}_postings
          WHERE term IN ($termList) AND tbucket IN ($bucketList)
          GROUP BY doc_id),
        pd AS (SELECT d.doc_id, d.dl, $pdCols
          FROM ${prefix}_doclens d LEFT JOIN tf ON d.doc_id = tf.doc_id),
        st AS (SELECT count(*) AS n_docs,
            CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl, $dfCols FROM pd),
        sc AS (SELECT pd.doc_id, pd.dl, $partial AS score
          FROM pd CROSS JOIN st)
        SELECT doc_id, dl, round(score, 6) AS score FROM sc
        WHERE score > 0 ORDER BY score DESC, doc_id ASC LIMIT 20"""
  }

  /** The shared serving-stack front half of q228/q229 (X188): build
    * both persisted indexes, fuzzy-correct the misspelled query terms
    * from the inverted index's census sidecar, run the BM25-msm leg and
    * the dense IVF leg from disk, RRF-fuse to the top-10. Returns
    * (fused hits, inverted index, corrected terms, documents). */
  private def servingStack(s: SparkSession, d: String)
      : (DataFrame, graft.sources.InvertedIndex, Seq[String], DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, d, "documents")
    val embs = t(s, d, "embeddings")
    val qv = embs.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val inv = sharedInvIndex(s, d)
    val ivf = sharedIvfIndex(s, d)
    // "did you mean" correction served from the census: rank-1 distance-1
    // vocabulary match per query term; bounded collect (≤ |terms| rows)
    val corrected = TextAnalysis.fuzzySuggestVocab(inv.vocab(),
        Seq("sorrt", "mergee", "spark"), topK = 1)
      .filter(col("rank") === 1).select(col("term")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    val bmLeg = inv.bm25(corrected, k = 20, msm = 2)
      .select(col("doc_id").as("vec_id"), col("score"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("vec_id").asc)))
    val cosLeg = ivf.search(qv, k = 20, nprobe = 4)
      .select(col("id").as("vec_id"), col("cosine"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cosine").desc, col("vec_id").asc)))
    // pin the 10-row fusion: every consumer joins against it at least
    // twice (hit set + snippet/facet semi-joins) and would otherwise
    // re-run both legs per consumer
    (Ann.rrfFuse(Seq(bmLeg, cosLeg), "vec_id", k = 10).localCheckpoint(true),
      inv, corrected, docs)
  }

  /** Shared by q180 (operator legs) and q216 (both legs served from
    * persisted indexes -- pure I/O on each side). */
  /** The two proven hybrid legs (BM25 bleg/r0, exact-cosine cleg/r1) as
    * a reusable CTE prefix — q180/q216 append the two-leg fusion,
    * q348 appends a MaxSim third leg before fusing. */
  private lazy val hybridLegsCtes: String = {
      val terms = Seq("sort", "merge", "spark")
      val (k1, b) = (1.2, 0.75)
      val k1p = (k1 + 1.0).toString
      val tfCols = terms.zipWithIndex.map { case (t, i) =>
        s"len(list_filter(tk, x -> x = '$t')) AS tf$i" }.mkString(", ")
      val dfCols = terms.indices.map(i =>
        s"COUNT(CASE WHEN tf$i > 0 THEN 1 END) AS df$i").mkString(", ")
      val partial = terms.indices.map { i =>
        s"""ROUND(LN(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5)
             / (CAST(df$i AS DOUBLE) + 0.5))
           * CAST(tf$i AS DOUBLE) * CAST($k1p AS DOUBLE)
           / (CAST(tf$i AS DOUBLE) + CAST($k1 AS DOUBLE) * ((1.0 - CAST($b AS DOUBLE))
              + (CAST($b AS DOUBLE) * CAST(dl AS DOUBLE)) / avgdl)), 6)"""
      }.mkString(" + ")
      s"""pd AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl, $tfCols
            FROM (SELECT doc_id, list_filter($toksSql, x -> x <> '') AS tk
                  FROM documents)
            WHERE len(tk) > 0),
          st AS (SELECT COUNT(*) AS n_docs,
              CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, $dfCols FROM pd),
          sc AS (SELECT pd.doc_id, $partial AS score
            FROM pd CROSS JOIN st),
          bmtop AS (SELECT doc_id AS vec_id, ROUND(score, 6) AS score FROM sc
            WHERE score > 0 ORDER BY score DESC, doc_id ASC LIMIT 20),
          bleg AS (SELECT vec_id,
            CAST(ROW_NUMBER() OVER (ORDER BY score DESC, vec_id ASC) AS INT) AS r0
            FROM bmtop),
          q AS (SELECT embedding AS qv,
            sqrt((SELECT SUM(CAST(y AS DOUBLE)*CAST(y AS DOUBLE)) FROM unnest(embedding) AS t(y))) AS qmag
            FROM embeddings WHERE vec_id = 0),
          cscored AS (SELECT e.vec_id,
            (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
             FROM q, LATERAL (SELECT unnest(e.embedding) AS x, unnest(q.qv) AS y) z) /
            (sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(e.embedding) AS t(x)))
             * (SELECT qmag FROM q) + 1e-12) AS c
            FROM embeddings e),
          ctop AS (SELECT vec_id, ROUND(c, 6) AS cosine FROM cscored
            ORDER BY c DESC, vec_id ASC LIMIT 20),
          cleg AS (SELECT vec_id,
            CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id ASC) AS INT) AS r1
            FROM ctop)"""
    }

  private lazy val hybridSearchSql: String =
    s"""WITH $hybridLegsCtes,
          fused AS (SELECT COALESCE(b2.vec_id, c2.vec_id) AS vec_id, b2.r0, c2.r1,
              COALESCE(1.0 / (60.0 + CAST(b2.r0 AS DOUBLE)), 0.0)
                + COALESCE(1.0 / (60.0 + CAST(c2.r1 AS DOUBLE)), 0.0) AS rrf
            FROM bleg b2 FULL OUTER JOIN cleg c2 ON b2.vec_id = c2.vec_id)
          SELECT vec_id, r0, r1, ROUND(rrf, 6) AS rrf FROM fused
          ORDER BY rrf DESC, vec_id ASC LIMIT 10"""

  /** q345/q349/q350: 6-NN digraph + recursive-CTE reachability from
    * entry 0 + top-10 among the reachable — `exclude` models the lazy
    * tombstone rule (final cut only; the reachable set is untouched). */
  private def graphBeamSql(exclude: Seq[Long] = Nil): String = {
    val cut =
      if (exclude.isEmpty) ""
      else s"WHERE vec_id NOT IN (${exclude.mkString(", ")}) "
    s"""WITH RECURSIVE e AS (SELECT vec_id, embedding,
           sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE))
                 FROM unnest(embedding) AS t(x))) AS mag
           FROM embeddings WHERE vec_id < 200),
         pairs AS (SELECT a.vec_id AS src, b.vec_id AS dst,
             (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
              FROM LATERAL (SELECT unnest(a.embedding) AS x,
                                   unnest(b.embedding) AS y) z)
               / (a.mag * b.mag + 1e-12) AS c
           FROM e a JOIN e b ON a.vec_id <> b.vec_id),
         edges AS (SELECT src, dst FROM (
             SELECT src, dst,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY c DESC, dst ASC) AS rk
             FROM pairs) WHERE rk <= 6),
         reach(id) AS (
           SELECT CAST(0 AS BIGINT)
           UNION
           SELECT ed.dst FROM edges ed JOIN reach r ON ed.src = r.id),
         q AS (SELECT embedding AS qv, mag AS qmag FROM e WHERE vec_id = 0),
         fin AS (SELECT e.vec_id,
             (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
              FROM LATERAL (SELECT unnest(e.embedding) AS x,
                                   unnest(q.qv) AS y) z)
               / (e.mag * q.qmag + 1e-12) AS c
           FROM e JOIN reach r ON e.vec_id = r.id CROSS JOIN q)
         SELECT vec_id, ROUND(c, 6) AS cosine FROM fin
         ${cut}ORDER BY c DESC, vec_id ASC LIMIT 10"""
  }

  /** q348: the q180 legs + the q344 MaxSim leg (top-20 cut, rank r2),
    * three-way full-outer RRF. */
  private lazy val hybridMaxsimSql: String =
    s"""WITH $hybridLegsCtes,
          qt AS (SELECT vec_id AS tok, embedding AS qv2,
            sqrt((SELECT SUM(CAST(y AS DOUBLE)*CAST(y AS DOUBLE))
                  FROM unnest(embedding) AS t(y))) AS qmag2
            FROM embeddings WHERE vec_id < 4),
          pertok AS (SELECT e.vec_id % 50 AS doc_key, qt.tok,
              MAX((SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
                   FROM LATERAL (SELECT unnest(e.embedding) AS x,
                                        unnest(qt.qv2) AS y) z) /
                  (sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE))
                         FROM unnest(e.embedding) AS t(x))) * qt.qmag2
                   + 1e-12)) AS m
            FROM embeddings e CROSS JOIN qt
            GROUP BY 1, 2),
          mstop AS (SELECT doc_key AS vec_id,
              CAST(SUM(CAST(ROUND(m, 6) AS DECIMAL(20,6))) AS DOUBLE) AS maxsim
            FROM pertok GROUP BY doc_key
            ORDER BY maxsim DESC, doc_key ASC LIMIT 20),
          msleg AS (SELECT vec_id,
            CAST(ROW_NUMBER() OVER (ORDER BY maxsim DESC, vec_id ASC) AS INT) AS r2
            FROM mstop),
          fused AS (SELECT COALESCE(b2.vec_id, c2.vec_id, m2.vec_id) AS vec_id,
              b2.r0, c2.r1, m2.r2,
              COALESCE(1.0 / (60.0 + CAST(b2.r0 AS DOUBLE)), 0.0)
                + COALESCE(1.0 / (60.0 + CAST(c2.r1 AS DOUBLE)), 0.0)
                + COALESCE(1.0 / (60.0 + CAST(m2.r2 AS DOUBLE)), 0.0) AS rrf
            FROM bleg b2
            FULL OUTER JOIN cleg c2 ON b2.vec_id = c2.vec_id
            FULL OUTER JOIN msleg m2
              ON COALESCE(b2.vec_id, c2.vec_id) = m2.vec_id)
          SELECT vec_id, r0, r1, r2, ROUND(rrf, 6) AS rrf FROM fused
          ORDER BY rrf DESC, vec_id ASC LIMIT 10"""

  /** Shared by q118 (tokenize path), q214 (persisted index — same
    * bm25Rank core over stored postings/doclens), q217 (tombstoned
    * index ≡ the same ranking over the surviving docs, `where` carries
    * the survivor predicate) and q225 (`msm` = minimum-should-match:
    * at least msm distinct query terms present; injected only when
    * > 1 so the shared oracles' text is byte-identical to before). */
  private def bm25Sql(where: String = "", msm: Int = 1,
      page: Option[(Int, Int)] = None): String =
    bm25SqlOver(Seq("sort", "merge", "spark"), "documents", toksSql,
      where, msm, page)

  /** [[bm25Sql]] generalized over the term list, source relation and
    * tokenizer expression — the unicode-mode gate (q240) ranks CJK
    * per-character units over the mixed corpus through the identical
    * arithmetic; defaults reproduce [[bm25Sql]]'s text byte-for-byte. */
  private def bm25SqlOver(terms: Seq[String], docsFrom: String,
      toks: String, where: String = "", msm: Int = 1,
      page: Option[(Int, Int)] = None, hotFrac: Option[Double] = None,
      topN: Int = 20): String = {
      val (k1, b) = (1.2, 0.75)
      // interpolate Scala-computed doubles (shortest round-trip repr) so
      // both engines parse the IDENTICAL constant — (k1+1.0) recomputed in
      // SQL as 1.2+1.0 could round differently at the representation tie
      val k1p = (k1 + 1.0).toString
      val tfCols = terms.zipWithIndex.map { case (t, i) =>
        s"len(list_filter(tk, x -> x = '$t')) AS tf$i" }.mkString(", ")
      val dfCols = terms.indices.map(i =>
        s"COUNT(CASE WHEN tf$i > 0 THEN 1 END) AS df$i").mkString(", ")
      val partial = terms.indices.map { i =>
        val p =
          s"""ROUND(LN(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5)
             / (CAST(df$i AS DOUBLE) + 0.5))
           * CAST(tf$i AS DOUBLE) * CAST($k1p AS DOUBLE)
           / (CAST(tf$i AS DOUBLE) + CAST($k1 AS DOUBLE) * ((1.0 - CAST($b AS DOUBLE))
              + (CAST($b AS DOUBLE) * CAST(dl AS DOUBLE)) / avgdl)), 6)"""
        hotFrac match {
          // the hot-term skip (q242): a term with census df above the
          // fraction contributes exactly 0.0 — adding 0.0 to the fixed-
          // order double chain is bit-neutral, so the surviving terms'
          // sum matches the engine's survivor-only sum
          case Some(f) =>
            s"""(CASE WHEN CAST(df$i AS DOUBLE) <= CAST($f AS DOUBLE)
                  * CAST(n_docs AS DOUBLE) THEN $p ELSE 0.0 END)"""
          case None => p
        }
      }.mkString(" + ")
      val msmClause = if (msm == 1) "" else "\n            WHERE (" +
        terms.indices.map(i => s"CASE WHEN tf$i > 0 THEN 1 ELSE 0 END")
          .mkString(" + ") + s") >= $msm"
      // the heap surface orders on the UNROUNDED sum (q214's contract);
      // the paged surface (q227) orders on the round-6 total order its
      // cursor is built from — see InvertedIndex.bm25Page
      val cut = page match {
        case None => s"ORDER BY score DESC, doc_id ASC LIMIT $topN"
        case Some((n, off)) =>
          s"ORDER BY ROUND(score, 6) DESC, doc_id ASC LIMIT $n OFFSET $off"
      }
      s"""WITH pd AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl, $tfCols
            FROM (SELECT doc_id, list_filter($toks, x -> x <> '') AS tk
                  FROM $docsFrom $where)
            WHERE len(tk) > 0),
          st AS (SELECT COUNT(*) AS n_docs,
              CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, $dfCols FROM pd),
          sc AS (SELECT pd.doc_id, pd.dl, $partial AS score
            FROM pd CROSS JOIN st$msmClause)
          SELECT doc_id, dl, ROUND(score, 6) AS score FROM sc
          WHERE score > 0 $cut"""
    }

  /** [[bm25Sql]]'s SynonymQuery form (q258 — X215): per-MEMBER tf/df
    * columns, per-GROUP partials with tf = exact integer member sum and
    * df = GREATEST of member dfs, round-6, fixed group order — the
    * [[graft.operators.TextAnalysis.bm25SynRank]] arithmetic verbatim. */
  private def bm25SynSql(groups: Seq[Seq[String]], topN: Int = 20): String = {
    val (k1, b) = (1.2, 0.75)
    val k1p = (k1 + 1.0).toString
    val members = groups.flatten.zipWithIndex
    val sizes = groups.map(_.size)
    val starts = sizes.scanLeft(0)(_ + _)
    val tfCols = members.map { case (t, i) =>
      s"len(list_filter(tk, x -> x = '$t')) AS tf$i" }.mkString(", ")
    val dfCols = members.map { case (_, i) =>
      s"COUNT(CASE WHEN tf$i > 0 THEN 1 END) AS df$i" }.mkString(", ")
    val partial = groups.indices.map { g =>
      val idx = starts(g) until starts(g + 1)
      val tfg = "CAST(" + idx.map(i => s"tf$i").mkString(" + ") + " AS DOUBLE)"
      val dfg =
        if (idx.size == 1) s"CAST(df${idx.head} AS DOUBLE)"
        else "CAST(GREATEST(" + idx.map(i => s"df$i").mkString(", ") + ") AS DOUBLE)"
      s"""ROUND(LN(1.0 + (CAST(n_docs AS DOUBLE) - $dfg + 0.5) / ($dfg + 0.5))
         * $tfg * CAST($k1p AS DOUBLE)
         / ($tfg + CAST($k1 AS DOUBLE) * ((1.0 - CAST($b AS DOUBLE))
            + (CAST($b AS DOUBLE) * CAST(dl AS DOUBLE)) / avgdl)), 6)"""
    }.mkString(" + ")
    s"""WITH pd AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl, $tfCols
          FROM (SELECT doc_id, list_filter($toksSql, x -> x <> '') AS tk
                FROM documents)
          WHERE len(tk) > 0),
        st AS (SELECT COUNT(*) AS n_docs,
            CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, $dfCols FROM pd),
        sc AS (SELECT pd.doc_id, pd.dl, $partial AS score
          FROM pd CROSS JOIN st)
        SELECT doc_id, dl, ROUND(score, 6) AS score FROM sc
        WHERE score > 0 ORDER BY score DESC, doc_id ASC LIMIT $topN"""
  }

  /** Wildcard-query oracle (q262 — X219): the census expansion
    * recomputed relationally (top `maxExpansions` matching vocab terms
    * by df desc, term asc — the engine's Lucene priority-queue order),
    * then the single-group [[bm25SynSql]] arithmetic in relational form
    * (per-doc tf = SUM over matched members, group df = MAX member df)
    * — no per-term literal columns, so the expansion stays
    * data-dependent on BOTH sides. `rx` must be the engine's anchored
    * regex verbatim (valid RE2). */
  private def wildcardSql(rx: String, maxExpansions: Int, topN: Int = 20): String = {
    val (k1, b) = (1.2, 0.75)
    val k1p = (k1 + 1.0).toString
    s"""WITH tok AS (SELECT doc_id, u.t AS term
          FROM (SELECT doc_id, list_filter($toksSql, x -> x <> '') AS tk
                FROM documents), UNNEST(tk) AS u(t)),
        pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
        st AS (SELECT COUNT(*) AS n_docs,
            CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM pd),
        vocab AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
        exp AS (SELECT term, df FROM vocab WHERE regexp_matches(term, '$rx')
          ORDER BY df DESC, term ASC LIMIT $maxExpansions),
        gdf AS (SELECT CAST(MAX(df) AS DOUBLE) AS df FROM exp),
        tfs AS (SELECT t.doc_id, CAST(COUNT(*) AS DOUBLE) AS tf
          FROM tok t JOIN exp e ON t.term = e.term GROUP BY t.doc_id),
        sc AS (SELECT pd.doc_id, pd.dl,
            ROUND(LN(1.0 + (CAST(n_docs AS DOUBLE) - gdf.df + 0.5) / (gdf.df + 0.5))
              * tfs.tf * CAST($k1p AS DOUBLE)
              / (tfs.tf + CAST($k1 AS DOUBLE) * ((1.0 - CAST($b AS DOUBLE))
                 + (CAST($b AS DOUBLE) * CAST(pd.dl AS DOUBLE)) / avgdl)), 6) AS score
          FROM pd JOIN tfs USING (doc_id) CROSS JOIN st CROSS JOIN gdf)
        SELECT doc_id, dl, ROUND(score, 6) AS score FROM sc
        WHERE score > 0 ORDER BY score DESC, doc_id ASC LIMIT $topN"""
  }

  /** Single-field BM25 oracle (q294's legs — X252): the [[bm25SqlOver]]
    * arithmetic over ONE derived field's token slice with that field's
    * own statistics (docs with the field non-empty; field dl/avgdl;
    * in-field df) — [[graft.sources.InvertedIndex.bm25FieldRanked]]'s
    * contract verbatim. Emits the FULL ranking (score > 0, unordered
    * semantics; ordered here for embedding determinism). */
  private def bm25FieldSql(head: Boolean, headLen: Int,
      terms: Seq[String]): String = {
    val (k1, b) = (1.2, 0.75)
    val k1p = (k1 + 1.0).toString
    val fld = if (head) s"tk[1:$headLen]" else s"tk[${headLen + 1}:]"
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(fd, x -> x = '$t')) AS tf$i" }.mkString(", ")
    val dfCols = terms.indices.map(i =>
      s"COUNT(CASE WHEN tf$i > 0 THEN 1 END) AS df$i").mkString(", ")
    val partial = terms.indices.map { i =>
      s"""ROUND(LN(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5)
         / (CAST(df$i AS DOUBLE) + 0.5))
       * CAST(tf$i AS DOUBLE) * CAST($k1p AS DOUBLE)
       / (CAST(tf$i AS DOUBLE) + CAST($k1 AS DOUBLE) * ((1.0 - CAST($b AS DOUBLE))
          + (CAST($b AS DOUBLE) * CAST(dl AS DOUBLE)) / avgdl)), 6)"""
    }.mkString(" + ")
    s"""WITH fpd AS (SELECT doc_id, CAST(len(fd) AS BIGINT) AS dl, $tfCols
          FROM (SELECT doc_id, $fld AS fd
                FROM (SELECT doc_id, list_filter($toksSql, x -> x <> '') AS tk
                      FROM documents))
          WHERE len(fd) > 0),
        fst AS (SELECT COUNT(*) AS n_docs,
            CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, $dfCols FROM fpd),
        fsc AS (SELECT fpd.doc_id, fpd.dl, $partial AS score
          FROM fpd CROSS JOIN fst)
        SELECT doc_id, dl, ROUND(score, 6) AS score FROM fsc
        WHERE score > 0"""
  }

  /** BM25F oracle (q259 — X218): head/body token slices, per-field
    * length norms (degenerate avgdl pins the norm to 1, the engine's
    * `when` guard), weighted pseudo-frequency into one k1 saturation —
    * [[graft.operators.TextAnalysis.bm25fTopK]]'s arithmetic verbatim. */
  private def bm25fSql(headLen: Int, terms: Seq[String], topN: Int = 20,
      k1: Double = 1.2, wHead: Double = 2.0, wBody: Double = 1.0,
      bHead: Double = 0.75, bBody: Double = 0.75): String = {
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(hd, x -> x = '$t')) AS tfh$i, " +
        s"len(list_filter(bd, x -> x = '$t')) AS tfb$i" }.mkString(", ")
    val dfCols = terms.indices.map(i =>
      s"COUNT(CASE WHEN tfh$i + tfb$i > 0 THEN 1 END) AS df$i").mkString(", ")
    def norm(dl: String, avgdl: String, bf: Double) =
      s"""(CASE WHEN $avgdl > 0
          THEN (1.0 - CAST($bf AS DOUBLE)) + CAST($bf AS DOUBLE) * CAST($dl AS DOUBLE) / $avgdl
          ELSE 1.0 END)"""
    val partial = terms.indices.map { i =>
      val tft = s"""(CAST($wHead AS DOUBLE) * CAST(tfh$i AS DOUBLE) / ${norm("dlh", "avgdlh", bHead)}
         + CAST($wBody AS DOUBLE) * CAST(tfb$i AS DOUBLE) / ${norm("dlb", "avgdlb", bBody)})"""
      s"""ROUND(LN(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5)
         / (CAST(df$i AS DOUBLE) + 0.5)) * $tft / (CAST($k1 AS DOUBLE) + $tft), 6)"""
    }.mkString(" + ")
    s"""WITH pd AS (SELECT doc_id,
            CAST(len(hd) AS BIGINT) AS dlh, CAST(len(bd) AS BIGINT) AS dlb, $tfCols
          FROM (SELECT doc_id, tk[1:$headLen] AS hd, tk[${headLen + 1}:] AS bd
                FROM (SELECT doc_id, list_filter($toksSql, x -> x <> '') AS tk
                      FROM documents)
                WHERE len(tk) > 0)),
        st AS (SELECT COUNT(*) AS n_docs,
            CAST(SUM(dlh) AS DOUBLE) / COUNT(*) AS avgdlh,
            CAST(SUM(dlb) AS DOUBLE) / COUNT(*) AS avgdlb, $dfCols FROM pd),
        sc AS (SELECT pd.doc_id, pd.dlh, pd.dlb, $partial AS score
          FROM pd CROSS JOIN st)
        SELECT doc_id, dlh, dlb, ROUND(score, 6) AS score FROM sc
        WHERE score > 0 ORDER BY score DESC, doc_id ASC LIMIT $topN"""
  }

  /** MMR oracle (q261 — X217): the greedy unrolled as k chained CTE
    * steps (argmax over the remaining set, penalty = MAX sim to the
    * selected so far) — no recursion, pure SQL, the exact
    * [[graft.operators.Ann.mmrRerank]] selection including the λ and
    * (1−λ) constants interpolated from the SAME Scala doubles the
    * engine multiplies with. */
  private def mmrSql(m: Int, k: Int, lambda: Double): String = {
    val lam = lambda.toString
    val oneMinus = (1.0 - lambda).toString
    val cos =
      """(SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
         FROM (SELECT unnest(a.v) AS x, unnest(b.v) AS y) z)
         / (a.mag * b.mag + 1e-12)"""
    val steps = (2 to k).map { i =>
      s"""s$i AS MATERIALIZED (SELECT c.id, c.rel,
            CAST($lam AS DOUBLE) * c.rel - CAST($oneMinus AS DOUBLE) * (
              SELECT MAX(sm.s) FROM sim sm JOIN a${i - 1} p
              ON sm.ia = LEAST(c.id, p.id) AND sm.ib = GREATEST(c.id, p.id)
            ) AS mmr, $i AS rank
          FROM cand c WHERE c.id NOT IN (SELECT id FROM a${i - 1})
          ORDER BY mmr DESC, c.id ASC LIMIT 1),
        a$i AS MATERIALIZED (SELECT id, rel, mmr, rank FROM a${i - 1}
          UNION ALL SELECT id, rel, mmr, rank FROM s$i)"""
    }.mkString(",\n        ")
    s"""WITH q AS (SELECT embedding AS qv,
          sqrt((SELECT SUM(CAST(y AS DOUBLE)*CAST(y AS DOUBLE)) FROM unnest(embedding) AS t(y))) AS qmag
          FROM embeddings WHERE vec_id = 0),
        cand AS MATERIALIZED (SELECT vec_id AS id, rel, v, mag FROM (
          SELECT e.vec_id,
            (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
             FROM q, LATERAL (SELECT unnest(e.embedding) AS x, unnest(q.qv) AS y) z) /
            (sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(e.embedding) AS t(x)))
             * (SELECT qmag FROM q) + 1e-12) AS rel,
            e.embedding AS v,
            sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(e.embedding) AS t(x))) AS mag
          FROM embeddings e)
          ORDER BY rel DESC, id ASC LIMIT $m),
        sim AS MATERIALIZED (SELECT a.id AS ia, b.id AS ib, $cos AS s
          FROM cand a JOIN cand b ON a.id < b.id),
        s1 AS MATERIALIZED (SELECT id, rel, CAST($lam AS DOUBLE) * rel - CAST($oneMinus AS DOUBLE) * 0.0 AS mmr, 1 AS rank
          FROM cand ORDER BY rel DESC, id ASC LIMIT 1),
        a1 AS MATERIALIZED (SELECT id, rel, mmr, rank FROM s1),
        $steps
        SELECT rank, id, ROUND(rel, 6) AS rel, ROUND(mmr, 6) AS mmr
        FROM a$k ORDER BY rank"""
  }

  /** Shared by q223 (tokenize path) and q224 (persisted index census —
    * pure I/O): the brute-force cross join + levenshtein, i.e. the
    * O(V×Q) plan the engine's deletion-neighborhood join avoids. */
  private val fuzzySuggestSql: String = fuzzySuggestSqlWhere()

  /** The X183 brute-force oracle with an optional survivor predicate —
    * `where` carries q230's census-lifecycle deletion. */
  private def fuzzySuggestSqlWhere(where: String = ""): String =
    s"""WITH p AS (SELECT doc_id, u.t AS term
          FROM (SELECT doc_id, $toksSql AS tk FROM documents $where),
            UNNEST(tk) AS u(t)
          WHERE u.t <> ''),
        v AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM p GROUP BY 1),
        q(qterm) AS (VALUES ('sorrt'), ('mergee'), ('spark')),
        c AS (SELECT q.qterm, v.term, v.df,
            CAST(levenshtein(q.qterm, v.term) AS INT) AS dist
          FROM q CROSS JOIN v
          WHERE levenshtein(q.qterm, v.term) <= 1),
        r AS (SELECT qterm, term, df, dist,
            CAST(ROW_NUMBER() OVER (PARTITION BY qterm
              ORDER BY dist ASC, df DESC, term ASC) AS INT) AS rank
          FROM c)
        SELECT qterm, term, df, dist, rank FROM r
        WHERE rank <= 5 ORDER BY qterm, rank"""

  /** DuckDB BM25 per-term partial over (tfsT, dfsT, st) aliases — the
    * q257/q271 arithmetic shared by the fused front and the MLT rail. */
  private def serpPp(tfsT: String, dfsT: String): String = {
    val (k1, b) = (1.2, 0.75)
    val k1p = (k1 + 1.0).toString
    s"""ROUND(LN(1.0 + (CAST(st.n_docs AS DOUBLE) - CAST($dfsT.df AS DOUBLE) + 0.5)
         / (CAST($dfsT.df AS DOUBLE) + 0.5))
       * CAST($tfsT.tf AS DOUBLE) * CAST($k1p AS DOUBLE)
       / (CAST($tfsT.tf AS DOUBLE) + CAST($k1 AS DOUBLE) * ((1.0 - CAST($b AS DOUBLE))
          + (CAST($b AS DOUBLE) * CAST($tfsT.dl AS DOUBLE)) / st.avgdl)), 6)"""
  }

  /** The q257/q271 shared oracle front: [[servingStackCtes]] + the PRF
    * recall leg + three-way RRF, ending at `hits3` (vec_id, round-6
    * rrf, top-10) — the fused set both SERP rows render from. */
  private lazy val serpFusedSqlCtes: String = {
    val (fbDocs, fbTerms) = (5, 5)
    s"""$servingStackCtes,
        seedr AS (SELECT doc_id FROM sc WHERE score > 0
          ORDER BY score DESC, doc_id ASC LIMIT $fbDocs),
        ftf AS (SELECT u.t AS term, CAST(COUNT(*) AS BIGINT) AS ftf
          FROM pd JOIN seedr USING (doc_id), UNNEST(tk) AS u(t)
          GROUP BY 1),
        alldf AS (SELECT u.t AS term, COUNT(DISTINCT doc_id) AS df
          FROM pd, UNNEST(tk) AS u(t) GROUP BY 1),
        expd AS (SELECT term FROM (
            SELECT f.term,
              ROUND(CAST(f.ftf AS DOUBLE)
                * LN(1.0 + (CAST(st.n_docs AS DOUBLE) - CAST(a.df AS DOUBLE) + 0.5)
                     / (CAST(a.df AS DOUBLE) + 0.5)), 6) AS w
            FROM ftf f JOIN alldf a USING (term) CROSS JOIN st
            WHERE f.term NOT IN (SELECT term FROM corr))
          ORDER BY w DESC, term ASC LIMIT $fbTerms),
        allt AS (SELECT term FROM corr UNION ALL SELECT term FROM expd),
        tfs2 AS (SELECT pd.doc_id, pd.dl, allt.term,
            CAST(len(list_filter(pd.tk, x -> x = allt.term)) AS BIGINT) AS tf
          FROM pd CROSS JOIN allt),
        dfs2 AS (SELECT term, COUNT(CASE WHEN tf > 0 THEN 1 END) AS df
          FROM tfs2 GROUP BY 1),
        partials2 AS (SELECT tfs2.doc_id, ${serpPp("tfs2", "dfs2")} AS pp
          FROM tfs2 JOIN dfs2 USING (term) CROSS JOIN st),
        sc2 AS (SELECT doc_id, SUM(pp) AS score FROM partials2 GROUP BY 1),
        ptop AS (SELECT doc_id AS vec_id, ROUND(score, 6) AS score FROM sc2
          WHERE score > 0 ORDER BY score DESC, doc_id ASC LIMIT 20),
        pleg AS (SELECT vec_id,
            CAST(ROW_NUMBER() OVER (ORDER BY score DESC, vec_id ASC) AS INT) AS r2
          FROM ptop),
        f3 AS (SELECT COALESCE(b2.vec_id, c2.vec_id, p2.vec_id) AS vec_id,
            COALESCE(1.0 / (60.0 + CAST(b2.r0 AS DOUBLE)), 0.0)
              + COALESCE(1.0 / (60.0 + CAST(c2.r1 AS DOUBLE)), 0.0)
              + COALESCE(1.0 / (60.0 + CAST(p2.r2 AS DOUBLE)), 0.0) AS rrf
          FROM bleg b2
          FULL OUTER JOIN cleg c2 ON b2.vec_id = c2.vec_id
          FULL OUTER JOIN pleg p2
            ON COALESCE(b2.vec_id, c2.vec_id) = p2.vec_id),
        hits3 AS (SELECT vec_id, ROUND(rrf, 6) AS rrf FROM f3
          ORDER BY rrf DESC, vec_id ASC LIMIT 10)"""
  }

  /** Shared CTE chain of the q228/q229 serving-stack oracles: the
    * whole hybrid pipeline recomputed from raw text/embeddings —
    * vocabulary census → rank-1 fuzzy correction → dynamic-term BM25
    * with the msm≥2 gate → dense cosine leg → RRF top-10 (`hits`). */
  private val servingStackCtes: String = {
    val (k1, b) = (1.2, 0.75)
    val k1p = (k1 + 1.0).toString
    s"""WITH p AS (SELECT doc_id, u.t AS term
          FROM (SELECT doc_id, $toksSql AS tk FROM documents),
            UNNEST(tk) AS u(t)
          WHERE u.t <> ''),
        v AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM p GROUP BY 1),
        qq(qterm) AS (VALUES ('sorrt'), ('mergee'), ('spark')),
        cand AS (SELECT qq.qterm, v.term, v.df,
            CAST(levenshtein(qq.qterm, v.term) AS INT) AS dist
          FROM qq CROSS JOIN v
          WHERE levenshtein(qq.qterm, v.term) <= 1),
        corr AS (SELECT DISTINCT term FROM (
            SELECT qterm, term,
              ROW_NUMBER() OVER (PARTITION BY qterm
                ORDER BY dist ASC, df DESC, term ASC) AS rnk
            FROM cand) WHERE rnk = 1),
        pd AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl, tk
          FROM (SELECT doc_id, list_filter($toksSql, x -> x <> '') AS tk
                FROM documents)
          WHERE len(tk) > 0),
        st AS (SELECT COUNT(*) AS n_docs,
            CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM pd),
        tfs AS (SELECT pd.doc_id, pd.dl, corr.term,
            CAST(len(list_filter(pd.tk, x -> x = corr.term)) AS BIGINT) AS tf
          FROM pd CROSS JOIN corr),
        dfs AS (SELECT term, COUNT(CASE WHEN tf > 0 THEN 1 END) AS df
          FROM tfs GROUP BY 1),
        partials AS (SELECT tfs.doc_id,
            ROUND(LN(1.0 + (CAST(st.n_docs AS DOUBLE) - CAST(dfs.df AS DOUBLE) + 0.5)
                 / (CAST(dfs.df AS DOUBLE) + 0.5))
               * CAST(tfs.tf AS DOUBLE) * CAST($k1p AS DOUBLE)
               / (CAST(tfs.tf AS DOUBLE) + CAST($k1 AS DOUBLE) * ((1.0 - CAST($b AS DOUBLE))
                  + (CAST($b AS DOUBLE) * CAST(tfs.dl AS DOUBLE)) / st.avgdl)), 6) AS pp,
            CASE WHEN tfs.tf > 0 THEN 1 ELSE 0 END AS hit
          FROM tfs JOIN dfs USING (term) CROSS JOIN st),
        sc AS (SELECT doc_id, SUM(pp) AS score, SUM(hit) AS nmatch
          FROM partials GROUP BY 1),
        bmtop AS (SELECT doc_id AS vec_id, ROUND(score, 6) AS score FROM sc
          WHERE score > 0 AND nmatch >= 2
          ORDER BY score DESC, doc_id ASC LIMIT 20),
        bleg AS (SELECT vec_id,
          CAST(ROW_NUMBER() OVER (ORDER BY score DESC, vec_id ASC) AS INT) AS r0
          FROM bmtop),
        qv AS (SELECT embedding AS qvec,
          sqrt((SELECT SUM(CAST(y AS DOUBLE)*CAST(y AS DOUBLE)) FROM unnest(embedding) AS t(y))) AS qmag
          FROM embeddings WHERE vec_id = 0),
        cscored AS (SELECT e.vec_id,
          (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
           FROM qv, LATERAL (SELECT unnest(e.embedding) AS x, unnest(qv.qvec) AS y) z) /
          (sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(e.embedding) AS t(x)))
           * (SELECT qmag FROM qv) + 1e-12) AS c
          FROM embeddings e),
        ctop AS (SELECT vec_id, ROUND(c, 6) AS cosine FROM cscored
          ORDER BY c DESC, vec_id ASC LIMIT 20),
        cleg AS (SELECT vec_id,
          CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id ASC) AS INT) AS r1
          FROM ctop),
        fusedall AS (SELECT COALESCE(b2.vec_id, c2.vec_id) AS vec_id, b2.r0, c2.r1,
            COALESCE(1.0 / (60.0 + CAST(b2.r0 AS DOUBLE)), 0.0)
              + COALESCE(1.0 / (60.0 + CAST(c2.r1 AS DOUBLE)), 0.0) AS rrf
          FROM bleg b2 FULL OUTER JOIN cleg c2 ON b2.vec_id = c2.vec_id),
        hits AS (SELECT vec_id, r0, r1, ROUND(rrf, 6) AS rrf FROM fusedall
          ORDER BY rrf DESC, vec_id ASC LIMIT 10)"""
  }

  /** Shared by q117 (in-memory postings) and q213 (persisted index —
    * pure I/O): the sort-merge phrase oracle. */
  private val phraseMatchSql: String =
    s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
          p AS (SELECT doc_id, CAST(u.i AS INT) AS pos, tk[CAST(u.i + 1 AS INT)] AS term
            FROM t, UNNEST(range(len(tk))) AS u(i)
            WHERE tk[CAST(u.i + 1 AS INT)] <> ''),
          m AS (SELECT a.doc_id
            FROM p a JOIN p b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
            WHERE a.term = 'sort' AND b.term = 'merge')
          SELECT doc_id, COUNT(*) AS n_matches FROM m GROUP BY 1 ORDER BY doc_id"""

  /** Shared by q200 (recount) and q209 (persisted layout — pure I/O):
    * the full Stupid Backoff tri/bi/uni scoring in SQL. */
  private val stupidBackoffSql: String = stupidBackoffSqlRef()

  /** `refPred` (on doc_id) restricts the REFERENCE-count side only —
    * scored docs stay the full table. q200/q209 use the default (count
    * = score corpus); q234 counts the post-removal survivors. */
  private def stupidBackoffSqlRef(refPred: String = "TRUE"): String =
    s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         tgall AS (SELECT doc_id, tk[CAST(u.i + 1 AS INT)] AS w1,
             tk[CAST(u.i + 2 AS INT)] AS w2, tk[CAST(u.i + 3 AS INT)] AS w3
           FROM t, UNNEST(range(0, len(tk) - 2)) AS u(i)
           WHERE tk[CAST(u.i + 1 AS INT)] <> '' AND tk[CAST(u.i + 2 AS INT)] <> ''
             AND tk[CAST(u.i + 3 AS INT)] <> ''),
         bgall AS (SELECT doc_id, tk[CAST(u.i + 1 AS INT)] AS w1,
             tk[CAST(u.i + 2 AS INT)] AS w2
           FROM t, UNNEST(range(0, len(tk) - 1)) AS u(i)
           WHERE tk[CAST(u.i + 1 AS INT)] <> '' AND tk[CAST(u.i + 2 AS INT)] <> ''),
         tgc AS (SELECT w1, w2, w3, COUNT(*) AS c3 FROM tgall
           WHERE $refPred GROUP BY 1, 2, 3),
         bgc AS (SELECT w1, w2, COUNT(*) AS c2 FROM bgall
           WHERE $refPred GROUP BY 1, 2),
         uni AS (SELECT w, COUNT(*) AS c1
           FROM (SELECT t.doc_id, u.w FROM t, UNNEST(tk) AS u(w) WHERE u.w <> '')
           WHERE $refPred
           GROUP BY 1),
         nv AS (SELECT CAST(SUM(c1) AS BIGINT) AS n, COUNT(*) AS v FROM uni),
         sc AS (SELECT d.doc_id, ROUND(-LN(CASE
             WHEN tc.c3 > 0 THEN CAST(tc.c3 AS DOUBLE) / CAST(ba.c2 AS DOUBLE)
             WHEN bb.c2 > 0 THEN 0.4 * (CAST(bb.c2 AS DOUBLE) / CAST(u2.c1 AS DOUBLE))
             ELSE (0.4 * 0.4) * ((CAST(COALESCE(u3.c1, 0) AS DOUBLE) + 1.0) /
               (CAST(nv.n AS DOUBLE) + CAST(nv.v AS DOUBLE)))
           END), 6) AS lp
           FROM tgall d
           LEFT JOIN tgc tc ON d.w1 = tc.w1 AND d.w2 = tc.w2 AND d.w3 = tc.w3
           LEFT JOIN bgc ba ON d.w1 = ba.w1 AND d.w2 = ba.w2
           LEFT JOIN bgc bb ON d.w2 = bb.w1 AND d.w3 = bb.w2
           LEFT JOIN uni u2 ON d.w2 = u2.w
           LEFT JOIN uni u3 ON d.w3 = u3.w
           CROSS JOIN nv),
         agg AS (SELECT doc_id, COUNT(*) AS n_trigrams,
             ROUND(CAST(SUM(CAST(lp AS DECIMAL(38, 6))) AS DOUBLE) / COUNT(*), 6)
               AS xent
           FROM sc GROUP BY 1)
         SELECT doc_id, n_trigrams, xent, ROUND(EXP(xent), 6) AS ppl
         FROM agg ORDER BY doc_id"""

  /** The q197/q198 label: curated positives = src0..src4. */
  private val lrYSql =
    "CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 1 ELSE 0 END"

  /** SQL replay of [[graft.operators.Curation.qualityClassifier]]'s full
    * training run (X151): the same hashed bitmask, the same left-assoc
    * logit chain, integer-quantized residuals, and one unrolled
    * (gradient CTE, weight CTE) pair per iteration — DuckDB re-derives
    * the learned weights rather than trusting the engine's. */
  private def lrScoredSql(dims: Int, iters: Int, lr: Double,
      ySql: String): String = {
    val hash = s"CAST(CAST(concat('0x', substr(md5(t), 1, 7)) AS BIGINT) % $dims AS INT)"
    def z(pfx: String) = (0 until dims).foldLeft(s"${pfx}_b") { (acc, j) =>
      s"($acc + CASE WHEN (mask >> $j) & 1 = 1 THEN ${pfx}_w$j ELSE 0.0 END)" }
    def pSql(pfx: String) = s"1.0/(1.0 + exp(-(${z(pfx)})))"
    val w0 = (0 until dims).map(j => s"0.0 AS w0_w$j").mkString(", ") +
      ", 0.0 AS w0_b"
    val iterCtes = (1 to iters).map { k =>
      val prev = s"w${k - 1}"
      val gs = (0 until dims).map(j =>
        s"SUM(CASE WHEN (mask >> $j) & 1 = 1 THEN ri ELSE 0 END) AS g$j")
        .mkString(", ")
      val ws = (0 until dims).map(j =>
        s"${prev}_w$j - $lr * (CAST(g$j AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0) AS w${k}_w$j")
        .mkString(", ")
      s"""r$k AS (SELECT mask, y,
           CAST(ROUND((${pSql(prev)} - y) * 1000000.0, 0) AS BIGINT) AS ri
           FROM f, $prev),
         g$k AS (SELECT $gs, SUM(ri) AS gb, COUNT(*) AS n FROM r$k),
         w$k AS (SELECT $ws,
           ${prev}_b - $lr * (CAST(gb AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0) AS w${k}_b
           FROM $prev, g$k)"""
    }.mkString(",\n         ")
    s"""WITH f AS (SELECT doc_id, $ySql AS y,
           COALESCE((SELECT bit_or(1::BIGINT << $hash)
             FROM unnest($toksSql) AS u(t)), 0) AS mask
           FROM documents),
         w0 AS (SELECT $w0),
         $iterCtes
         SELECT doc_id, y AS label,
           ROUND(${pSql(s"w$iters")}, 6) AS prob
         FROM f, w$iters"""
  }

  /** SQL mirror of [[syntheticUrls]] — the same doc_id-keyed noise. */
  private val syntheticUrlsSql =
    """SELECT doc_id, CASE WHEN doc_id % 11 = 0 THEN '/relative/path' ELSE
         (CASE WHEN doc_id % 4 = 0 THEN 'HTTP://' ELSE 'https://' END) ||
         (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
         source || '.' ||
         (CASE WHEN doc_id % 5 = 0 THEN 'co.uk'
               WHEN doc_id % 5 = 1 THEN 'github.io' ELSE 'example.com' END) ||
         (CASE WHEN doc_id % 7 = 0 THEN ':8080' ELSE '' END) ||
         '/posts/' || CAST(doc_id AS VARCHAR) ||
         (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END) ||
         (CASE WHEN doc_id % 3 = 1 THEN '?utm_source=feed&b=2&a=1'
               WHEN doc_id % 3 = 2 THEN '?gclid=x&id=9' ELSE '' END) ||
         (CASE WHEN doc_id % 6 = 0 THEN '#section' ELSE '' END)
       END AS url FROM documents"""
  /** Duplicated-span detection CTEs (X121, 8-token windows) ending in
    * `sp(doc_id, span_start, span_end)` — shared by q164 (the spans) and
    * q169 (the rewrite that cuts them). */
  private def dupSpansCtesOn(rel: String): String =
    s"""t AS (SELECT doc_id, $toksSql AS tk FROM $rel),
       g AS (SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
           substr(md5(${(1 to 8).map(j => s"tk[CAST(u.i+$j AS INT)]")
             .mkString(" || ' ' || ")}), 1, 16) AS h
         FROM t, UNNEST(range(0, len(tk) - 7)) u(i)),
       dup AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2),
       m AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (h)),
       s AS (SELECT doc_id, pos,
           CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
             THEN 0 ELSE 1 END AS nw
         FROM m),
       x AS (SELECT doc_id, pos,
           SUM(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
         FROM s),
       sp AS (SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 8 AS span_end
         FROM x GROUP BY doc_id, isl)"""
  private lazy val dupSpansCtesSql: String = "WITH " + dupSpansCtesOn("documents")

  /** SQL twin of TextAnalysis.normalizedFingerprint (X127) — NFC, digit
    * mask, punctuation strip, whitespace collapse, edge trim, in that
    * order (DuckDB's utf8proc nfc_normalize and the engine's JDK
    * normalizer implement the same UAX #15 algorithm). */
  private val normFpSql: String =
    """substr(md5(trim(regexp_replace(regexp_replace(regexp_replace(
       lower(trim(nfc_normalize(text))), '[0-9]+', '0', 'g'),
       '[\.,;:!\?''"()\[\]{}]', ' ', 'g'),
       '[ \t\n\x0B\f\r]+', ' ', 'g'))), 1, 16)"""

  /** X128 BPE merge-learning oracle: `steps` unrolled vocab iterations —
    * pair census (UNNEST adjacency), 1-row argmax with the (freq DESC,
    * lhs, rhs) tie-break, and the merge applied via the SAME
    * string-accumulator greedy fold as TextAnalysis.applyMerge
    * (list_reduce), so every intermediate vocabulary matches the engine
    * exactly. */
  /** X128 vocab-iteration CTEs shared by the merge-table oracle (q173)
    * and the corpus tokenization oracle (q179): tok → v0 → (p_k census,
    * b_k argmax, v_{k+1} merged vocab) × steps, each vocab row carrying
    * its ORIGINAL `term` so the final v_steps doubles as the word →
    * segmentation table. The merge application is the same
    * string-accumulator greedy fold as TextAnalysis.applyMerge. */
  private def bpeVocabCtes(steps: Int): String = {
    val iters = (0 until steps).map { k =>
      s"""p$k AS (SELECT s[CAST(u.i AS INT)] AS lhs, s[CAST(u.i + 1 AS INT)] AS rhs,
             SUM(freq) AS pf
           FROM (SELECT string_split(seq, ' ') AS s, freq FROM v$k),
                UNNEST(range(1, len(s))) u(i)
           GROUP BY 1, 2),
         b$k AS (SELECT lhs, rhs, pf FROM p$k ORDER BY pf DESC, lhs, rhs LIMIT 1),
         v${k + 1} AS (SELECT term, substr(list_reduce(['#'] || string_split(seq, ' '),
             (a, x) -> CASE WHEN x = b.rhs AND ends_with(a, ' ' || b.lhs)
               THEN substr(a, 1, len(a) - len(b.lhs) - 1) || ' ' || b.lhs || b.rhs
               ELSE a || ' ' || x END), 3) AS seq, freq
           FROM v$k, b$k b)"""
    }.mkString(",\n         ")
    s"""tok AS (SELECT t.term, COUNT(*) AS freq
           FROM (SELECT unnest($toksSql) AS term FROM documents) t
           WHERE t.term <> '' GROUP BY 1),
         v0 AS (SELECT term,
             array_to_string(string_split(term, ''), ' ') || ' </w>' AS seq,
             freq FROM tok),
         $iters"""
  }

  /** X288 unigram-LM CTEs shared by the trace oracle (q332) and the
    * fertility oracle (q333): tok → ≤maxLen substring census → seed cut
    * (top seedSize ∪ every single char) → per round k a cost map m_k
    * (−ln cnt/Σcnt), a per-word Viterbi lattice dp_k (nested
    * list_reduce, first-minimal-split tie-break — the engine's exact
    * fold), a RECURSIVE backtrace walk_k (a list_reduce whose lambda
    * references outer row columns miscompiles multi-row in DuckDB
    * 1.0.0 — verified against the engine and a reference DP; the
    * recursive CTE walks the same pointers without lambdas), a recount
    * c_k and the pruned/smoothed sel_{k+1} —
    * TextAnalysis.unigramLearn mirrored step for step. Emit with
    * `WITH RECURSIVE`. */
  private def unigramCtes(seedSize: Int, iters: Int, maxLen: Int): String = {
    val rounds = (0 until iters).map { k =>
      s"""m$k AS (SELECT MAP(list(piece ORDER BY piece),
             list(-ln(CAST(cnt AS DOUBLE) / t.tot) ORDER BY piece)) AS cm
           FROM sel$k, (SELECT CAST(SUM(cnt) AS DOUBLE) AS tot FROM sel$k) t
           GROUP BY t.tot),
         dp$k AS (SELECT term, freq, list_reduce(
             [[{'c': CAST(0 AS DOUBLE), 'bp': -1}]] ||
             list_transform(range(1, len(term)+1),
               i -> [{'c': CAST(0 AS DOUBLE), 'bp': CAST(i AS INT)}]),
             (acc, x) -> list_append(acc, list_reduce(
               [{'c': 1e18, 'bp': -1}] ||
               list_transform(range(greatest(0, x[1].bp - $maxLen), x[1].bp),
                 j -> {'c': CASE WHEN acc[CAST(j+1 AS INT)].c >= 1e18 THEN 1e18
                         ELSE coalesce(acc[CAST(j+1 AS INT)].c +
                           cm[substr(term, CAST(j+1 AS INT),
                             CAST(x[1].bp - j AS INT))][1], 1e18) END,
                       'bp': CAST(j AS INT)}),
               (b, y) -> CASE WHEN y.c < b.c THEN y ELSE b END))) AS dp
           FROM tok, m$k),
         walk$k AS (
           SELECT term, freq, dp, CAST(len(term) AS INT) AS pos FROM dp$k
           UNION ALL
           SELECT term, freq, dp, dp[pos + 1].bp AS pos
           FROM walk$k WHERE pos > 0),
         c$k AS (SELECT substr(term, CAST(dp[pos + 1].bp + 1 AS INT),
               CAST(pos - dp[pos + 1].bp AS INT)) AS piece,
             SUM(freq) AS vcnt
           FROM walk$k WHERE pos > 0 GROUP BY 1),
         sel${k + 1} AS (SELECT s.piece,
             CASE WHEN len(s.piece) = 1 THEN coalesce(c.vcnt, 0) + 1
               ELSE c.vcnt END AS cnt
           FROM sel$k s LEFT JOIN c$k c USING (piece)
           WHERE len(s.piece) = 1 OR coalesce(c.vcnt, 0) > 0)"""
    }.mkString(",\n         ")
    s"""tok AS (SELECT t.term, COUNT(*) AS freq
           FROM (SELECT unnest($toksSql) AS term FROM documents) t
           WHERE t.term <> '' GROUP BY 1),
         sub AS (SELECT u.piece, SUM(freq) AS cnt FROM tok,
           UNNEST(flatten(list_transform(range(1, len(term)+1),
             s -> list_transform(range(1, least($maxLen, len(term)-s+1)+1),
               l -> substr(term, CAST(s AS INT), CAST(l AS INT)))))) AS u(piece)
           GROUP BY 1),
         sel0 AS (SELECT piece, MAX(cnt) AS cnt FROM (
             SELECT piece, cnt FROM (SELECT piece, cnt FROM sub
               ORDER BY cnt DESC, piece LIMIT $seedSize)
             UNION ALL SELECT piece, cnt FROM sub WHERE len(piece) = 1)
           GROUP BY piece),
         $rounds"""
  }

  private def bpeMergesSql(steps: Int): String = {
    val rows = (0 until steps).map(k =>
      s"SELECT ${k + 1} AS step, lhs, rhs, CAST(pf AS BIGINT) AS pair_freq FROM b$k")
      .mkString(" UNION ALL ")
    s"""WITH ${bpeVocabCtes(steps)}
       $rows ORDER BY step"""
  }

  /** X126 LSH S-curve oracle: the p = 1-(1-s^r)^b table with every power
    * expanded to an explicit LEFT-ASSOCIATED multiplication chain — the
    * same IEEE operation sequence as lshPlan's sequential folds, so every
    * double matches bit-for-bit (float `pow` would not). */
  private lazy val lshPlanSql: String = {
    val values = (1 to 19).map(i => f"(0.${i * 5}%02d)").mkString(", ")
    val selects = (1 to 16).filter(16 % _ == 0).map { b =>
      val r = 16 / b
      val srChain = (1 to r).foldLeft("1.0")((acc, _) => s"($acc * s)")
      val inner = s"(1.0 - $srChain)"
      val missChain = (1 to b).foldLeft("1.0")((acc, _) => s"($acc * $inner)")
      s"""SELECT 16 AS n_hashes, $b AS bands, $r AS "rows", s AS jaccard,
          ROUND(1.0 - $missChain, 6) AS p_detect FROM sv"""
    }.mkString(" UNION ALL ")
    s"""WITH sv AS (SELECT CAST(col0 AS DOUBLE) AS s FROM (VALUES $values) t(col0))
       $selects ORDER BY bands, jaccard"""
  }

  /** Full-corpus IVF probe search (centroids = vec_id<4, query =
    * vec_id 5, nprobe 2, k 10) — shared by q153 (fresh build) and
    * q167 (build+append): the index layout is pure I/O, so both
    * produce the identical result set. */
  /** The q269 lifecycle oracle — the q256 generated-store chain with
    * the lifecycle applied in SQL (every 20th stored query deleted,
    * the 100 appended single-must alerts unioned in), percolated over
    * the SURVIVING clause table. Shared verbatim by q326: a snapshot
    * is byte-faithful, so the restored store must answer the exact
    * same walk identically. */
  /** q83's delete-survivor state — shared verbatim by q335 (the
    * snapshot chain runs the same mutation on a restored copy). */
  private lazy val storeDeleteSql: String =
    """WITH base AS (
           SELECT vec_id, embedding, ROW_NUMBER() OVER (ORDER BY vec_id) AS id
           FROM embeddings)
         SELECT id, vec_id AS post_id, 0 AS sequence_no, 'seed' AS vector_type,
                sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE))
                      FROM unnest(embedding) AS t(x))) AS magnitude,
                CAST(embedding[1] AS DOUBLE) AS v0
         FROM base WHERE vec_id NOT IN (3, 11)
         ORDER BY post_id, sequence_no"""

  private lazy val qstoreLifecycleSql: String =
    s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
          p AS (SELECT DISTINCT doc_id, u.t AS term
            FROM t, UNNEST(tk) AS u(t) WHERE u.t <> ''),
          v AS (SELECT term,
              ROW_NUMBER() OVER (ORDER BY COUNT(DISTINCT doc_id) DESC, term) AS rn
            FROM p GROUP BY term),
          n AS (SELECT COUNT(*) AS v FROM v),
          g AS (SELECT i FROM generate_series(0, 9999) AS s(i)),
          picks AS (
            SELECT 'q' || i AS query_id, 0 AS pr, 'must' AS clause,
              (i % v) + 1 AS rn FROM g, n
            UNION ALL SELECT 'q' || i, 1, 'should', ((i*7+3) % v) + 1 FROM g, n
            UNION ALL SELECT 'q' || i, 2, 'should', ((i*13+5) % v) + 1 FROM g, n
            UNION ALL SELECT 'q' || i, 3, 'must_not', ((i*31+11) % v) + 1 FROM g, n),
          cl0 AS (SELECT query_id, v.term, clause, pr
            FROM picks JOIN v USING (rn)),
          clq AS (SELECT query_id, term, clause FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id, term
                ORDER BY pr) AS rk FROM cl0)
            WHERE rk = 1),
          del AS (SELECT 'q' || i AS query_id
            FROM generate_series(0, 9999) AS s2(i) WHERE i % 20 = 0),
          app AS (SELECT 'a' || s3.i AS query_id, v.term, 'must' AS clause
            FROM generate_series(0, 99) AS s3(i) CROSS JOIN n
            JOIN v ON v.rn = ((s3.i * 3 + 1) % n.v) + 1),
          cl AS (SELECT * FROM clq
              WHERE query_id NOT IN (SELECT query_id FROM del)
            UNION ALL SELECT * FROM app),
          b AS (SELECT doc_id, term FROM p WHERE doc_id % 20 = 0),
          j AS (SELECT cl.query_id, b.doc_id, cl.clause
            FROM cl JOIN b USING (term)),
          agg AS (SELECT query_id, doc_id,
              COUNT(CASE WHEN clause = 'must' THEN 1 END) AS n_must,
              COUNT(CASE WHEN clause = 'should' THEN 1 END) AS n_should,
              COUNT(CASE WHEN clause = 'must_not' THEN 1 END) AS n_not
            FROM j GROUP BY 1, 2),
          tot AS (SELECT query_id,
              COUNT(CASE WHEN clause = 'must' THEN 1 END) AS m,
              COUNT(CASE WHEN clause = 'should' THEN 1 END) AS s
            FROM cl GROUP BY 1)
          SELECT agg.query_id, agg.doc_id, CAST(agg.n_should AS BIGINT) AS n_should
          FROM agg JOIN tot USING (query_id)
          WHERE n_must = m AND n_not = 0 AND (s = 0 OR n_should >= least(1, s))
          ORDER BY query_id, doc_id"""

  private lazy val ivfSearchSql: String = ivfSearchSqlOver("embeddings")

  /** Full-corpus IVF×PQ ADC search (coarse = vec_id<4, codebooks seeded
    * from vec_id<4 subvectors, query = vec_id 5, nprobe 2, top 10) —
    * shared by q154 (fresh buildPq) and q175 (buildPq+appendPq): the
    * codes layout is pure I/O, so both produce the identical result.
    * q177 (deletePq) passes the surviving corpus as `corpus`; the
    * coarse/codebook/query parameters always come from the FULL
    * embeddings table (frozen external parameters). */
  private lazy val ivfPqSearchSql: String = ivfPqSearchSqlOver("embeddings")

  /** `fullProbe` drops the probe pruning (q231: a FULL probe is ADC
    * over the whole corpus, so list maintenance must be invisible).
    * `refined` = Some((k, refine)) swaps the ADC cut for the X205
    * refine tail: top refine·k ADC candidates, exact-cosine reranked,
    * top-k — the q249 oracle. */
  private def ivfPqSearchSqlOver(corpus: String,
      fullProbe: Boolean = false,
      refined: Option[(Int, Int)] = None,
      where: String = ""): String = {
    val tail = refined match {
      case None =>
        """SELECT vec_id, ROUND(adc_dist, 6) AS adc_dist
         FROM adc ORDER BY adc_dist ASC, vec_id ASC LIMIT 10"""
      case Some((k, refine)) =>
        s"""cand AS (SELECT vec_id FROM adc
           ORDER BY adc_dist ASC, vec_id ASC LIMIT ${refine * k}),
         qm AS (SELECT qv,
           sqrt((SELECT SUM(CAST(y AS DOUBLE)*CAST(y AS DOUBLE)) FROM unnest(qv) AS t(y))) AS qmag
           FROM q),
         rer AS (SELECT e.vec_id,
           (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
            FROM qm, LATERAL (SELECT unnest(e.embedding) AS x, unnest(qm.qv) AS y) z) /
           (sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(e.embedding) AS t(x)))
            * (SELECT qmag FROM qm) + 1e-12) AS c
           FROM embeddings e JOIN cand USING (vec_id))
         SELECT vec_id, ROUND(c, 6) AS cosine FROM rer
         ORDER BY c DESC, vec_id ASC LIMIT $k"""
    }
    val withClause =
      s"""WITH cents AS (SELECT vec_id AS ccid, embedding AS cv FROM embeddings WHERE vec_id < 4),
         q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 5),
         probes AS (SELECT c.ccid FROM cents c, q
           ORDER BY (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
                     FROM (SELECT unnest(c.cv) AS x, unnest(q.qv) AS y) z) DESC,
                    c.ccid ASC
           LIMIT 2),
         assign AS (SELECT e.vec_id, CAST((
             SELECT c.ccid FROM cents c
             ORDER BY (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
                       FROM (SELECT unnest(e.embedding) AS x, unnest(c.cv) AS y) z) DESC,
                      c.ccid ASC
             LIMIT 1) AS INT) AS ivf_list
           FROM $corpus e),
         pruned AS (${
           if (fullProbe) s"SELECT e.* FROM $corpus e"
           else s"""SELECT e.* FROM $corpus e JOIN assign a USING (vec_id)
           WHERE a.ivf_list IN (SELECT ccid FROM probes)${
             if (where.nonEmpty) s" AND $where" else ""}"""}),
         subs AS (
           SELECT t.j, e.vec_id AS c, e.embedding[CAST(t.j*16+1 AS INT) : CAST(t.j*16+16 AS INT)] AS cv
           FROM embeddings e, UNNEST(range(4)) AS t(j) WHERE e.vec_id < 4),
         lut AS (
           SELECT s.j, s.c,
             (SELECT SUM(z.d * z.d) FROM (
                SELECT CAST(x AS DOUBLE) - CAST(y AS DOUBLE) AS d
                FROM (SELECT unnest(q.qv[CAST(s.j*16+1 AS INT) : CAST(s.j*16+16 AS INT)]) AS x,
                             unnest(s.cv) AS y)) z) AS dist
           FROM subs s, q),
         codes AS (
           SELECT e.vec_id, t.j,
             (SELECT s.c FROM subs s WHERE s.j = t.j
              ORDER BY (SELECT SUM(z.d * z.d) FROM (
                  SELECT CAST(x AS DOUBLE) - CAST(y AS DOUBLE) AS d
                  FROM (SELECT unnest(e.embedding[CAST(t.j*16+1 AS INT) : CAST(t.j*16+16 AS INT)]) AS x,
                               unnest(s.cv) AS y)) z) ASC,
                s.c ASC
              LIMIT 1) AS code
           FROM pruned e, UNNEST(range(4)) AS t(j)),
         adc AS (
           SELECT c.vec_id, SUM(l.dist) AS adc_dist
           FROM codes c JOIN lut l ON l.j = c.j AND l.c = c.code
           GROUP BY c.vec_id)"""
    withClause + (if (refined.isDefined) ",\n         " else "\n         ") + tail
  }
  private def ivfSearchSqlOver(corpus: String): String =
    s"""WITH cents AS (SELECT vec_id AS ccid, embedding AS cv FROM embeddings WHERE vec_id < 4),
         ${ivfSearchTail(corpus)}"""

  /** The probe/assign/score/top-10 body of the IVF search oracle, FROM an
    * upstream `cents(ccid, cv)` CTE — lets q181 substitute re-trained
    * centroids while q153/q167/q174 keep the frozen seeds. */
  private def ivfSearchTail(corpus: String): String =
    s"""q AS (SELECT embedding AS qv,
           sqrt((SELECT SUM(CAST(y AS DOUBLE)*CAST(y AS DOUBLE)) FROM unnest(embedding) AS t(y))) AS qmag
           FROM embeddings WHERE vec_id = 5),
         probes AS (SELECT c.ccid FROM cents c, q
           ORDER BY (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
                     FROM (SELECT unnest(c.cv) AS x, unnest(q.qv) AS y) z) DESC,
                    c.ccid ASC
           LIMIT 2),
         assign AS (SELECT e.vec_id, CAST((
             SELECT c.ccid FROM cents c
             ORDER BY (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
                       FROM (SELECT unnest(e.embedding) AS x, unnest(c.cv) AS y) z) DESC,
                      c.ccid ASC
             LIMIT 1) AS INT) AS ivf_list
           FROM $corpus e),
         scored AS (SELECT e.vec_id,
           (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
            FROM q, LATERAL (SELECT unnest(e.embedding) AS x, unnest(q.qv) AS y) z) /
           (sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(e.embedding) AS t(x)))
            * (SELECT qmag FROM q) + 1e-12) AS c
           FROM $corpus e JOIN assign a USING (vec_id)
           WHERE a.ivf_list IN (SELECT ccid FROM probes))
         SELECT vec_id, ROUND(c, 6) AS cosine FROM scored
         ORDER BY c DESC, vec_id ASC LIMIT 10"""

  private val trackingParamsSql =
    graft.operators.TextAnalysis.TrackingParams.map(p => s"'$p'").mkString(", ")
  private val multiSuffixSql =
    graft.operators.TextAnalysis.MultiLabelSuffixes.map(x => s"'$x'").mkString(", ")

  /** 3-token shingles -> one 28-bit md5 base per shingle -> per-seed
    * arithmetic permutation `(a*h + b) mod p`, mirroring
    * Dedup.shingleBases/seedMins exactly (constants shared from Dedup —
    * single source of truth for both engines). */
  /** Near-dup clustering (banded minhash candidates over docs + exact
    * clones, connected components via recursive-CTE reachability closure,
    * label = MIN reachable id), shared by q68 (labels) and q106
    * (contrastive pairs). UNION (distinct) in the recursive member
    * guarantees termination on cycles. */
  private lazy val dedupClustersSql: String = {
    val sigCols = (0 until 8).map(sd => s"${minhashSql(sd)} AS m$sd").mkString(", ")
    val bandSelects = (0 until 4).map(b =>
      s"""SELECT doc_id, '$b:' || md5(CAST(m${2 * b} AS VARCHAR) || '|' ||
          CAST(m${2 * b + 1} AS VARCHAR)) AS band FROM sig""")
      .mkString(" UNION ALL ")
    s"""WITH RECURSIVE alldocs AS (SELECT doc_id, text FROM documents
          UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM documents),
        sig AS (SELECT doc_id, $sigCols FROM alldocs),
        banded AS ($bandSelects),
        pairs AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
          FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id),
        edges AS (SELECT id1 AS a, id2 AS b FROM pairs
          UNION SELECT id2, id1 FROM pairs),
        reach(id, r) AS (
          SELECT a, b FROM edges UNION SELECT a, a FROM edges
          UNION
          SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a),
        lab AS (SELECT id, MIN(r) AS label FROM reach GROUP BY id)"""
  }

  /** The matryoshka two-stage funnel (prefix-16 candidates -> full-dim
    * rerank), shared by q104 (results) and q105 (recall vs exact) —
    * mirrors Ann.matryoshkaTopK arithmetic exactly. */
  private lazy val mrlFunnelSql: String =
    """WITH q AS (SELECT embedding AS qv,
         sqrt((SELECT SUM(CAST(y AS DOUBLE)*CAST(y AS DOUBLE)) FROM unnest(embedding[1:16]) AS t(y))) AS pmag,
         sqrt((SELECT SUM(CAST(y AS DOUBLE)*CAST(y AS DOUBLE)) FROM unnest(embedding) AS t(y))) AS fmag
         FROM embeddings WHERE vec_id = 5),
       cand AS (SELECT e.vec_id,
           (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
            FROM q, LATERAL (SELECT unnest(e.embedding[1:16]) AS x, unnest(q.qv[1:16]) AS y) z) /
           (sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(e.embedding[1:16]) AS t(x)))
            * (SELECT pmag FROM q) + 1e-12) AS pc
         FROM embeddings e
         ORDER BY pc DESC, e.vec_id ASC LIMIT 50),
       rer AS (SELECT e.vec_id,
           (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
            FROM q, LATERAL (SELECT unnest(e.embedding) AS x, unnest(q.qv) AS y) z) /
           (sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(e.embedding) AS t(x)))
            * (SELECT fmag FROM q) + 1e-12) AS c
         FROM embeddings e JOIN cand USING (vec_id))"""

  /** The composite quality score, shared by q48 and the q101 percentile
    * cutoff — ONE source of truth for the DuckDB side of
    * TextAnalysis.qualityScore. */
  private lazy val qualityScoreSql: String = {
    val nTok = s"len($toksSql)"
    val nChars = "length(text)"
    val punct = s"""($nChars - length(regexp_replace(text, '[\\.,;:!\\?''"()\\[\\]{}]', '', 'g')))"""
    val stopList = TextAnalysis.stopwords("en").map(w => s"'$w'").mkString(",")
    val stopHits = s"len(list_filter($toksSql, t -> t IN ($stopList)))"
    s"""ROUND(0.5 * least(CAST($nTok AS DOUBLE) / 64.0, 1.0)
        + 0.5 * least(CAST($stopHits AS DOUBLE) / greatest(CAST($nTok AS DOUBLE), 1.0) * 5.0, 1.0)
        - 0.25 * least(CAST($punct AS DOUBLE) / greatest(CAST($nChars AS DOUBLE), 1.0) * 5.0, 1.0), 6)"""
  }

  private val shingle3Sql =
    s"""list_transform(range(0, len($toksSql) - 2),
        i -> list_extract($toksSql, CAST(i+1 AS INT)) || ' ' ||
             list_extract($toksSql, CAST(i+2 AS INT)) || ' ' ||
             list_extract($toksSql, CAST(i+3 AS INT)))"""
  private val bases3Sql =
    s"list_transform($shingle3Sql, s -> CAST(concat('0x', substr(md5(s), 1, 7)) AS BIGINT))"
  private def minhashSql(seed: Int) = {
    val (a, b, p) = (Dedup.MinhashA(seed), Dedup.MinhashB(seed), Dedup.MinhashPrime)
    s"""COALESCE(list_aggregate(list_transform($bases3Sql,
        h -> ($a * h + $b) % $p), 'min'), $p)"""
  }

  /** DuckDB-runnable equivalents. Column aliases MUST match the Spark side
    * (driver sorts columns by name before hashing). */
  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(28,8))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,8))) AS DOUBLE) AS sum_base_price,
         CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,8))) AS DOUBLE) AS sum_disc_price,
         CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(28,8))) AS DOUBLE) AS sum_charge,
         COUNT(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
    "q02_point_lookup" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         FROM orders WHERE o_orderkey = 4242""",
    "q03_ids_lookup" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
         WHERE l_orderkey IN (1,2,3,5,8,13,21,34) ORDER BY l_orderkey, l_linenumber""",
    "q04_range_scan" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1997-03-01 00:00:00' AND l_quantity > 45
         ORDER BY l_orderkey, l_linenumber""",
    "q05_like_scan" ->
      """SELECT p_partkey, p_name, p_brand FROM part
         WHERE p_name LIKE '%red%' ORDER BY p_partkey""",
    "q06_in_scan" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
         WHERE c_mktsegment IN ('BUILDING','MACHINERY') ORDER BY c_custkey""",
    "q07_semi_join" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                       AND o.o_orderstatus = 'F')
         ORDER BY c_custkey""",
    "q08_anti_join" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                           AND o.o_orderstatus = 'P')
         ORDER BY c_custkey""",
    "q09_left_join_count" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
         COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,8))) AS DOUBLE), 0.0) AS total_spend
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey ORDER BY c_custkey""",
    "q10_revenue_by_nation" ->
      """SELECT r_name, n_name,
         CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,8))) AS DOUBLE) AS revenue,
         COUNT(*) AS n_items
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",
    "q11_brand_revenue" ->
      """SELECT p_brand,
         CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,8))) AS DOUBLE) AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand ORDER BY p_brand""",
    "q12_distinct_pairs" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem ORDER BY l_returnflag, l_linestatus",
    "q13_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""",
    "q14_latest_order_per_customer" ->
      """SELECT o_custkey, o_orderkey, CAST(epoch(o_orderdate) AS BIGINT) AS order_epoch FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
         WHERE rn = 1 ORDER BY o_custkey""",
    "q15_pagination" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 25 OFFSET 100""",
    "q16_priority_claim" ->
      """SELECT event_id, event_type, epoch_us(ts) AS ts_us FROM events
         ORDER BY CASE WHEN event_type = 'error' THEN 0
                       WHEN event_type = 'purchase' THEN 1 ELSE 2 END,
                  ts ASC, event_id ASC LIMIT 25""",
    "q17_status_counts" ->
      """SELECT COUNT(*) AS total,
         COUNT(CASE WHEN event_type='click' THEN 1 END) AS n_click,
         COUNT(CASE WHEN event_type='view' THEN 1 END) AS n_view,
         COUNT(CASE WHEN event_type='purchase' THEN 1 END) AS n_purchase,
         COUNT(CASE WHEN event_type='signup' THEN 1 END) AS n_signup,
         COUNT(CASE WHEN event_type='error' THEN 1 END) AS n_error
         FROM events""",
    "q18_running_sum" ->
      """SELECT event_id, user_id,
         ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS running_value
         FROM events WHERE user_id < 50 ORDER BY user_id, event_id""",
    "q19_eav_exists" ->
      """SELECT DISTINCT user_id FROM events
         WHERE event_type = 'error' AND value > 450 ORDER BY user_id""",
    "q20_eav_max_per_user" ->
      """SELECT user_id, MAX(value) AS max_purchase FROM events
         WHERE event_type = 'purchase' GROUP BY user_id ORDER BY user_id""",
    "q21_union_sets" ->
      """SELECT DISTINCT user_id FROM (
           SELECT user_id FROM events WHERE event_type='purchase' AND value > 400
           UNION SELECT user_id FROM events WHERE event_type='error' AND value > 400)
         ORDER BY user_id""",
    "q22_count_star" -> "SELECT COUNT(*) AS n_lineitem FROM lineitem",
    "q23_having" ->
      """SELECT o_custkey, COUNT(*) AS n_orders FROM orders
         GROUP BY o_custkey HAVING COUNT(*) >= 15 ORDER BY o_custkey""",
    "q24_order_by_field" ->
      """SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey IN (13,5,21,1)
         ORDER BY CASE o_orderkey WHEN 13 THEN 0 WHEN 5 THEN 1 WHEN 21 THEN 2 ELSE 3 END""",
    "q25_meta_or_filter" ->
      """SELECT doc_id AS post_id FROM documents
         WHERE (lang = 'en' OR source LIKE '%src1%')
           AND CAST(n_chars AS VARCHAR) > '300'
         ORDER BY post_id""",
    "q26_meta_sort_cast" ->
      """WITH collapsed AS (
           SELECT doc_id AS ID,
             GREATEST(CAST(n_chars AS VARCHAR), CAST(n_chars - 1 AS VARCHAR)) AS collapsed_n_chars,
             source
           FROM documents),
         ranked AS (
           SELECT ID, collapsed_n_chars,
             CAST(ROW_NUMBER() OVER (ORDER BY CAST(collapsed_n_chars AS DECIMAL(38,10)) DESC,
               source ASC, ID ASC) AS INT) AS rank
           FROM collapsed)
         SELECT rank, ID, collapsed_n_chars FROM ranked WHERE rank <= 50 ORDER BY rank""",
    "q27_queue_claim" ->
      """WITH q AS (
           SELECT event_id AS job_id, ts AS queued_time,
             CASE event_type WHEN 'error' THEN 'failed' WHEN 'purchase' THEN 'completed'
                  WHEN 'view' THEN 'processing' ELSE 'pending' END AS status,
             CASE WHEN event_type = 'error' THEN CAST(event_id % 5 AS INT) ELSE 0 END AS error_count
           FROM events)
         SELECT job_id, error_count, epoch_us(queued_time) AS queued_us FROM (
           SELECT * FROM q
           WHERE status = 'pending' OR (status = 'failed' AND error_count < 3)
           ORDER BY CASE WHEN status = 'pending' THEN 0
                         WHEN status = 'failed' AND error_count < 3 THEN 1 ELSE 2 END,
                    queued_time ASC, job_id ASC
           LIMIT 25)
         ORDER BY job_id""",
    "q28_queue_lifecycle" ->
      """WITH q AS (
           SELECT event_id AS job_id, ts AS queued_time,
             CASE event_type WHEN 'error' THEN 'failed' WHEN 'purchase' THEN 'completed'
                  WHEN 'view' THEN 'processing' ELSE 'pending' END AS status,
             CASE WHEN event_type = 'view' THEN ts ELSE NULL END AS start_time,
             CASE WHEN event_type = 'purchase' THEN ts ELSE NULL END AS end_time,
             CASE WHEN event_type = 'error' THEN CAST(event_id % 5 AS INT) ELSE 0 END AS error_count
           FROM events),
         picked AS (
           SELECT job_id FROM q
           WHERE status = 'pending' OR (status = 'failed' AND error_count < 3)
           ORDER BY CASE WHEN status = 'pending' THEN 0
                         WHEN status = 'failed' AND error_count < 3 THEN 1 ELSE 2 END,
                    queued_time ASC, job_id ASC
           LIMIT 25),
         s1 AS ( -- claim at t1
           SELECT job_id, queued_time, error_count,
             CASE WHEN job_id IN (SELECT job_id FROM picked) THEN 'processing' ELSE status END AS status,
             CASE WHEN job_id IN (SELECT job_id FROM picked)
                  THEN TIMESTAMP '2024-02-01 00:00:00' ELSE start_time END AS start_time,
             end_time
           FROM q),
         s2 AS ( -- complete evens at t2
           SELECT job_id, queued_time, error_count, start_time,
             CASE WHEN status = 'processing' AND job_id IN (SELECT job_id FROM picked)
                       AND job_id % 2 = 0 THEN 'completed' ELSE status END AS status,
             CASE WHEN status = 'processing' AND job_id IN (SELECT job_id FROM picked)
                       AND job_id % 2 = 0 THEN TIMESTAMP '2024-02-01 00:10:00' ELSE end_time END AS end_time
           FROM s1),
         s3 AS ( -- fail odds at t2
           SELECT job_id, queued_time, start_time,
             CASE WHEN status = 'processing' AND job_id IN (SELECT job_id FROM picked)
                       AND job_id % 2 <> 0 THEN error_count + 1 ELSE error_count END AS error_count,
             CASE WHEN status = 'processing' AND job_id IN (SELECT job_id FROM picked)
                       AND job_id % 2 <> 0 THEN 'failed' ELSE status END AS status,
             CASE WHEN status = 'processing' AND job_id IN (SELECT job_id FROM picked)
                       AND job_id % 2 <> 0 THEN TIMESTAMP '2024-02-01 00:10:00' ELSE end_time END AS end_time
           FROM s2),
         s4 AS ( -- reap at t3 (cutoff t3 - 15 min)
           SELECT job_id, queued_time, start_time, end_time,
             CASE WHEN status = 'processing' AND end_time IS NULL
                       AND start_time < TIMESTAMP '2024-02-01 23:45:00'
                  THEN error_count + 1 ELSE error_count END AS error_count,
             CASE WHEN status = 'processing' AND end_time IS NULL
                       AND start_time < TIMESTAMP '2024-02-01 23:45:00'
                  THEN 'failed' ELSE status END AS status
           FROM s3)
         SELECT job_id, status, error_count,
           COALESCE(epoch_us(end_time), -1) AS end_us
         FROM s4
         WHERE NOT ((status = 'completed' AND end_time < TIMESTAMP '2024-01-30 00:00:00')
                 OR (status = 'failed' AND error_count > 3))
         ORDER BY job_id""",
    "q30_vec_magnitude" ->
      """SELECT vec_id, sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE))
           FROM unnest(embedding) AS t(x))) AS magnitude
         FROM embeddings ORDER BY vec_id""",
    "q31_vec_normalize_head" ->
      """WITH m AS (SELECT vec_id, embedding,
           sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(embedding) AS t(x))) AS mag
           FROM embeddings)
         SELECT vec_id,
           CAST(embedding[1] AS DOUBLE) / (CASE WHEN mag = 0 THEN 1e-10 ELSE mag END) AS e1,
           CAST(embedding[2] AS DOUBLE) / (CASE WHEN mag = 0 THEN 1e-10 ELSE mag END) AS e2,
           CAST(embedding[3] AS DOUBLE) / (CASE WHEN mag = 0 THEN 1e-10 ELSE mag END) AS e3
         FROM m ORDER BY vec_id""",
    "q32_sign_stats" ->
      """SELECT vec_id, CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos, label
         FROM embeddings ORDER BY vec_id""",
    "q33_hamming_anchor" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         SELECT e.vec_id,
           CAST((SELECT COUNT(*) FROM q, LATERAL (SELECT unnest(e.embedding) AS x, unnest(q.qv) AS y) z
            WHERE (z.x > 0) <> (z.y > 0)) AS INT) AS hamming
         FROM embeddings e ORDER BY e.vec_id""",
    "q34_cosine_topk" ->
      // the top-k cut orders by the UNROUNDED cosine (like the engine);
      // rounding applies to output only — sorting on the rounded alias
      // could pick a different id at a k-boundary rounding tie
      """WITH q AS (SELECT embedding AS qv,
           sqrt((SELECT SUM(CAST(y AS DOUBLE)*CAST(y AS DOUBLE)) FROM unnest(embedding) AS t(y))) AS qmag
           FROM embeddings WHERE vec_id = 0),
         scored AS (SELECT e.vec_id,
           (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
            FROM q, LATERAL (SELECT unnest(e.embedding) AS x, unnest(q.qv) AS y) z) /
           (sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(e.embedding) AS t(x)))
            * (SELECT qmag FROM q) + 1e-12) AS c
           FROM embeddings e)
         SELECT vec_id, ROUND(c, 6) AS cosine FROM scored
         ORDER BY c DESC, vec_id ASC LIMIT 20""",
    "q35_knn_join" ->
      """WITH e AS (SELECT vec_id, embedding,
           sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(embedding) AS t(x))) AS mag
           FROM embeddings),
         scored AS (
           SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
             (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
              FROM (SELECT unnest(d.embedding) AS x, unnest(q.embedding) AS y) z)
             / (d.mag * q.mag + 1e-12) AS c
           FROM e q, e d WHERE q.vec_id < 5 AND d.vec_id >= 5),
         ranked AS (SELECT query_id, neighbor_id, c,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id ASC) AS rank
           FROM scored)
         SELECT query_id, neighbor_id, ROUND(c, 6) AS cosine, CAST(rank AS INT) AS rank
         FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""",
    "q37_search_e2e" ->
      """WITH q AS (SELECT embedding AS qv,
           sqrt((SELECT SUM(CAST(y AS DOUBLE)*CAST(y AS DOUBLE)) FROM unnest(embedding) AS t(y))) AS qmag
           FROM embeddings WHERE vec_id = 0),
         cand AS (SELECT e.vec_id AS id, e.embedding FROM embeddings e
           JOIN documents d ON d.doc_id = e.vec_id WHERE d.lang = 'en'),
         ham AS (SELECT c.id, c.embedding,
             CAST((SELECT COUNT(*) FROM q, LATERAL (SELECT unnest(c.embedding) AS x, unnest(q.qv) AS y) z
               WHERE (z.x > 0) <> (z.y > 0)) AS INT) AS hamming_distance
           FROM cand c),
         top_ham AS (SELECT * FROM ham ORDER BY hamming_distance ASC, id ASC LIMIT 50),
         cos AS (SELECT t.id, t.hamming_distance,
             (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
                FROM q, LATERAL (SELECT unnest(t.embedding) AS x, unnest(q.qv) AS y) z) /
             (sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(t.embedding) AS t2(x)))
              * (SELECT qmag FROM q) + 1e-12) AS cosine_similarity
           FROM top_ham t),
         top_cos AS (SELECT * FROM cos ORDER BY cosine_similarity DESC, id ASC LIMIT 25)
         SELECT id, hamming_distance, cosine_similarity FROM top_cos
         ORDER BY cosine_similarity DESC, id ASC LIMIT 5""",
    "q152_search_posts" ->
      """WITH q AS (SELECT embedding AS qv,
           sqrt((SELECT SUM(CAST(y AS DOUBLE)*CAST(y AS DOUBLE)) FROM unnest(embedding) AS t(y))) AS qmag
           FROM embeddings WHERE vec_id = 0),
         cand AS (SELECT e.vec_id AS id, e.vec_id % 50 AS post_id, e.embedding
           FROM embeddings e),
         ham AS (SELECT c.id, c.post_id, c.embedding,
             CAST((SELECT COUNT(*) FROM q, LATERAL (SELECT unnest(c.embedding) AS x, unnest(q.qv) AS y) z
               WHERE (z.x > 0) <> (z.y > 0)) AS INT) AS hamming_distance
           FROM cand c),
         top_ham AS (SELECT * FROM ham ORDER BY hamming_distance ASC, id ASC LIMIT 250),
         cos AS (SELECT t.id, t.post_id, t.hamming_distance,
             (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
                FROM q, LATERAL (SELECT unnest(t.embedding) AS x, unnest(q.qv) AS y) z) /
             (sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(t.embedding) AS t2(x)))
              * (SELECT qmag FROM q) + 1e-12) AS cosine_similarity
           FROM top_ham t),
         top_cos AS (SELECT * FROM cos ORDER BY cosine_similarity DESC, id ASC LIMIT 125),
         pool AS (SELECT * FROM top_cos ORDER BY cosine_similarity DESC, id ASC LIMIT 25),
         best AS (SELECT post_id, id, hamming_distance, cosine_similarity,
             ROW_NUMBER() OVER (PARTITION BY post_id
               ORDER BY cosine_similarity DESC, id ASC) AS rk
           FROM pool)
         SELECT post_id, id AS best_chunk_id, hamming_distance, cosine_similarity
         FROM best WHERE rk = 1
         ORDER BY cosine_similarity DESC, post_id ASC LIMIT 5""",
    "q38_search_sorted" ->
      """WITH q AS (SELECT embedding AS qv,
           sqrt((SELECT SUM(CAST(y AS DOUBLE)*CAST(y AS DOUBLE)) FROM unnest(embedding) AS t(y))) AS qmag
           FROM embeddings WHERE vec_id = 0),
         cand AS (SELECT e.vec_id AS id, e.embedding FROM embeddings e
           JOIN documents d ON d.doc_id = e.vec_id WHERE d.lang = 'en'),
         ham AS (SELECT c.id, c.embedding,
             CAST((SELECT COUNT(*) FROM q, LATERAL (SELECT unnest(c.embedding) AS x, unnest(q.qv) AS y) z
               WHERE (z.x > 0) <> (z.y > 0)) AS INT) AS hamming_distance
           FROM cand c),
         top_ham AS (SELECT * FROM ham ORDER BY hamming_distance ASC, id ASC LIMIT 50),
         cos AS (SELECT t.id, t.hamming_distance,
             (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
                FROM q, LATERAL (SELECT unnest(t.embedding) AS x, unnest(q.qv) AS y) z) /
             (sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(t.embedding) AS t2(x)))
              * (SELECT qmag FROM q) + 1e-12) AS cosine_similarity
           FROM top_ham t),
         top_cos AS (SELECT * FROM cos ORDER BY cosine_similarity DESC, id ASC LIMIT 25),
         ranked AS (SELECT t.id, t.hamming_distance, t.cosine_similarity,
             CAST(ROW_NUMBER() OVER (ORDER BY d.n_chars DESC, t.id ASC) AS INT) AS rank
           FROM top_cos t JOIN documents d ON d.doc_id = t.id)
         SELECT rank, id, hamming_distance, cosine_similarity FROM ranked
         WHERE rank <= 5 ORDER BY rank""",
    "q39_lsh_topk" -> {
      val bucket = """list_aggregate(list_transform(embedding[1:8],
        x -> CASE WHEN x > 0 THEN '1' ELSE '0' END), 'string_agg', '')"""
      val diff = (1 to 8).map(i =>
        s"(CASE WHEN substr(b.bucket,$i,1) <> substr(q.qb,$i,1) THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH q AS (SELECT embedding AS qv,
            sqrt((SELECT SUM(CAST(y AS DOUBLE)*CAST(y AS DOUBLE)) FROM unnest(embedding) AS t(y))) AS qmag,
            $bucket AS qb
            FROM embeddings WHERE vec_id = 0),
          b AS (SELECT vec_id, embedding, $bucket AS bucket,
            sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(embedding) AS t(x))) AS mag
            FROM embeddings),
          cand AS (SELECT b.* FROM b, q WHERE $diff <= 1),
          scored AS (SELECT c.vec_id,
            (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
             FROM q, LATERAL (SELECT unnest(c.embedding) AS x, unnest(q.qv) AS y) z) /
            (c.mag * (SELECT qmag FROM q) + 1e-12) AS c
            FROM cand c),
          topk AS (SELECT * FROM scored ORDER BY c DESC, vec_id ASC LIMIT 10)
          SELECT vec_id, ROUND(c, 6) AS cosine FROM topk ORDER BY vec_id ASC"""
    },
    "q53_neardup_banded" -> {
      def band(b: Int) =
        s"""list_aggregate(list_transform(embedding[${b * 8 + 1}:${(b + 1) * 8}],
            x -> CASE WHEN x > 0 THEN '1' ELSE '0' END), 'string_agg', '')"""
      val bandSelects = (0 until 4).map(b =>
        s"SELECT vec_id, '$b:' || ${band(b)} AS bucket FROM embeddings").mkString(" UNION ALL ")
      s"""WITH banded AS ($bandSelects),
          pairs AS (SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
            FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
          e AS (SELECT vec_id, embedding,
            sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(embedding) AS t(x))) AS mag
            FROM embeddings),
          scored AS (SELECT p.id1, p.id2,
            (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
             FROM (SELECT unnest(e1.embedding) AS x, unnest(e2.embedding) AS y) z)
            / (e1.mag * e2.mag + 1e-12) AS c
            FROM pairs p JOIN e e1 ON e1.vec_id = p.id1 JOIN e e2 ON e2.vec_id = p.id2)
          SELECT id1, id2, ROUND(c, 6) AS cosine FROM scored WHERE c >= 0.3
          ORDER BY id1, id2"""
    },
    "q54_minhash_pairs" -> {
      val sigCols = (0 until 8).map(sd => s"${minhashSql(sd)} AS m$sd").mkString(", ")
      val bandSelects = (0 until 4).map(b =>
        s"""SELECT doc_id, '$b:' || md5(CAST(m${2 * b} AS VARCHAR) || '|' ||
            CAST(m${2 * b + 1} AS VARCHAR)) AS band FROM sig""")
        .mkString(" UNION ALL ")
      s"""WITH alldocs AS (SELECT doc_id, text FROM documents
            UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM documents),
          sig AS (SELECT doc_id, $sigCols FROM alldocs),
          banded AS ($bandSelects)
          SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
          FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
          ORDER BY id1, id2"""
    },
    "q68_dedup_groups" ->
      s"""$dedupClustersSql
          SELECT id, label FROM lab ORDER BY id""",
    "q168_canonical_quality" ->
      s"""$dedupClustersSql,
          sc AS (SELECT doc_id AS id,
              $qualityScoreSql + CAST(doc_id % 3 AS DOUBLE) * 0.05 AS score
            FROM alldocs),
          ranked AS (SELECT lab.id, lab.label, sc.score,
              CAST(ROW_NUMBER() OVER (PARTITION BY lab.label
                ORDER BY sc.score DESC, lab.id ASC) AS BIGINT) AS rank
            FROM lab JOIN sc ON lab.id = sc.id)
          SELECT id, label, score, rank FROM ranked ORDER BY id""",
    "q106_contrastive_pairs" ->
      s"""$dedupClustersSql,
          ranked AS (SELECT label, id,
              CAST(ROW_NUMBER() OVER (PARTITION BY label ORDER BY id) AS INT) AS rank
            FROM lab WHERE id <> label)
          SELECT label AS anchor_id, id AS positive_id, rank
          FROM ranked WHERE rank <= 3 ORDER BY anchor_id, rank""",
    "q107_lm_score" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
          bgall AS (SELECT doc_id, tk[CAST(u.i + 1 AS INT)] AS w1,
              tk[CAST(u.i + 2 AS INT)] AS w2
            FROM t, UNNEST(range(0, len(tk) - 1)) AS u(i)
            WHERE tk[CAST(u.i + 1 AS INT)] <> '' AND tk[CAST(u.i + 2 AS INT)] <> ''),
          bgc AS (SELECT w1, w2, COUNT(*) AS c2 FROM bgall GROUP BY 1, 2),
          hc AS (SELECT w1, SUM(c2) AS c1 FROM bgc GROUP BY 1),
          vv AS (SELECT COUNT(DISTINCT w2) AS v FROM bgc),
          sc AS (SELECT b.doc_id,
              ROUND(-LN((CAST(COALESCE(c.c2, 0) AS DOUBLE) + 0.5) /
                (CAST(COALESCE(h.c1, 0) AS DOUBLE) + 0.5 * CAST(vv.v AS DOUBLE))), 6)
                AS lp
            FROM bgall b
            LEFT JOIN bgc c ON b.w1 = c.w1 AND b.w2 = c.w2
            LEFT JOIN hc h ON b.w1 = h.w1
            CROSS JOIN vv),
          agg AS (SELECT doc_id, COUNT(*) AS n_bigrams,
              ROUND(CAST(SUM(CAST(lp AS DECIMAL(38, 6))) AS DOUBLE) / COUNT(*), 6)
                AS xent
            FROM sc GROUP BY 1)
          SELECT doc_id, n_bigrams, xent, ROUND(EXP(xent), 6) AS ppl
          FROM agg ORDER BY doc_id""",
    "q108_dsir_weights" ->
      s"""WITH t AS (SELECT doc_id, lang, $toksSql AS tk FROM documents),
          bgall AS (SELECT doc_id, lang, tk[CAST(u.i + 1 AS INT)] AS w1,
              tk[CAST(u.i + 2 AS INT)] AS w2
            FROM t, UNNEST(range(0, len(tk) - 1)) AS u(i)
            WHERE tk[CAST(u.i + 1 AS INT)] <> '' AND tk[CAST(u.i + 2 AS INT)] <> ''),
          tc AS (SELECT w1, w2, COUNT(*) AS c2 FROM bgall WHERE lang = 'en' GROUP BY 1, 2),
          th AS (SELECT w1, SUM(c2) AS c1 FROM tc GROUP BY 1),
          tv AS (SELECT COUNT(DISTINCT w2) AS v FROM tc),
          bc AS (SELECT w1, w2, COUNT(*) AS c2 FROM bgall GROUP BY 1, 2),
          bh AS (SELECT w1, SUM(c2) AS c1 FROM bc GROUP BY 1),
          bv AS (SELECT COUNT(DISTINCT w2) AS v FROM bc),
          sc AS (SELECT b.doc_id,
              ROUND(-LN((CAST(COALESCE(tcc.c2, 0) AS DOUBLE) + 0.5) /
                (CAST(COALESCE(thh.c1, 0) AS DOUBLE) + 0.5 * CAST(tv.v AS DOUBLE))), 6)
                AS lpt,
              ROUND(-LN((CAST(COALESCE(bcc.c2, 0) AS DOUBLE) + 0.5) /
                (CAST(COALESCE(bhh.c1, 0) AS DOUBLE) + 0.5 * CAST(bv.v AS DOUBLE))), 6)
                AS lpb
            FROM bgall b
            LEFT JOIN tc tcc ON b.w1 = tcc.w1 AND b.w2 = tcc.w2
            LEFT JOIN th thh ON b.w1 = thh.w1
            LEFT JOIN bc bcc ON b.w1 = bcc.w1 AND b.w2 = bcc.w2
            LEFT JOIN bh bhh ON b.w1 = bhh.w1
            CROSS JOIN tv CROSS JOIN bv),
          agg AS (SELECT doc_id, COUNT(*) AS n_bigrams,
              ROUND(CAST(SUM(CAST(lpt AS DECIMAL(38, 6))) AS DOUBLE) / COUNT(*), 6)
                AS xent_target,
              ROUND(CAST(SUM(CAST(lpb AS DECIMAL(38, 6))) AS DOUBLE) / COUNT(*), 6)
                AS xent_background
            FROM sc GROUP BY 1)
          SELECT doc_id, n_bigrams, xent_target, xent_background,
            ROUND(xent_background - xent_target, 6) AS weight
          FROM agg ORDER BY doc_id""",
    "q109_ppl_buckets" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
          bgall AS (SELECT doc_id, tk[CAST(u.i + 1 AS INT)] AS w1,
              tk[CAST(u.i + 2 AS INT)] AS w2
            FROM t, UNNEST(range(0, len(tk) - 1)) AS u(i)
            WHERE tk[CAST(u.i + 1 AS INT)] <> '' AND tk[CAST(u.i + 2 AS INT)] <> ''),
          bgc AS (SELECT w1, w2, COUNT(*) AS c2 FROM bgall GROUP BY 1, 2),
          hc AS (SELECT w1, SUM(c2) AS c1 FROM bgc GROUP BY 1),
          vv AS (SELECT COUNT(DISTINCT w2) AS v FROM bgc),
          sc AS (SELECT b.doc_id,
              ROUND(-LN((CAST(COALESCE(c.c2, 0) AS DOUBLE) + 0.5) /
                (CAST(COALESCE(h.c1, 0) AS DOUBLE) + 0.5 * CAST(vv.v AS DOUBLE))), 6)
                AS lp
            FROM bgall b
            LEFT JOIN bgc c ON b.w1 = c.w1 AND b.w2 = c.w2
            LEFT JOIN hc h ON b.w1 = h.w1
            CROSS JOIN vv),
          agg AS (SELECT doc_id, COUNT(*) AS n_bigrams,
              ROUND(CAST(SUM(CAST(lp AS DECIMAL(38, 6))) AS DOUBLE) / COUNT(*), 6)
                AS xent
            FROM sc GROUP BY 1),
          scored AS (SELECT d.doc_id, d.lang AS grp, a.n_bigrams, a.xent,
              ROUND(EXP(a.xent), 6) AS ppl
            FROM agg a JOIN documents d ON d.doc_id = a.doc_id),
          bucketed AS (SELECT *, NTILE(3) OVER (PARTITION BY grp ORDER BY ppl, doc_id) AS tr
            FROM scored)
          SELECT doc_id, grp, n_bigrams, xent, ppl,
            CASE tr WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
          FROM bucketed ORDER BY doc_id""",
    "q110_funnel" ->
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
          f1 AS (SELECT user_id, MIN(ts) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
          f2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM e
            JOIN f1 ON e.user_id = f1.user_id AND e.ts > f1.t1
            WHERE e.event_type = 'click' GROUP BY 1),
          f3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM e
            JOIN f2 ON e.user_id = f2.user_id AND e.ts > f2.t2
            WHERE e.event_type = 'signup' GROUP BY 1),
          f4 AS (SELECT e.user_id, MIN(e.ts) AS t4 FROM e
            JOIN f3 ON e.user_id = f3.user_id AND e.ts > f3.t3
            WHERE e.event_type = 'purchase' GROUP BY 1)
          SELECT f1.user_id, t1, t2, t3, t4,
            CAST(1 + CASE WHEN t2 IS NULL THEN 0 ELSE 1 END
               + CASE WHEN t3 IS NULL THEN 0 ELSE 1 END
               + CASE WHEN t4 IS NULL THEN 0 ELSE 1 END AS INT) AS depth
          FROM f1
          LEFT JOIN f2 ON f1.user_id = f2.user_id
          LEFT JOIN f3 ON f1.user_id = f3.user_id
          LEFT JOIN f4 ON f1.user_id = f4.user_id
          ORDER BY f1.user_id""",
    "q111_funnel_counts" ->
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
          f1 AS (SELECT user_id, MIN(ts) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
          f2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM e
            JOIN f1 ON e.user_id = f1.user_id AND e.ts > f1.t1
            WHERE e.event_type = 'click' GROUP BY 1),
          f3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM e
            JOIN f2 ON e.user_id = f2.user_id AND e.ts > f2.t2
            WHERE e.event_type = 'signup' GROUP BY 1),
          f4 AS (SELECT e.user_id, MIN(e.ts) AS t4 FROM e
            JOIN f3 ON e.user_id = f3.user_id AND e.ts > f3.t3
            WHERE e.event_type = 'purchase' GROUP BY 1)
          SELECT * FROM (VALUES
            (1, 'view', (SELECT COUNT(*) FROM f1)),
            (2, 'click', (SELECT COUNT(*) FROM f2)),
            (3, 'signup', (SELECT COUNT(*) FROM f3)),
            (4, 'purchase', (SELECT COUNT(*) FROM f4))) AS t(stage, stage_name, n_users)
          ORDER BY stage""",
    "q112_cohort_retention" ->
      """WITH wk AS (SELECT DISTINCT user_id,
              date_trunc('week', CAST(ts AS TIMESTAMP)) AS wk FROM events),
          coh AS (SELECT user_id, MIN(wk) AS cohort_week FROM wk GROUP BY 1)
          SELECT CAST(epoch(c.cohort_week) AS BIGINT) AS cohort_week,
            CAST(date_diff('day', c.cohort_week, w.wk) // 7 AS INT) AS week_offset,
            COUNT(*) AS n_users
          FROM wk w JOIN coh c ON w.user_id = c.user_id
          GROUP BY 1, 2 ORDER BY 1, 2""",
    "q113_cms_estimate" -> {
      val seeds = (0 until 4)
        .map(i => s"(${i}, ${Dedup.MinhashA(i)}, ${Dedup.MinhashB(i)})").mkString(", ")
      val h = "CAST(concat('0x', substr(md5(term), 1, 7)) AS BIGINT)"
      s"""WITH toks AS (SELECT unnest($toksSql) AS term FROM documents),
          t AS (SELECT term, $h AS hb FROM toks WHERE term <> ''),
          seeds AS (SELECT * FROM (VALUES $seeds) AS s(rw, a, b)),
          cells AS (SELECT s.rw, ((s.a * t.hb + s.b) % ${Dedup.MinhashPrime}) % 512 AS cl,
              COUNT(*) AS n
            FROM t CROSS JOIN seeds s GROUP BY 1, 2),
          probes AS (SELECT * FROM (VALUES ('the'), ('of'), ('and'), ('model'),
            ('data'), ('zzz_absent_token')) AS p(term)),
          pc AS (SELECT p.term, s.rw,
              ((s.a * $h + s.b) % ${Dedup.MinhashPrime}) % 512 AS cl
            FROM probes p CROSS JOIN seeds s)
          SELECT pc.term, MIN(COALESCE(c.n, 0)) AS est
          FROM pc LEFT JOIN cells c ON c.rw = pc.rw AND c.cl = pc.cl
          GROUP BY 1 ORDER BY term"""
    },
    "q114_priority_sample" ->
      """WITH p AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight,
            CAST(n_chars AS DOUBLE) /
              ((CAST(CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), ':r6')), 1, 13))
                  AS BIGINT) AS DOUBLE) + 1.0) / 4503599627370496.0) AS pq
          FROM documents WHERE n_chars > 0)
          SELECT doc_id, weight, ROUND(pq, 6) AS priority
          FROM p ORDER BY pq DESC, doc_id LIMIT 100""",
    "q115_sq_search" ->
      """WITH stats AS (
           SELECT CAST(t.i AS INT) AS dim,
             MIN(e.embedding[CAST(t.i + 1 AS INT)]) AS mn,
             MAX(e.embedding[CAST(t.i + 1 AS INT)]) AS mx
           FROM embeddings e, LATERAL UNNEST(range(len(e.embedding))) AS t(i)
           GROUP BY dim),
          sarr AS (SELECT list(CAST(mn AS DOUBLE) ORDER BY dim) AS ml,
              list(CAST(mx AS DOUBLE) ORDER BY dim) AS xl FROM stats),
          q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
          dq AS (SELECT e.vec_id,
              list_transform(range(len(e.embedding)), i -> CAST(
                s.ml[CAST(i + 1 AS INT)] +
                (CAST(CASE WHEN s.xl[CAST(i + 1 AS INT)] = s.ml[CAST(i + 1 AS INT)] THEN 0
                   ELSE GREATEST(-128, LEAST(127,
                     CAST(FLOOR((CAST(e.embedding[CAST(i + 1 AS INT)] AS DOUBLE)
                                 - s.ml[CAST(i + 1 AS INT)]) * 255.0
                                / (s.xl[CAST(i + 1 AS INT)] - s.ml[CAST(i + 1 AS INT)])
                                + 0.5) AS BIGINT) - 128))
                 END AS DOUBLE) + 128.0)
                * (s.xl[CAST(i + 1 AS INT)] - s.ml[CAST(i + 1 AS INT)]) / 255.0
                AS FLOAT)) AS dqv
            FROM embeddings e CROSS JOIN sarr s),
          scored AS (SELECT d.vec_id,
              (SELECT SUM(CAST(z.a AS DOUBLE) * CAST(z.b AS DOUBLE))
               FROM q, LATERAL (SELECT unnest(d.dqv) AS a, unnest(q.qv) AS b) z) AS sc
            FROM dq d)
          SELECT vec_id, ROUND(sc, 6) AS score FROM scored
          ORDER BY sc DESC, vec_id ASC LIMIT 20""",
    "q116_lang_profile" -> {
      // per-LINE instance of the q47 stopword-hit machinery
      val hit: Map[String, String] = TextAnalysis.stopwords.map { case (lang, ws) =>
        val inList = ws.map(w => s"'$w'").mkString(",")
        lang -> s"len(list_filter(${toksSqlOn("line")}, t -> t IN ($inList)))"
      }
      val langs = TextAnalysis.stopwords.keys.toSeq.sorted
      val greatest = s"greatest(${langs.map(hit).mkString(", ")})"
      val cases = langs.map(l => s"WHEN ${hit(l)} = __g THEN '$l'").mkString(" ")
      s"""WITH lines AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line
            FROM documents),
          nb AS (SELECT doc_id, line FROM lines WHERE length(trim(line)) > 0),
          ll AS (SELECT doc_id, CASE WHEN __g = 0 THEN 'und' $cases END AS lg FROM (
            SELECT doc_id, line, $greatest AS __g FROM nb)),
          counts AS (SELECT doc_id, lg, COUNT(*) AS n FROM ll GROUP BY 1, 2),
          ranked AS (SELECT doc_id, lg, n,
              ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY n DESC, lg ASC) AS rk,
              SUM(n) OVER (PARTITION BY doc_id) AS n_lines,
              COUNT(CASE WHEN lg <> 'und' THEN 1 END)
                OVER (PARTITION BY doc_id) AS n_langs
            FROM counts)
          SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines, lg AS majority_lang,
            ROUND(CAST(n AS DOUBLE) / CAST(n_lines AS DOUBLE), 6) AS majority_frac,
            CAST(n_langs AS BIGINT) AS n_langs
          FROM ranked WHERE rk = 1 ORDER BY doc_id"""
    },
    "q117_phrase_match" -> phraseMatchSql,
    "q253_phrase_planned" -> phraseMatchSql,
    "q258_syn_bm25" -> bm25SynSql(
      Seq(Seq("sort", "order"), Seq("fast", "quick"), Seq("merge"))),
    "q262_wildcard" -> wildcardSql("^s.*$", maxExpansions = 4),
    "q267_collapse" ->
      s"""WITH hits AS MATERIALIZED (
            SELECT * FROM (${bm25SqlOver(Seq("sort", "merge", "spark"),
              "documents", toksSql, topN = 50)}) AS h0),
          g AS (SELECT h.doc_id, h.score, d.source AS field_value,
              ROW_NUMBER() OVER (PARTITION BY d.source
                ORDER BY h.score DESC, h.doc_id ASC) AS rk
            FROM hits h JOIN documents d USING (doc_id)),
          reps AS (SELECT field_value, doc_id, score FROM g WHERE rk = 1),
          inr AS (SELECT field_value, COUNT(*) AS n_group,
              COALESCE(array_to_string(list(doc_id ORDER BY rk)
                FILTER (WHERE rk > 1 AND rk <= 3), ','), '') AS inner_ids
            FROM g GROUP BY field_value)
          SELECT CAST(ROW_NUMBER() OVER (ORDER BY r.score DESC, r.doc_id ASC) AS INT) AS rank,
            r.field_value, r.doc_id, r.score, i.n_group, i.inner_ids
          FROM reps r JOIN inr i USING (field_value)
          ORDER BY rank LIMIT 10""",
    // X227: the q266 JLH arithmetic with the q214 hit set as the
    // foreground and the served-path corpus definition (n_bg = docs
    // with ≥ 1 token — the doclens membership)
    "q270_sigterms_served" -> {
      val hitsSql = bm25SqlOver(Seq("sort", "merge", "spark"),
        "documents", toksSql, topN = 20)
      s"""WITH hits AS MATERIALIZED (SELECT doc_id FROM ($hitsSql) AS h),
          dt AS (SELECT DISTINCT doc_id, u.t AS term
            FROM (SELECT doc_id, list_filter($toksSql, x -> x <> '') AS tk
                  FROM documents), UNNEST(tk) AS u(t)),
          pt AS (SELECT term,
              COUNT(CASE WHEN doc_id IN (SELECT doc_id FROM hits)
                THEN 1 END) AS df_fg,
              COUNT(*) AS df_bg FROM dt GROUP BY term),
          sz AS (SELECT (SELECT COUNT(*) FROM hits) AS n_fg,
              (SELECT COUNT(DISTINCT doc_id) FROM dt) AS n_bg),
          sc AS (SELECT term, df_fg, df_bg,
              (CAST(df_fg AS DOUBLE) / CAST(n_fg AS DOUBLE)
                - CAST(df_bg AS DOUBLE) / CAST(n_bg AS DOUBLE))
              * ((CAST(df_fg AS DOUBLE) / CAST(n_fg AS DOUBLE))
                / (CAST(df_bg AS DOUBLE) / CAST(n_bg AS DOUBLE))) AS score
            FROM pt CROSS JOIN sz WHERE n_fg > 0 AND df_fg >= 2)
          SELECT term, df_fg, df_bg, ROUND(score, 6) AS score FROM sc
          WHERE score > 0 ORDER BY score DESC, term ASC LIMIT 15"""
    },
    "q266_sig_terms" ->
      s"""WITH dt AS (SELECT DISTINCT doc_id, lang = 'de' AS fg, u.t AS term
            FROM (SELECT doc_id, lang, list_filter($toksSql, x -> x <> '') AS tk
                  FROM documents), UNNEST(tk) AS u(t)),
          pt AS (SELECT term, COUNT(CASE WHEN fg THEN 1 END) AS df_fg,
              COUNT(*) AS df_bg FROM dt GROUP BY term),
          sz AS (SELECT COUNT(CASE WHEN lang = 'de' THEN 1 END) AS n_fg,
              COUNT(*) AS n_bg FROM documents),
          sc AS (SELECT term, df_fg, df_bg,
              (CAST(df_fg AS DOUBLE) / CAST(n_fg AS DOUBLE)
                - CAST(df_bg AS DOUBLE) / CAST(n_bg AS DOUBLE))
              * ((CAST(df_fg AS DOUBLE) / CAST(n_fg AS DOUBLE))
                / (CAST(df_bg AS DOUBLE) / CAST(n_bg AS DOUBLE))) AS score
            FROM pt CROSS JOIN sz WHERE n_fg > 0 AND df_fg >= 2)
          SELECT term, df_fg, df_bg, ROUND(score, 6) AS score FROM sc
          WHERE score > 0 ORDER BY score DESC, term ASC LIMIT 15""",
    "q265_rank_eval" -> {
      val ln2 = math.log(2.0).toString
      def runLeg(qid: String, terms: Seq[String]) =
        s"""SELECT '$qid' AS query_id, doc_id,
            ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank
          FROM (${bm25SqlOver(terms, "documents", toksSql, topN = 20)}) AS h"""
      s"""WITH run AS MATERIALIZED (${runLeg("qa", Seq("sort", "merge"))}
            UNION ALL ${runLeg("qb", Seq("spark", "stream"))}),
          qr AS MATERIALIZED (SELECT q.query_id, d.doc_id,
              CAST(1 + d.doc_id % 3 AS INT) AS rel
            FROM (VALUES ('qa'), ('qb')) AS q(query_id), documents d
            WHERE d.n_chars % 7 = 0),
          j AS (SELECT r.query_id, r.rank, COALESCE(qr.rel, 0) AS rel,
              ROUND((POWER(2.0, CAST(COALESCE(qr.rel, 0) AS DOUBLE)) - 1.0)
                / (LN(CAST(r.rank AS DOUBLE) + 1.0) / CAST($ln2 AS DOUBLE)), 6) AS g
            FROM run r LEFT JOIN qr
              ON qr.query_id = r.query_id AND qr.doc_id = r.doc_id),
          pq AS (SELECT query_id,
              CAST(SUM(CAST(g AS DECIMAL(38, 6))) AS DOUBLE) AS dcg,
              MIN(CASE WHEN rel > 0 THEN rank END) AS frst,
              COUNT(CASE WHEN rel > 0 THEN 1 END) AS hits
            FROM j GROUP BY query_id),
          iw AS (SELECT query_id, rel,
              ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY rel DESC, doc_id ASC) AS i FROM qr),
          id AS (SELECT query_id,
              CAST(SUM(CAST(CASE WHEN i <= 20 AND rel > 0 THEN
                ROUND((POWER(2.0, CAST(rel AS DOUBLE)) - 1.0)
                  / (LN(CAST(i AS DOUBLE) + 1.0) / CAST($ln2 AS DOUBLE)), 6)
                ELSE 0.0 END AS DECIMAL(38, 6))) AS DOUBLE) AS idcg,
              COUNT(CASE WHEN rel > 0 THEN 1 END) AS n_rel
            FROM iw GROUP BY query_id)
          SELECT pq.query_id, COALESCE(id.n_rel, 0) AS n_rel,
            ROUND(CASE WHEN COALESCE(id.idcg, 0) > 0
              THEN pq.dcg / id.idcg ELSE 0.0 END, 6) AS ndcg,
            ROUND(CASE WHEN pq.frst IS NOT NULL
              THEN 1.0 / CAST(pq.frst AS DOUBLE) ELSE 0.0 END, 6) AS rr,
            ROUND(CASE WHEN COALESCE(id.n_rel, 0) > 0
              THEN CAST(pq.hits AS DOUBLE) / CAST(id.n_rel AS DOUBLE)
              ELSE 0.0 END, 6) AS recall
          FROM pq LEFT JOIN id USING (query_id) ORDER BY query_id"""
    },
    "q263_span_first" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
           p AS (SELECT doc_id, CAST(u.i AS INT) AS pos, tk[CAST(u.i + 1 AS INT)] AS term
             FROM t, UNNEST(range(len(tk))) AS u(i)
             WHERE tk[CAST(u.i + 1 AS INT)] <> '')
          SELECT doc_id, COUNT(*) AS n_hits, MIN(pos) AS first_pos
          FROM p WHERE term = 'sort' AND pos < 3
          GROUP BY doc_id ORDER BY doc_id""",
    "q264_field_boost" ->
      // the boosted order sorts on the UNROUNDED product (the engine's
      // heap does); rounding applies to output only
      s"""WITH hits AS MATERIALIZED (
            SELECT * FROM (${bm25SqlOver(Seq("sort", "merge", "spark"),
              "documents", toksSql, topN = 50)}) AS h0),
          b AS (SELECT h.doc_id, h.score,
              h.score * (CAST(1.0 AS DOUBLE) * LN(1.0 + CAST(d.n_chars AS DOUBLE))) AS boosted
            FROM hits h JOIN documents d USING (doc_id))
          SELECT doc_id, score, ROUND(boosted, 6) AS boosted FROM b
          ORDER BY boosted DESC, doc_id ASC LIMIT 20""",
    "q259_bm25f" -> bm25fSql(8, Seq("sort", "merge", "spark")),
    // X225 gates the index-served path on the SAME oracle verbatim —
    // the fielded sidecar is pure I/O, the ranking core is shared
    "q268_bm25f_served" -> bm25fSql(8, Seq("sort", "merge", "spark")),
    "q260_decay_rank" -> {
      // the engine's constants, Scala-printed so both engines parse the
      // IDENTICAL doubles (the bm25SqlOver discipline)
      val negLn2 = (-math.log(2.0)).toString
      val hlMicros = (7.0 * 86400e6).toString
      s"""WITH w AS (SELECT user_id AS key,
            ROUND(CAST(1.0 AS DOUBLE) * EXP(CAST($negLn2 AS DOUBLE)
              * CAST(anchor - us AS DOUBLE) / CAST($hlMicros AS DOUBLE)), 6) AS w
          FROM (SELECT user_id, epoch_us(ts) AS us,
                (SELECT MAX(epoch_us(ts)) FROM events) AS anchor FROM events)),
        g AS (SELECT key, COUNT(*) AS n_events,
            CAST(SUM(CAST(w AS DECIMAL(38, 6))) AS DOUBLE) AS score
          FROM w GROUP BY key)
        SELECT key, n_events, ROUND(score, 6) AS score FROM g
        ORDER BY score DESC, key ASC LIMIT 20"""
    },
    "q261_mmr_rerank" -> mmrSql(m = 50, k = 10, lambda = 0.7),
    // X235: the decision record is pure drift arithmetic over the
    // corpus counts (docs with >= 1 token, half vs full)
    "q277_derived_maintain" ->
      s"""WITH t AS (SELECT doc_id, list_filter($toksSql, x -> x <> '') AS tk
            FROM documents),
          b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t
            WHERE len(tk) > 0 AND doc_id % 2 = 0),
          l AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t
            WHERE len(tk) > 0),
          a(artifact) AS (VALUES ('forward'), ('fielded'), ('blockmax'))
          SELECT a.artifact, b.n AS built_n_docs, l.n AS live_n_docs,
            ROUND(ABS(CAST(l.n AS DOUBLE) - CAST(b.n AS DOUBLE))
              / CAST(b.n AS DOUBLE), 6) AS stale_frac,
            CAST(0.1 AS DOUBLE) AS threshold, TRUE AS acted
          FROM a CROSS JOIN b CROSS JOIN l ORDER BY artifact""",
    // X287: q277's drift arithmetic at the small-append split, plus
    // the EXPECTED mechanism per artifact — a rebuild where a delta
    // apply was due (or vice versa) breaks the hash
    "q331_derived_delta" ->
      s"""WITH t AS (SELECT doc_id, list_filter($toksSql, x -> x <> '') AS tk
            FROM documents),
          b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t
            WHERE len(tk) > 0 AND doc_id % 4 = 0),
          l AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t
            WHERE len(tk) > 0 AND (doc_id % 4 = 0 OR doc_id % 40 = 1)),
          a(artifact, mode) AS (VALUES ('forward', 'delta_apply'),
            ('fielded', 'delta_apply'), ('blockmax', 'adopt'))
          SELECT a.artifact, b.n AS built_n_docs, l.n AS live_n_docs,
            ROUND(ABS(CAST(l.n AS DOUBLE) - CAST(b.n AS DOUBLE))
              / CAST(b.n AS DOUBLE), 6) AS stale_frac,
            CAST(0.02 AS DOUBLE) AS threshold, TRUE AS acted, a.mode
          FROM a CROSS JOIN b CROSS JOIN l ORDER BY artifact""",
    // X234: candidates generated RELATIONALLY (per-slot fuzzy top-2 +
    // keep-original fallback, cross-multiplied), each 3-token phrase's
    // single trigram priced by the q200 Stupid-Backoff CASE verbatim
    "q276_phrase_suggest" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
          p AS (SELECT doc_id, u.t AS term
            FROM t, UNNEST(tk) AS u(t) WHERE u.t <> ''),
          v AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM p GROUP BY 1),
          q(slot, qterm) AS (VALUES (1, 'sorrt'), (2, 'mergee'), (3, 'spark')),
          c AS (SELECT q.slot, q.qterm, v.term, v.df,
              CAST(levenshtein(q.qterm, v.term) AS INT) AS dist
            FROM q CROSS JOIN v
            WHERE levenshtein(q.qterm, v.term) <= 1),
          r AS (SELECT slot, qterm, term,
              ROW_NUMBER() OVER (PARTITION BY slot
                ORDER BY dist ASC, df DESC, term ASC) AS rank
            FROM c),
          opt AS (SELECT slot, qterm, term FROM r WHERE rank <= 2
            UNION ALL SELECT slot, qterm, qterm FROM q
            WHERE NOT EXISTS (SELECT 1 FROM r WHERE r.slot = q.slot)),
          ph AS (SELECT o1.term || ' ' || o2.term || ' ' || o3.term AS phrase,
              CAST((CASE WHEN o1.term <> o1.qterm THEN 1 ELSE 0 END)
                + (CASE WHEN o2.term <> o2.qterm THEN 1 ELSE 0 END)
                + (CASE WHEN o3.term <> o3.qterm THEN 1 ELSE 0 END)
                AS BIGINT) AS n_changes,
              o1.term AS w1, o2.term AS w2, o3.term AS w3
            FROM opt o1, opt o2, opt o3
            WHERE o1.slot = 1 AND o2.slot = 2 AND o3.slot = 3),
          tgall AS (SELECT doc_id, tk[CAST(u.i + 1 AS INT)] AS w1,
              tk[CAST(u.i + 2 AS INT)] AS w2, tk[CAST(u.i + 3 AS INT)] AS w3
            FROM t, UNNEST(range(0, len(tk) - 2)) AS u(i)
            WHERE tk[CAST(u.i + 1 AS INT)] <> '' AND tk[CAST(u.i + 2 AS INT)] <> ''
              AND tk[CAST(u.i + 3 AS INT)] <> ''),
          tgc AS (SELECT w1, w2, w3, COUNT(*) AS c3 FROM tgall GROUP BY 1, 2, 3),
          bgall AS (SELECT doc_id, tk[CAST(u.i + 1 AS INT)] AS w1,
              tk[CAST(u.i + 2 AS INT)] AS w2
            FROM t, UNNEST(range(0, len(tk) - 1)) AS u(i)
            WHERE tk[CAST(u.i + 1 AS INT)] <> '' AND tk[CAST(u.i + 2 AS INT)] <> ''),
          bgc AS (SELECT w1, w2, COUNT(*) AS c2 FROM bgall GROUP BY 1, 2),
          uni AS (SELECT term AS w, COUNT(*) AS c1 FROM p GROUP BY 1),
          nv AS (SELECT CAST(SUM(c1) AS BIGINT) AS n, COUNT(*) AS v FROM uni),
          sc AS (SELECT ph.phrase, ph.n_changes, ROUND(-LN(CASE
              WHEN tc.c3 > 0 THEN CAST(tc.c3 AS DOUBLE) / CAST(ba.c2 AS DOUBLE)
              WHEN bb.c2 > 0 THEN 0.4 * (CAST(bb.c2 AS DOUBLE) / CAST(u2.c1 AS DOUBLE))
              ELSE (0.4 * 0.4) * ((CAST(COALESCE(u3.c1, 0) AS DOUBLE) + 1.0) /
                (CAST(nv.n AS DOUBLE) + CAST(nv.v AS DOUBLE)))
            END), 6) AS lp
            FROM ph
            LEFT JOIN tgc tc ON ph.w1 = tc.w1 AND ph.w2 = tc.w2 AND ph.w3 = tc.w3
            LEFT JOIN bgc ba ON ph.w1 = ba.w1 AND ph.w2 = ba.w2
            LEFT JOIN bgc bb ON ph.w2 = bb.w1 AND ph.w3 = bb.w2
            LEFT JOIN uni u2 ON ph.w2 = u2.w
            LEFT JOIN uni u3 ON ph.w3 = u3.w
            CROSS JOIN nv),
          fin AS (SELECT phrase, n_changes,
              ROUND(CAST(CAST(lp AS DECIMAL(38, 6)) AS DOUBLE) / 1, 6) AS xent
            FROM sc)
          SELECT phrase, n_changes, xent, ROUND(EXP(xent), 6) AS ppl
          FROM fin ORDER BY ppl ASC, phrase ASC LIMIT 5""",
    // X232: the q214 pd/st statistics verbatim, the top-1 doc from the
    // served cut, one UNION-ALL row per query term — display idf
    // rounds separately, the partial rounds the bm25SqlOver expression
    "q274_explain" -> {
      val terms = Seq("sort", "merge", "spark")
      val (k1v, bv) = (1.2, 0.75)
      val k1p = (k1v + 1.0).toString
      val tfCols = terms.zipWithIndex.map { case (t, i) =>
        s"len(list_filter(tk, x -> x = '$t')) AS tf$i" }.mkString(", ")
      val dfCols = terms.indices.map(i =>
        s"COUNT(CASE WHEN tf$i > 0 THEN 1 END) AS df$i").mkString(", ")
      def idfSql(i: Int) =
        s"""LN(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5)
            / (CAST(df$i AS DOUBLE) + 0.5))"""
      val rows = terms.zipWithIndex.map { case (t, i) =>
        s"""SELECT '$t' AS term, tf$i AS tf, dl, df$i AS df,
            ROUND(${idfSql(i)}, 6) AS idf,
            ROUND(${idfSql(i)}
              * CAST(tf$i AS DOUBLE) * CAST($k1p AS DOUBLE)
              / (CAST(tf$i AS DOUBLE) + CAST($k1v AS DOUBLE)
                 * ((1.0 - CAST($bv AS DOUBLE))
                    + (CAST($bv AS DOUBLE) * CAST(dl AS DOUBLE)) / avgdl)), 6)
              AS partial
          FROM row1 CROSS JOIN st"""
      }.mkString("\n          UNION ALL ")
      s"""WITH h AS MATERIALIZED (${bm25SqlOver(terms, "documents",
            toksSql, topN = 1)}),
          pd AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl, $tfCols
            FROM (SELECT doc_id, list_filter($toksSql, x -> x <> '') AS tk
                  FROM documents)
            WHERE len(tk) > 0),
          st AS (SELECT COUNT(*) AS n_docs,
              CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, $dfCols FROM pd),
          row1 AS (SELECT pd.* FROM pd JOIN h USING (doc_id))
          $rows"""
    },
    // X233: the q263 position-walk pattern, direction-sensitive pairs
    "q275_span_near" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
          p AS (SELECT doc_id, CAST(u.i AS INT) AS pos,
              tk[CAST(u.i + 1 AS INT)] AS term
            FROM t, UNNEST(range(len(tk))) AS u(i)
            WHERE tk[CAST(u.i + 1 AS INT)] <> ''),
          a AS (SELECT doc_id, pos AS pa FROM p WHERE term = 'merge'),
          b AS (SELECT doc_id, pos AS pb FROM p WHERE term = 'sort'),
          j AS (SELECT a.doc_id, pa, pb FROM a JOIN b USING (doc_id)
            WHERE pb - pa BETWEEN 1 AND 3)
          SELECT doc_id, COUNT(*) AS n_pairs, MIN(pb - pa) AS min_gap
          FROM j GROUP BY doc_id ORDER BY doc_id""",
    // X230: both legs as UNCUT round-6 rankings (LIMIT beyond the
    // corpus), full-outer joined per doc; DECIMAL-exact cross-leg sum,
    // order on the unrounded combined score, the Scala-printed 0.3
    "q272_dis_max" -> {
      val tie = 0.3.toString
      def leg(terms: Seq[String]) =
        bm25SqlOver(terms, "documents", toksSql, topN = 1000000000)
      s"""WITH l1 AS MATERIALIZED (${leg(Seq("sort", "merge"))}),
          l2 AS MATERIALIZED (${leg(Seq("spark", "stream"))}),
          m AS (SELECT COALESCE(l1.doc_id, l2.doc_id) AS doc_id,
              GREATEST(COALESCE(l1.score, 0.0), COALESCE(l2.score, 0.0)) AS best,
              CAST(COALESCE(CAST(l1.score AS DECIMAL(38, 6)), 0)
                + COALESCE(CAST(l2.score AS DECIMAL(38, 6)), 0) AS DOUBLE) AS s,
              CAST((CASE WHEN l1.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                + (CASE WHEN l2.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_legs
            FROM l1 FULL OUTER JOIN l2 ON l1.doc_id = l2.doc_id),
          c AS (SELECT doc_id, best, n_legs,
              best + CAST($tie AS DOUBLE) * (s - best) AS combined FROM m)
          SELECT doc_id, best, n_legs, ROUND(combined, 6) AS score
          FROM c ORDER BY combined DESC, doc_id ASC LIMIT 20"""
    },
    // X231: the q214 full ranking with the 'bubble' membership demoting
    // to 0.3x; order on the unrounded demoted score (the q264 rule)
    "q273_boosting" ->
      s"""WITH h AS MATERIALIZED (${bm25SqlOver(Seq("sort", "merge", "spark"),
            "documents", toksSql, topN = 1000000000)}),
          neg AS (SELECT DISTINCT doc_id
            FROM (SELECT doc_id, list_filter($toksSql, x -> x <> '') AS tk
                  FROM documents)
            WHERE len(list_filter(tk, x -> x = 'bubble')) > 0),
          b AS (SELECT h.doc_id,
              CASE WHEN neg.doc_id IS NOT NULL
                THEN h.score * CAST(${0.3.toString} AS DOUBLE)
                ELSE h.score END AS s,
              neg.doc_id IS NOT NULL AS demoted
            FROM h LEFT JOIN neg ON h.doc_id = neg.doc_id)
          SELECT doc_id, ROUND(s, 6) AS score, demoted FROM b
          ORDER BY s DESC, doc_id ASC LIMIT 20""",
    // X229: the q257 fused set rendered as a page — collapse by source
    // (the X224 contract: rep + ordered inner ids per group) and the
    // lang/source facet rail (X182) over the same hits
    "q271_serp_page" ->
      s"""$serpFusedSqlCtes,
          hs AS (SELECT h.vec_id AS doc_id, h.rrf AS score,
              d.source, d.lang
            FROM hits3 h JOIN documents d ON d.doc_id = h.vec_id),
          grp AS (SELECT doc_id, score, source AS field_value,
              ROW_NUMBER() OVER (PARTITION BY source
                ORDER BY score DESC, doc_id ASC) AS rk
            FROM hs),
          reps AS (SELECT field_value, doc_id, score FROM grp WHERE rk = 1),
          inn AS (SELECT field_value, COUNT(*) AS n_group,
              COALESCE(STRING_AGG(CASE WHEN rk > 1 AND rk <= 3
                THEN CAST(doc_id AS VARCHAR) END, ',' ORDER BY rk), '')
                AS inner_ids
            FROM grp GROUP BY field_value),
          coll AS (SELECT CAST(ROW_NUMBER() OVER (
                ORDER BY r.score DESC, r.doc_id ASC) AS INT) AS rank,
              r.field_value, r.doc_id, r.score, i.n_group, i.inner_ids
            FROM reps r JOIN inn i USING (field_value)
            ORDER BY r.score DESC, r.doc_id ASC LIMIT 5),
          fac0 AS (SELECT 'lang' AS k1, lang AS k2 FROM hs
            UNION ALL SELECT 'source', source FROM hs),
          fac AS (SELECT k1, k2, COUNT(*) AS n,
              CAST(ROW_NUMBER() OVER (PARTITION BY k1
                ORDER BY COUNT(*) DESC, k2 ASC) AS INT) AS rank
            FROM fac0 GROUP BY k1, k2)
          SELECT 'collapse' AS section, rank, field_value AS k1,
            CAST(doc_id AS VARCHAR) || '|' || inner_ids AS k2,
            CAST(n_group AS BIGINT) AS n, score
          FROM coll
          UNION ALL SELECT 'facet', rank, k1, k2, CAST(n AS BIGINT), 0.0
          FROM fac WHERE rank <= 3
          ORDER BY section, rank, k1""",
    "q257_serp_full" -> {
      val (mltT, mltK) = (10, 5)
      def pp(tfsT: String, dfsT: String) = serpPp(tfsT, dfsT)
      s"""$serpFusedSqlCtes,
          hitrows AS (SELECT 'hit' AS section,
              CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, vec_id ASC) AS INT) AS rank,
              vec_id, rrf AS score FROM hits3),
          top1 AS (SELECT vec_id FROM hits3
            ORDER BY rrf DESC, vec_id ASC LIMIT 1),
          seedtf AS (SELECT u.t AS term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM (SELECT tk FROM pd
                  WHERE doc_id = (SELECT vec_id FROM top1)),
              UNNEST(tk) AS u(t) GROUP BY 1),
          mlsel AS (SELECT term FROM (
              SELECT s2.term,
                ROUND(CAST(s2.tf AS DOUBLE)
                  * LN(1.0 + (CAST(st.n_docs AS DOUBLE) - CAST(a.df AS DOUBLE) + 0.5)
                       / (CAST(a.df AS DOUBLE) + 0.5)), 6) AS w
              FROM seedtf s2 JOIN alldf a USING (term) CROSS JOIN st)
            ORDER BY w DESC, term ASC LIMIT $mltT),
          mtfs AS (SELECT pd.doc_id, pd.dl, mlsel.term,
              CAST(len(list_filter(pd.tk, x -> x = mlsel.term)) AS BIGINT) AS tf
            FROM pd CROSS JOIN mlsel),
          mdfs AS (SELECT term, COUNT(CASE WHEN tf > 0 THEN 1 END) AS df
            FROM mtfs GROUP BY 1),
          mpart AS (SELECT mtfs.doc_id, ${pp("mtfs", "mdfs")} AS pp
            FROM mtfs JOIN mdfs USING (term) CROSS JOIN st),
          msc AS (SELECT doc_id, SUM(pp) AS score FROM mpart GROUP BY 1),
          relbase AS (SELECT doc_id, ROUND(score, 6) AS score FROM msc
            WHERE score > 0 AND doc_id <> (SELECT vec_id FROM top1)
            ORDER BY score DESC, doc_id ASC LIMIT $mltK),
          relrows AS (SELECT 'related' AS section,
              CAST(ROW_NUMBER() OVER (ORDER BY score DESC, vec_id ASC) AS INT) AS rank,
              vec_id, score
            FROM (SELECT doc_id AS vec_id, score FROM relbase))
          SELECT section, rank, vec_id, score FROM hitrows
          UNION ALL SELECT section, rank, vec_id, score FROM relrows
          ORDER BY section, rank"""
    },
    "q256_percolate_store" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
          p AS (SELECT DISTINCT doc_id, u.t AS term
            FROM t, UNNEST(tk) AS u(t) WHERE u.t <> ''),
          v AS (SELECT term,
              ROW_NUMBER() OVER (ORDER BY COUNT(DISTINCT doc_id) DESC, term) AS rn
            FROM p GROUP BY term),
          n AS (SELECT COUNT(*) AS v FROM v),
          g AS (SELECT i FROM generate_series(0, 9999) AS s(i)),
          picks AS (
            SELECT 'q' || i AS query_id, 0 AS pr, 'must' AS clause,
              (i % v) + 1 AS rn FROM g, n
            UNION ALL SELECT 'q' || i, 1, 'should', ((i*7+3) % v) + 1 FROM g, n
            UNION ALL SELECT 'q' || i, 2, 'should', ((i*13+5) % v) + 1 FROM g, n
            UNION ALL SELECT 'q' || i, 3, 'must_not', ((i*31+11) % v) + 1 FROM g, n),
          cl0 AS (SELECT query_id, v.term, clause, pr
            FROM picks JOIN v USING (rn)),
          cl AS (SELECT query_id, term, clause FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id, term
                ORDER BY pr) AS rk FROM cl0)
            WHERE rk = 1),
          b AS (SELECT doc_id, term FROM p WHERE doc_id % 20 = 0),
          j AS (SELECT cl.query_id, b.doc_id, cl.clause
            FROM cl JOIN b USING (term)),
          agg AS (SELECT query_id, doc_id,
              COUNT(CASE WHEN clause = 'must' THEN 1 END) AS n_must,
              COUNT(CASE WHEN clause = 'should' THEN 1 END) AS n_should,
              COUNT(CASE WHEN clause = 'must_not' THEN 1 END) AS n_not
            FROM j GROUP BY 1, 2),
          tot AS (SELECT query_id,
              COUNT(CASE WHEN clause = 'must' THEN 1 END) AS m,
              COUNT(CASE WHEN clause = 'should' THEN 1 END) AS s
            FROM cl GROUP BY 1)
          SELECT agg.query_id, agg.doc_id, CAST(agg.n_should AS BIGINT) AS n_should
          FROM agg JOIN tot USING (query_id)
          WHERE n_must = m AND n_not = 0 AND (s = 0 OR n_should >= least(1, s))
          ORDER BY query_id, doc_id""",
    // X237: identical type-7 interpolation arithmetic, spelled out
    "q279_percentiles" ->
      """WITH v AS (SELECT event_type AS key, CAST(value AS DOUBLE) AS v
            FROM events WHERE value IS NOT NULL),
          r AS (SELECT key, v,
              ROW_NUMBER() OVER (PARTITION BY key ORDER BY v) AS rk FROM v),
          c AS (SELECT key, COUNT(*) AS n FROM v GROUP BY key),
          pp(p) AS (VALUES (0.5), (0.9), (0.99)),
          g AS (SELECT key, n, p, CAST(n - 1 AS DOUBLE) * p AS x
            FROM c CROSS JOIN pp),
          g2 AS (SELECT *, CAST(FLOOR(x) AS BIGINT) AS k, x - FLOOR(x) AS f
            FROM g),
          j AS (SELECT g2.key, g2.p, g2.n, lo.v AS lo, hi.v AS hi, g2.f
            FROM g2
            JOIN r lo ON lo.key = g2.key AND lo.rk = g2.k + 1
            LEFT JOIN r hi ON hi.key = g2.key AND hi.rk = g2.k + 2)
          SELECT key, p, n,
            ROUND(lo + f * (COALESCE(hi, lo) - lo), 6) AS value
          FROM j ORDER BY key, p""",
    // X303 moving percentiles: each value fans to its trailing-window
    // target buckets, then the q279 type-7 interpolation per target;
    // spine-joined so empty windows emit null
    "q347_moving_percentiles" ->
      """WITH b AS (SELECT epoch_us(ts) // 3600000000 AS i, COUNT(*) AS n
            FROM events GROUP BY 1),
          mm AS (SELECT MIN(i) AS lo, MAX(i) AS hi FROM b),
          spine AS (SELECT UNNEST(range(mm.lo, mm.hi + 1)) AS i FROM mm),
          f AS (SELECT spine.i, COALESCE(b.n, 0) AS n
            FROM spine LEFT JOIN b USING (i)),
          v AS (SELECT epoch_us(ts) // 3600000000 AS i,
              CAST(value AS DOUBLE) AS v
            FROM events WHERE value IS NOT NULL),
          contrib AS (SELECT t.t AS tb, v.v
            FROM v, mm, LATERAL UNNEST(range(v.i, LEAST(v.i + 3, mm.hi + 1))) AS t(t)),
          r AS (SELECT tb, v,
              ROW_NUMBER() OVER (PARTITION BY tb ORDER BY v) AS rk
            FROM contrib),
          c AS (SELECT tb, COUNT(*) AS n FROM contrib GROUP BY tb),
          pp(p) AS (VALUES (0.5), (0.9)),
          g AS (SELECT tb, n, p, CAST(n - 1 AS DOUBLE) * p AS x
            FROM c CROSS JOIN pp),
          g2 AS (SELECT *, CAST(FLOOR(x) AS BIGINT) AS k, x - FLOOR(x) AS fr
            FROM g),
          j AS (SELECT g2.tb, g2.p, g2.n, lo.v AS lo, hi.v AS hi, g2.fr
            FROM g2
            JOIN r lo ON lo.tb = g2.tb AND lo.rk = g2.k + 1
            LEFT JOIN r hi ON hi.tb = g2.tb AND hi.rk = g2.k + 2),
          pct AS (SELECT tb, p, n AS n_window,
              ROUND(lo + fr * (COALESCE(hi, lo) - lo), 6) AS value
            FROM j)
          SELECT f.i * 3600 AS bucket_start, f.n, pp.p,
            COALESCE(pct.n_window, 0) AS n_window, pct.value
          FROM f CROSS JOIN pp
          LEFT JOIN pct ON pct.tb = f.i AND pct.p = pp.p
          ORDER BY bucket_start, pp.p""",
    // X301/X304 graph serve: the 6-NN digraph spelled relationally,
    // then the beam walk's exact contract — visit the entry's
    // REACHABLE set (recursive CTE), score it, top-10 — so
    // frontier/visited/tie mechanics gate on hashes even if the slice
    // graph is disconnected. q349 = same walk served from the
    // persisted layout; q350 = lazy tombstones (exclusion applies to
    // the final cut ONLY — routing, i.e. the reachable set, unchanged)
    "q345_graph_beam" -> graphBeamSql(),
    "q349_graph_store_serve" -> graphBeamSql(),
    "q350_graph_store_delete" -> graphBeamSql(exclude = Seq(0L, 7L)),
    // X299 MaxSim: per (doc, token) the MAX cosine over the doc's
    // chunks (the q34 correlated-unnest dot), then the round-6 decimal
    // sum across tokens — order-free on both sides by construction
    "q344_maxsim" ->
      """WITH qt AS (SELECT vec_id AS tok, embedding AS qv,
           sqrt((SELECT SUM(CAST(y AS DOUBLE)*CAST(y AS DOUBLE))
                 FROM unnest(embedding) AS t(y))) AS qmag
           FROM embeddings WHERE vec_id < 4),
         pertok AS (SELECT e.vec_id % 50 AS doc_key, qt.tok,
             MAX((SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
                  FROM LATERAL (SELECT unnest(e.embedding) AS x,
                                       unnest(qt.qv) AS y) z) /
                 (sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE))
                        FROM unnest(e.embedding) AS t(x))) * qt.qmag
                  + 1e-12)) AS m
           FROM embeddings e CROSS JOIN qt
           GROUP BY 1, 2),
         agg AS (SELECT doc_key,
             CAST(SUM(CAST(ROUND(m, 6) AS DECIMAL(20,6))) AS DOUBLE) AS maxsim
           FROM pertok GROUP BY doc_key)
         SELECT doc_key, maxsim FROM agg
         ORDER BY maxsim DESC, doc_key ASC LIMIT 10""",
    // X298: the same derived ips as numbers (malformed classes -> NULL,
    // matching the strict parser), bounds spelled as octet arithmetic
    "q343_ip_range" ->
      """WITH ips AS (SELECT CASE
            WHEN event_id % 97 = 0 OR event_id % 89 = 0 THEN NULL
            ELSE 10 * 16777216 + ((event_id // 65536) % 256) * 65536
              + ((event_id // 256) % 256) * 256 + event_id % 256 END AS v
          FROM events)
          SELECT * FROM (
            SELECT '10.0.0.0-10.0.128.0' AS key, COUNT(CASE WHEN
                v >= 10 * 16777216 AND v < 10 * 16777216 + 128 * 256
              THEN 1 END) AS doc_count FROM ips
            UNION ALL SELECT '10.0.128.0-*', COUNT(CASE WHEN
                v >= 10 * 16777216 + 128 * 256 THEN 1 END) FROM ips
            UNION ALL SELECT '*-10.0.0.64', COUNT(CASE WHEN
                v < 10 * 16777216 + 64 THEN 1 END) FROM ips
            UNION ALL SELECT '10.0.0.32-10.0.192.0', COUNT(CASE WHEN
                v >= 10 * 16777216 + 32
                AND v < 10 * 16777216 + 192 * 256 THEN 1 END) FROM ips
            UNION ALL SELECT '11.0.0.0-12.0.0.0', COUNT(CASE WHEN
                v >= 11 * 16777216 AND v < 12 * 16777216 THEN 1 END)
              FROM ips)
          ORDER BY key""",
    // X296: the argmax row per bucket — ROW_NUMBER over the same total
    // order (sort desc, tiebreak desc), null sorts skipped
    "q342_top_metrics" ->
      """WITH f AS (SELECT lang AS key, n_chars, source, doc_id
            FROM documents WHERE n_chars IS NOT NULL),
          r AS (SELECT key, n_chars, source, doc_id,
              ROW_NUMBER() OVER (PARTITION BY key
                ORDER BY n_chars DESC, doc_id DESC) AS rk FROM f),
          c AS (SELECT key, COUNT(*) AS doc_count FROM f GROUP BY 1)
          SELECT c.key, c.doc_count, r.n_chars AS top_chars,
            r.source AS top_source, r.doc_id AS top_doc
          FROM c JOIN r ON r.key = c.key AND r.rk = 1
          ORDER BY c.key""",
    // X295: the six ES normalize methods over one stats row — every
    // divisor a round-6 decimal sum, degenerate series pinned to 0
    "q341_normalize" ->
      """WITH b AS (SELECT date_trunc('day', ts) AS bucket_start,
              COUNT(*) AS n FROM events GROUP BY 1),
          v AS (SELECT bucket_start, n, ln(CAST(n AS DOUBLE)) AS x FROM b),
          st AS (SELECT MIN(x) AS mn, MAX(x) AS mx,
              CAST(SUM(CAST(ROUND(x, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s,
              COUNT(*) AS c,
              CAST(SUM(CAST(ROUND(x*x, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s2,
              CAST(SUM(CAST(ROUND(exp(x), 6) AS DECIMAL(38,6))) AS DOUBLE) AS es
            FROM v)
          SELECT method, bucket_start, n, normalized FROM (
            SELECT 'rescale_0_1' AS method, bucket_start, n,
              ROUND(CASE WHEN mx - mn = 0 THEN 0.0
                ELSE (x - mn) / (mx - mn) END, 6) AS normalized FROM v, st
            UNION ALL SELECT 'rescale_0_100', bucket_start, n,
              ROUND(CASE WHEN mx - mn = 0 THEN 0.0
                ELSE 100.0 * (x - mn) / (mx - mn) END, 6) FROM v, st
            UNION ALL SELECT 'percent_of_sum', bucket_start, n,
              ROUND(CASE WHEN s = 0 THEN 0.0
                ELSE 100.0 * x / s END, 6) FROM v, st
            UNION ALL SELECT 'mean', bucket_start, n,
              ROUND(CASE WHEN mx - mn = 0 THEN 0.0
                ELSE (x - s / CAST(c AS DOUBLE)) / (mx - mn) END, 6) FROM v, st
            UNION ALL SELECT 'zscore', bucket_start, n,
              ROUND(CASE WHEN sqrt(GREATEST(s2 / CAST(c AS DOUBLE)
                  - (s / CAST(c AS DOUBLE)) * (s / CAST(c AS DOUBLE)), 0.0)) = 0
                THEN 0.0
                ELSE (x - s / CAST(c AS DOUBLE))
                  / sqrt(GREATEST(s2 / CAST(c AS DOUBLE)
                    - (s / CAST(c AS DOUBLE)) * (s / CAST(c AS DOUBLE)), 0.0))
                END, 6) FROM v, st
            UNION ALL SELECT 'softmax', bucket_start, n,
              ROUND(exp(x) / es, 6) FROM v, st)
          ORDER BY method, bucket_start""",
    // X291: length panel + per-char round-6 decimal-summed -p*log2(p);
    // the single-char key pins to exact 0 on both sides
    "q337_string_stats" ->
      """WITH s AS (SELECT lang AS key, text AS t FROM documents
            WHERE text IS NOT NULL),
          l AS (SELECT key, COUNT(*) AS count,
              CAST(MIN(len(t)) AS BIGINT) AS min_length,
              CAST(MAX(len(t)) AS BIGINT) AS max_length,
              SUM(len(t)) AS sl
            FROM s GROUP BY key),
          ch AS (SELECT key, u.c AS ch, COUNT(*) AS cnt
            FROM s, UNNEST(string_split(t, '')) AS u(c)
            WHERE u.c <> '' GROUP BY 1, 2),
          tt AS (SELECT key, SUM(cnt) AS tot FROM ch GROUP BY key),
          e AS (SELECT ch.key, SUM(CAST(CASE WHEN cnt = tot THEN 0.0
              ELSE ROUND(-(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE))
                * log2(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE)), 6) END
              AS DECIMAL(38,6))) AS ent
            FROM ch JOIN tt USING (key) GROUP BY 1)
          SELECT l.key, count, min_length, max_length,
            ROUND(CAST(sl AS DOUBLE) / CAST(count AS DOUBLE), 6) AS avg_length,
            CAST(e.ent AS DOUBLE) AS entropy
          FROM l JOIN e USING (key) ORDER BY key""",
    // X292: the q279 interpolation at p in {.25, .5, .75} pivoted,
    // min/max joined back
    "q338_boxplot" ->
      """WITH v AS (SELECT event_type AS key, CAST(value AS DOUBLE) AS v
            FROM events WHERE value IS NOT NULL),
          r AS (SELECT key, v,
              ROW_NUMBER() OVER (PARTITION BY key ORDER BY v) AS rk FROM v),
          c AS (SELECT key, COUNT(*) AS n FROM v GROUP BY key),
          pp(p) AS (VALUES (0.25), (0.5), (0.75)),
          g2 AS (SELECT key, n, p, CAST(FLOOR(CAST(n - 1 AS DOUBLE) * p) AS BIGINT) AS k,
              CAST(n - 1 AS DOUBLE) * p - FLOOR(CAST(n - 1 AS DOUBLE) * p) AS f
            FROM c CROSS JOIN pp),
          j AS (SELECT g2.key, g2.p, g2.n,
              ROUND(lo.v + g2.f * (COALESCE(hi.v, lo.v) - lo.v), 6) AS q
            FROM g2
            JOIN r lo ON lo.key = g2.key AND lo.rk = g2.k + 1
            LEFT JOIN r hi ON hi.key = g2.key AND hi.rk = g2.k + 2),
          piv AS (SELECT key, MAX(n) AS n,
              MAX(CASE WHEN p = 0.25 THEN q END) AS q1,
              MAX(CASE WHEN p = 0.5 THEN q END) AS q2,
              MAX(CASE WHEN p = 0.75 THEN q END) AS q3
            FROM j GROUP BY key),
          mm AS (SELECT key, ROUND(MIN(v), 6) AS min_value,
              ROUND(MAX(v), 6) AS max_value FROM v GROUP BY key)
          SELECT piv.key, n, min_value, q1, q2, q3, max_value
          FROM piv JOIN mm USING (key) ORDER BY key""",
    // X293: median from the q279 formula (round-6, the published
    // number), deviations against it, one more interpolation
    "q339_mad" ->
      """WITH v AS (SELECT event_type AS key, CAST(value AS DOUBLE) AS v
            FROM events WHERE value IS NOT NULL),
          r AS (SELECT key, v,
              ROW_NUMBER() OVER (PARTITION BY key ORDER BY v) AS rk FROM v),
          c AS (SELECT key, COUNT(*) AS n FROM v GROUP BY key),
          g2 AS (SELECT key, n, CAST(FLOOR(CAST(n - 1 AS DOUBLE) * 0.5) AS BIGINT) AS k,
              CAST(n - 1 AS DOUBLE) * 0.5 - FLOOR(CAST(n - 1 AS DOUBLE) * 0.5) AS f
            FROM c),
          med AS (SELECT g2.key,
              ROUND(lo.v + g2.f * (COALESCE(hi.v, lo.v) - lo.v), 6) AS median
            FROM g2
            JOIN r lo ON lo.key = g2.key AND lo.rk = g2.k + 1
            LEFT JOIN r hi ON hi.key = g2.key AND hi.rk = g2.k + 2),
          d AS (SELECT v.key, ABS(v.v - med.median) AS dv
            FROM v JOIN med USING (key)),
          r2 AS (SELECT key, dv,
              ROW_NUMBER() OVER (PARTITION BY key ORDER BY dv) AS rk FROM d),
          c2 AS (SELECT key, COUNT(*) AS n FROM d GROUP BY key),
          g3 AS (SELECT key, n, CAST(FLOOR(CAST(n - 1 AS DOUBLE) * 0.5) AS BIGINT) AS k,
              CAST(n - 1 AS DOUBLE) * 0.5 - FLOOR(CAST(n - 1 AS DOUBLE) * 0.5) AS f
            FROM c2),
          mad AS (SELECT g3.key, g3.n,
              ROUND(lo.dv + g3.f * (COALESCE(hi.dv, lo.dv) - lo.dv), 6) AS mad
            FROM g3
            JOIN r2 lo ON lo.key = g3.key AND lo.rk = g3.k + 1
            LEFT JOIN r2 hi ON hi.key = g3.key AND hi.rk = g3.k + 2)
          SELECT mad.key, mad.n, med.median, mad.mad
          FROM mad JOIN med USING (key) ORDER BY key""",
    // X236: integer bucket indexes (no double rounding at boundaries),
    // generate_series spine, the same three window metrics
    "q280_bucket_pipeline" ->
      """WITH b AS (SELECT epoch_us(ts) // 3600000000 AS i, COUNT(*) AS n
            FROM events GROUP BY 1),
          mm AS (SELECT MIN(i) AS lo, MAX(i) AS hi FROM b),
          spine AS (SELECT UNNEST(range(mm.lo, mm.hi + 1)) AS i FROM mm),
          f AS (SELECT spine.i, COALESCE(b.n, 0) AS n
            FROM spine LEFT JOIN b USING (i)),
          w AS (SELECT i, n,
              CAST(SUM(n) OVER (ORDER BY i
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_n,
              n - LAG(n, 1) OVER (ORDER BY i) AS derivative,
              ROUND(AVG(n) OVER (ORDER BY i
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS moving_avg
            FROM f)
          SELECT i * 3600 AS bucket_start, n, cum_n, derivative, moving_avg
          FROM w ORDER BY bucket_start""",
    // X212 hot path: the q256 chain with a one-document batch
    "q278_percolate_point" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
          p AS (SELECT DISTINCT doc_id, u.t AS term
            FROM t, UNNEST(tk) AS u(t) WHERE u.t <> ''),
          v AS (SELECT term,
              ROW_NUMBER() OVER (ORDER BY COUNT(DISTINCT doc_id) DESC, term) AS rn
            FROM p GROUP BY term),
          n AS (SELECT COUNT(*) AS v FROM v),
          g AS (SELECT i FROM generate_series(0, 9999) AS s(i)),
          picks AS (
            SELECT 'q' || i AS query_id, 0 AS pr, 'must' AS clause,
              (i % v) + 1 AS rn FROM g, n
            UNION ALL SELECT 'q' || i, 1, 'should', ((i*7+3) % v) + 1 FROM g, n
            UNION ALL SELECT 'q' || i, 2, 'should', ((i*13+5) % v) + 1 FROM g, n
            UNION ALL SELECT 'q' || i, 3, 'must_not', ((i*31+11) % v) + 1 FROM g, n),
          cl0 AS (SELECT query_id, v.term, clause, pr
            FROM picks JOIN v USING (rn)),
          cl AS (SELECT query_id, term, clause FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id, term
                ORDER BY pr) AS rk FROM cl0)
            WHERE rk = 1),
          b AS (SELECT doc_id, term FROM p WHERE doc_id = 40),
          j AS (SELECT cl.query_id, b.doc_id, cl.clause
            FROM cl JOIN b USING (term)),
          agg AS (SELECT query_id, doc_id,
              COUNT(CASE WHEN clause = 'must' THEN 1 END) AS n_must,
              COUNT(CASE WHEN clause = 'should' THEN 1 END) AS n_should,
              COUNT(CASE WHEN clause = 'must_not' THEN 1 END) AS n_not
            FROM j GROUP BY 1, 2),
          tot AS (SELECT query_id,
              COUNT(CASE WHEN clause = 'must' THEN 1 END) AS m,
              COUNT(CASE WHEN clause = 'should' THEN 1 END) AS s
            FROM cl GROUP BY 1)
          SELECT agg.query_id, agg.doc_id, CAST(agg.n_should AS BIGINT) AS n_should
          FROM agg JOIN tot USING (query_id)
          WHERE n_must = m AND n_not = 0 AND (s = 0 OR n_should >= least(1, s))
          ORDER BY query_id""",
    // the q269 oracle: the q256 generated-store chain with the
    // lifecycle applied in SQL — every 20th stored query deleted, the
    // 100 appended single-must alerts unioned in — then the same
    // percolation over the SURVIVING clause table
    "q269_qstore_lifecycle" -> qstoreLifecycleSql,
    "q252_percolate" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents
            WHERE doc_id % 10 = 0),
          p AS (SELECT DISTINCT doc_id, u.t AS term
            FROM t, UNNEST(tk) AS u(t) WHERE u.t <> ''),
          cl(query_id, term, clause) AS (VALUES
            ('qa', 'sort', 'must'), ('qa', 'merge', 'must'),
            ('qa', 'spark', 'should'), ('qa', 'join', 'should'),
            ('qa', 'bubble', 'must_not'),
            ('qb', 'scan', 'must'), ('qb', 'filter', 'should'),
            ('qc', 'data', 'should'), ('qc', 'big', 'should')),
          j AS (SELECT cl.query_id, p.doc_id, cl.clause
            FROM cl JOIN p USING (term)),
          agg AS (SELECT query_id, doc_id,
              COUNT(CASE WHEN clause = 'must' THEN 1 END) AS n_must,
              COUNT(CASE WHEN clause = 'should' THEN 1 END) AS n_should,
              COUNT(CASE WHEN clause = 'must_not' THEN 1 END) AS n_not
            FROM j GROUP BY 1, 2),
          tot AS (SELECT query_id,
              COUNT(CASE WHEN clause = 'must' THEN 1 END) AS m,
              COUNT(CASE WHEN clause = 'should' THEN 1 END) AS s
            FROM cl GROUP BY 1)
          SELECT agg.query_id, agg.doc_id, CAST(n_should AS BIGINT) AS n_should
          FROM agg JOIN tot USING (query_id)
          WHERE n_must = m AND n_not = 0
            AND (s = 0 OR n_should >= least(1, s))
          ORDER BY query_id, doc_id""",
    "q251_prf_expand" -> {
      val (k1, b, fbDocs, fbTerms, k) = (1.2, 0.75, 5, 5, 20)
      val k1p = (k1 + 1.0).toString
      val orig = Seq("sort", "merge", "spark")
      val origList = orig.map(t => s"'$t'").mkString(", ")
      val origUnion = orig.map(t => s"SELECT '$t' AS term").mkString(" UNION ALL ")
      s"""WITH seedr AS (${bm25SqlOver(orig, "documents", toksSql, topN = fbDocs)}),
          pd AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl, tk
            FROM (SELECT doc_id, list_filter($toksSql, x -> x <> '') AS tk
                  FROM documents)
            WHERE len(tk) > 0),
          st AS (SELECT COUNT(*) AS n_docs,
              CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM pd),
          ftf AS (SELECT u.t AS term, CAST(COUNT(*) AS BIGINT) AS ftf
            FROM pd JOIN seedr USING (doc_id), UNNEST(tk) AS u(t)
            GROUP BY 1),
          alldf AS (SELECT u.t AS term, COUNT(DISTINCT doc_id) AS df
            FROM pd, UNNEST(tk) AS u(t) GROUP BY 1),
          expd AS (SELECT term FROM (
              SELECT f.term,
                ROUND(CAST(f.ftf AS DOUBLE)
                  * LN(1.0 + (CAST(st.n_docs AS DOUBLE) - CAST(a.df AS DOUBLE) + 0.5)
                       / (CAST(a.df AS DOUBLE) + 0.5)), 6) AS w
              FROM ftf f JOIN alldf a USING (term) CROSS JOIN st
              WHERE f.term NOT IN ($origList))
            ORDER BY w DESC, term ASC LIMIT $fbTerms),
          allt AS ($origUnion UNION ALL SELECT term FROM expd),
          tfs AS (SELECT pd.doc_id, pd.dl, allt.term,
              CAST(len(list_filter(pd.tk, x -> x = allt.term)) AS BIGINT) AS tf
            FROM pd CROSS JOIN allt),
          dfs AS (SELECT term, COUNT(CASE WHEN tf > 0 THEN 1 END) AS df
            FROM tfs GROUP BY 1),
          partials AS (SELECT tfs.doc_id, tfs.dl,
              ROUND(LN(1.0 + (CAST(st.n_docs AS DOUBLE) - CAST(dfs.df AS DOUBLE) + 0.5)
                   / (CAST(dfs.df AS DOUBLE) + 0.5))
                 * CAST(tfs.tf AS DOUBLE) * CAST($k1p AS DOUBLE)
                 / (CAST(tfs.tf AS DOUBLE) + CAST($k1 AS DOUBLE) * ((1.0 - CAST($b AS DOUBLE))
                    + (CAST($b AS DOUBLE) * CAST(tfs.dl AS DOUBLE)) / st.avgdl)), 6) AS pp
            FROM tfs JOIN dfs USING (term) CROSS JOIN st),
          sc AS (SELECT doc_id, MAX(dl) AS dl, SUM(pp) AS score
            FROM partials GROUP BY 1)
          SELECT doc_id, dl, ROUND(score, 6) AS score FROM sc
          WHERE score > 0 ORDER BY score DESC, doc_id ASC LIMIT $k"""
    },
    "q250_more_like_this" -> {
      val (k1, b, seed, topT, k) = (1.2, 0.75, 7, 10, 15)
      val k1p = (k1 + 1.0).toString
      s"""WITH pd AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl, tk
            FROM (SELECT doc_id, list_filter($toksSql, x -> x <> '') AS tk
                  FROM documents)
            WHERE len(tk) > 0),
          st AS (SELECT COUNT(*) AS n_docs,
              CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM pd),
          seedtf AS (SELECT u.t AS term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM (SELECT tk FROM pd WHERE doc_id = $seed), UNNEST(tk) AS u(t)
            GROUP BY 1),
          alldf AS (SELECT u.t AS term, COUNT(DISTINCT doc_id) AS df
            FROM pd, UNNEST(tk) AS u(t) GROUP BY 1),
          sel AS (SELECT term FROM (
              SELECT s.term,
                ROUND(CAST(s.tf AS DOUBLE)
                  * LN(1.0 + (CAST(st.n_docs AS DOUBLE) - CAST(a.df AS DOUBLE) + 0.5)
                       / (CAST(a.df AS DOUBLE) + 0.5)), 6) AS w
              FROM seedtf s JOIN alldf a USING (term) CROSS JOIN st)
            ORDER BY w DESC, term ASC LIMIT $topT),
          tfs AS (SELECT pd.doc_id, pd.dl, sel.term,
              CAST(len(list_filter(pd.tk, x -> x = sel.term)) AS BIGINT) AS tf
            FROM pd CROSS JOIN sel),
          dfs AS (SELECT term, COUNT(CASE WHEN tf > 0 THEN 1 END) AS df
            FROM tfs GROUP BY 1),
          partials AS (SELECT tfs.doc_id, tfs.dl,
              ROUND(LN(1.0 + (CAST(st.n_docs AS DOUBLE) - CAST(dfs.df AS DOUBLE) + 0.5)
                   / (CAST(dfs.df AS DOUBLE) + 0.5))
                 * CAST(tfs.tf AS DOUBLE) * CAST($k1p AS DOUBLE)
                 / (CAST(tfs.tf AS DOUBLE) + CAST($k1 AS DOUBLE) * ((1.0 - CAST($b AS DOUBLE))
                    + (CAST($b AS DOUBLE) * CAST(tfs.dl AS DOUBLE)) / st.avgdl)), 6) AS pp
            FROM tfs JOIN dfs USING (term) CROSS JOIN st),
          sc AS (SELECT doc_id, MAX(dl) AS dl, SUM(pp) AS score
            FROM partials GROUP BY 1)
          SELECT doc_id, dl, ROUND(score, 6) AS score FROM sc
          WHERE score > 0 AND doc_id <> $seed
          ORDER BY score DESC, doc_id ASC LIMIT $k"""
    },
    "q249_pq_refined" ->
      ivfPqSearchSqlOver("embeddings", refined = Some((10, 3))),
    "q248_pruned_serve" -> {
      val terms = Seq("sort", "merge", "spark")
      val (k1, b, keep) = (1.2, 0.75, 50)
      val k1p = (k1 + 1.0).toString
      val tfCols = terms.zipWithIndex.map { case (t, i) =>
        s"len(list_filter(tk, x -> x = '$t')) AS tf$i" }.mkString(", ")
      val rkCols = terms.indices.map(i =>
        s"ROW_NUMBER() OVER (ORDER BY tf$i DESC, doc_id ASC) AS rk$i")
        .mkString(", ")
      // survivor-gated tf: a doc outside term i's kept list contributes
      // no tf_i (the pruned layout simply lacks the posting)
      val tfpCols = terms.indices.map(i =>
        s"CASE WHEN rk$i <= $keep THEN tf$i ELSE 0 END AS tfp$i").mkString(", ")
      val dfCols = terms.indices.map(i =>
        s"COUNT(CASE WHEN tf$i > 0 THEN 1 END) AS df$i").mkString(", ")
      val partial = terms.indices.map { i =>
        s"""ROUND(LN(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5)
             / (CAST(df$i AS DOUBLE) + 0.5))
           * CAST(tfp$i AS DOUBLE) * CAST($k1p AS DOUBLE)
           / (CAST(tfp$i AS DOUBLE) + CAST($k1 AS DOUBLE) * ((1.0 - CAST($b AS DOUBLE))
              + (CAST($b AS DOUBLE) * CAST(dl AS DOUBLE)) / avgdl)), 6)"""
      }.mkString(" + ")
      s"""WITH pd AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl, $tfCols
            FROM (SELECT doc_id, list_filter($toksSql, x -> x <> '') AS tk
                  FROM documents)
            WHERE len(tk) > 0),
          rk AS (SELECT pd.*, $rkCols FROM pd),
          sv AS (SELECT doc_id, dl, $tfpCols FROM rk),
          st AS (SELECT COUNT(*) AS n_docs,
              CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, $dfCols FROM pd),
          sc AS (SELECT sv.doc_id, sv.dl, $partial AS score
            FROM sv CROSS JOIN st)
          SELECT doc_id, dl, ROUND(score, 6) AS score FROM sc
          WHERE score > 0 ORDER BY score DESC, doc_id ASC LIMIT 20"""
    },
    "q247_script_langid" -> {
      val hit: Map[String, String] = TextAnalysis.stopwords.map { case (lang, ws) =>
        val inList = ws.map(w => s"'$w'").mkString(",")
        lang -> s"len(list_filter($toksSql, t -> t IN ($inList)))"
      }
      val langs = TextAnalysis.stopwords.keys.toSeq.sorted
      val greatest = s"greatest(${langs.map(hit).mkString(", ")})"
      val cases = langs.map(l => s"WHEN ${hit(l)} = __g THEN '$l'").mkString(" ")
      val han = "[\\x{3400}-\\x{4DBF}\\x{4E00}-\\x{9FFF}\\x{F900}-\\x{FAFF}]"
      val kana = "[\\x{3040}-\\x{30FF}]"
      val thai = "[\\x{0E00}-\\x{0E7F}]"
      val latin = "[A-Za-z]"
      def n(re: String) =
        s"(length(text) - length(regexp_replace(text, '$re', '', 'g')))"
      s"""WITH g AS (SELECT doc_id, text, $greatest AS __g FROM $mixedSqlFrom),
          v AS (SELECT doc_id, text,
              CASE WHEN __g = 0 THEN 'und' $cases END AS voted FROM g)
          SELECT doc_id,
            CAST(length(text) AS BIGINT) AS n_chars_total,
            CAST(${n(han)} AS BIGINT) AS n_han,
            CAST(${n(kana)} AS BIGINT) AS n_kana,
            CAST(${n(thai)} AS BIGINT) AS n_thai,
            CAST(${n(latin)} AS BIGINT) AS n_latin,
            CASE WHEN voted = 'und' THEN
              CASE WHEN ${n(kana)} > 0 THEN 'ja'
                   WHEN ${n(han)} > 0 THEN 'zh'
                   WHEN ${n(thai)} > 0 THEN 'th'
                   ELSE 'und' END
            ELSE voted END AS lang_pred
          FROM v ORDER BY doc_id"""
    },
    "q239_unicode_vocab" ->
      s"""WITH p AS (SELECT doc_id, u.t AS term
            FROM (SELECT doc_id, $uToksSql AS tk FROM $mixedSqlFrom),
              UNNEST(tk) AS u(t)
            WHERE u.t <> '' AND regexp_matches(u.t, '${TextAnalysis.UnsegReSql}'))
          SELECT term, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS cf
          FROM p GROUP BY 1 ORDER BY term""",
    "q240_unicode_bm25" ->
      bm25SqlOver(Seq("機", "習", "sort"), mixedSqlFrom, uToksSql),
    "q254_bigram_bm25" ->
      bm25SqlOver(Seq("機械", "学習", "sort"), mixedSqlFrom, bToksSql),
    "q241_unicode_shingles" -> {
      val uShingle3 =
        s"""list_transform(range(0, len($uToksSql) - 2),
            i -> list_extract($uToksSql, CAST(i+1 AS INT)) || ' ' ||
                 list_extract($uToksSql, CAST(i+2 AS INT)) || ' ' ||
                 list_extract($uToksSql, CAST(i+3 AS INT)))"""
      s"""WITH s AS (SELECT doc_id, list_distinct($uShingle3) AS sh
            FROM $mixedSqlFrom)
          SELECT a.doc_id AS id1, b.doc_id AS id2,
            ROUND(CASE WHEN len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) = 0 THEN 0.0
              ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                   CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) END, 6) AS jaccard
          FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
          ORDER BY id1"""
    },
    "q242_hot_term_skip" ->
      bm25SqlOver(Seq("sort", "merge", "spark"), "documents", toksSql,
        hotFrac = Some(0.78)),
    "q244_ql_batch" -> {
      val mu = "2000.0"
      s"""WITH pd AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl, tk
            FROM (SELECT doc_id, list_filter($toksSql, x -> x <> '') AS tk
                  FROM documents)
            WHERE len(tk) > 0),
          st AS (SELECT CAST(SUM(dl) AS BIGINT) AS c FROM pd),
          qq(query_id, term) AS (VALUES
            ('qa', 'sort'), ('qa', 'merge'),
            ('qb', 'spark'), ('qb', 'merge'),
            ('qc', 'join'), ('qc', 'zzznotaword')),
          v AS (SELECT DISTINCT term FROM qq),
          tfall AS (SELECT pd.doc_id, pd.dl, v.term,
              CAST(len(list_filter(pd.tk, x -> x = v.term)) AS BIGINT) AS tf
            FROM pd CROSS JOIN v),
          cfs AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cf
            FROM tfall GROUP BY 1),
          cand AS (SELECT DISTINCT qq.query_id, tfall.doc_id
            FROM qq JOIN tfall USING (term) WHERE tfall.tf > 0),
          partials AS (SELECT cand.query_id, cand.doc_id,
              CASE WHEN cfs.cf > 0 THEN
                ROUND(LN((CAST(t2.tf AS DOUBLE)
                    + CAST($mu AS DOUBLE) * CAST(cfs.cf AS DOUBLE) / CAST(st.c AS DOUBLE))
                  / (CAST(t2.dl AS DOUBLE) + CAST($mu AS DOUBLE))), 6)
              ELSE 0.0 END AS pp
            FROM cand JOIN qq USING (query_id)
            JOIN tfall t2 ON t2.doc_id = cand.doc_id AND t2.term = qq.term
            JOIN cfs ON cfs.term = qq.term CROSS JOIN st),
          sc AS (SELECT query_id, doc_id,
              ROUND(CAST(SUM(CAST(pp AS DECIMAL(38, 6))) AS DOUBLE), 6) AS score
            FROM partials GROUP BY 1, 2),
          r AS (SELECT query_id, doc_id, score,
              CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY score DESC, doc_id ASC) AS INT) AS rank
            FROM sc)
          SELECT query_id, doc_id, score, rank FROM r
          WHERE rank <= 5 ORDER BY query_id, rank"""
    },
    "q245_boolean_batch" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
          p AS (SELECT DISTINCT doc_id, u.t AS term
            FROM t, UNNEST(tk) AS u(t) WHERE u.t <> ''),
          cl(query_id, term, clause) AS (VALUES
            ('qa', 'sort', 'must'), ('qa', 'merge', 'must'),
            ('qa', 'spark', 'should'), ('qa', 'join', 'should'),
            ('qa', 'bubble', 'must_not'),
            ('qb', 'scan', 'must'), ('qb', 'filter', 'should'),
            ('qc', 'data', 'should'), ('qc', 'big', 'should')),
          j AS (SELECT cl.query_id, p.doc_id, cl.clause
            FROM cl JOIN p USING (term)),
          agg AS (SELECT query_id, doc_id,
              COUNT(CASE WHEN clause = 'must' THEN 1 END) AS n_must,
              COUNT(CASE WHEN clause = 'should' THEN 1 END) AS n_should,
              COUNT(CASE WHEN clause = 'must_not' THEN 1 END) AS n_not
            FROM j GROUP BY 1, 2),
          tot AS (SELECT query_id,
              COUNT(CASE WHEN clause = 'must' THEN 1 END) AS m,
              COUNT(CASE WHEN clause = 'should' THEN 1 END) AS s
            FROM cl GROUP BY 1)
          SELECT agg.query_id, agg.doc_id, CAST(n_should AS BIGINT) AS n_should
          FROM agg JOIN tot USING (query_id)
          WHERE n_must = m AND n_not = 0
            AND (s = 0 OR n_should >= least(1, s))
          ORDER BY query_id, doc_id""",
    "q243_serving_dedup" ->
      // the q228 pipeline with the q233 fingerprint collapse threaded
      // between the fuse and the snippet leg: best-ranked survivor per
      // content fingerprint, snippets only for survivors
      s"""$servingStackCtes,
          fp AS (SELECT doc_id, substr(md5($mdNorm), 1, 16) AS fp
            FROM documents),
          hj AS (SELECT hits.vec_id AS doc_id, hits.r0, hits.r1,
              hits.rrf AS score, fp.fp
            FROM hits JOIN fp ON fp.doc_id = hits.vec_id),
          dd AS (SELECT doc_id, r0, r1, score, fp,
              ROW_NUMBER() OVER (PARTITION BY fp
                ORDER BY score DESC, doc_id ASC) AS rn
            FROM hj),
          surv AS (SELECT doc_id, r0, r1, score, fp FROM dd WHERE rn = 1
            ORDER BY score DESC, doc_id ASC LIMIT 10),
          tt AS (SELECT d.doc_id, $toksSql AS tk
            FROM documents d JOIN surv ON d.doc_id = surv.doc_id),
          h AS (SELECT t.doc_id, CAST(u.i AS INT) AS pos
            FROM tt t, UNNEST(range(len(t.tk))) AS u(i)
            WHERE t.tk[CAST(u.i + 1 AS INT)] IN (SELECT term FROM corr)),
          candw AS (SELECT a.doc_id, a.pos, COUNT(*) AS cnt
            FROM h a JOIN h b ON b.doc_id = a.doc_id
              AND b.pos >= a.pos AND b.pos <= a.pos + 8
            GROUP BY 1, 2),
          best AS (SELECT doc_id, pos, cnt,
              ROW_NUMBER() OVER (PARTITION BY doc_id
                ORDER BY cnt DESC, pos ASC) AS rn
            FROM candw)
          SELECT surv.doc_id, surv.r0, surv.r1, surv.score, surv.fp,
            CAST(b.pos AS INT) AS snippet_start,
            CAST(b.cnt AS INT) AS n_hits,
            array_to_string(t.tk[b.pos + 1 : b.pos + 9], ' ') AS snippet
          FROM surv
          LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.doc_id = surv.doc_id
          LEFT JOIN tt t ON t.doc_id = surv.doc_id
          ORDER BY surv.doc_id""",
    "q213_inverted_index" -> phraseMatchSql,
    "q118_bm25" -> bm25Sql(),
    "q214_index_bm25" -> bm25Sql(),
    // X238: merge(evens, odds) must be invisible — q214's oracle verbatim
    "q281_index_merge" -> bm25Sql(),
    // X211 gate: the MaxScore serve must be indistinguishable from the
    // plain q214 serve — same oracle text verbatim
    "q255_maxscore_bm25" -> bm25Sql(),
    "q238_sql_served_bm25" -> bm25Sql(),
    "q217_index_delete" -> bm25Sql(where = "WHERE doc_id % 7 <> 0"),
    "q246_live_sql_delete" -> bm25Sql(where = "WHERE doc_id % 7 <> 0"),
    "q220_inverted_lifecycle" -> bm25Sql(where = "WHERE doc_id % 7 <> 0"),
    "q223_fuzzy_suggest" -> fuzzySuggestSql,
    "q224_index_fuzzy" -> fuzzySuggestSql,
    "q230_census_lifecycle" ->
      fuzzySuggestSqlWhere(where = "WHERE doc_id % 7 <> 0"),
    "q234_lm_remove" -> stupidBackoffSqlRef("doc_id % 7 <> 0"),
    "q236_bm25_batch" -> {
      val (k1, b) = (1.2, 0.75)
      val k1p = (k1 + 1.0).toString
      s"""WITH pd AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl, tk
            FROM (SELECT doc_id, list_filter($toksSql, x -> x <> '') AS tk
                  FROM documents)
            WHERE len(tk) > 0),
          st AS (SELECT COUNT(*) AS n_docs,
              CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM pd),
          qq(query_id, term) AS (VALUES
            ('qa', 'sort'), ('qa', 'merge'),
            ('qb', 'spark'), ('qb', 'merge'),
            ('qc', 'join')),
          tfpos AS (SELECT pd.doc_id, pd.dl, v.term,
              CAST(len(list_filter(pd.tk, x -> x = v.term)) AS BIGINT) AS tf
            FROM pd CROSS JOIN (SELECT DISTINCT term FROM qq) v
            WHERE len(list_filter(pd.tk, x -> x = v.term)) > 0),
          dfs AS (SELECT term, COUNT(*) AS df FROM tfpos GROUP BY 1),
          partials AS (SELECT qq.query_id, tfpos.doc_id,
              ROUND(LN(1.0 + (CAST(st.n_docs AS DOUBLE) - CAST(dfs.df AS DOUBLE) + 0.5)
                   / (CAST(dfs.df AS DOUBLE) + 0.5))
                 * CAST(tfpos.tf AS DOUBLE) * CAST($k1p AS DOUBLE)
                 / (CAST(tfpos.tf AS DOUBLE) + CAST($k1 AS DOUBLE) * ((1.0 - CAST($b AS DOUBLE))
                    + (CAST($b AS DOUBLE) * CAST(tfpos.dl AS DOUBLE)) / st.avgdl)), 6) AS pp
            FROM qq JOIN tfpos USING (term) JOIN dfs USING (term) CROSS JOIN st),
          sc AS (SELECT query_id, doc_id,
              ROUND(CAST(SUM(CAST(pp AS DECIMAL(38, 6))) AS DOUBLE), 6) AS score
            FROM partials GROUP BY 1, 2),
          r AS (SELECT query_id, doc_id, score,
              CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY score DESC, doc_id ASC) AS INT) AS rank
            FROM sc WHERE score > 0)
          SELECT query_id, doc_id, score, rank FROM r
          WHERE rank <= 5 ORDER BY query_id, rank"""
    },
    "q237_ql_rank" -> {
      val terms = Seq("sort", "merge", "spark")
      val mu = "2000.0"
      val tfCols = terms.zipWithIndex.map { case (t, i) =>
        s"CAST(len(list_filter(tk, x -> x = '$t')) AS BIGINT) AS tf$i" }
        .mkString(", ")
      val cfCols = terms.indices.map(i =>
        s"CAST(SUM(tf$i) AS BIGINT) AS cf$i").mkString(", ")
      val partial = terms.indices.map { i =>
        s"""CASE WHEN cf$i > 0 THEN
              ROUND(LN((CAST(tf$i AS DOUBLE)
                  + CAST($mu AS DOUBLE) * CAST(cf$i AS DOUBLE) / CAST(c AS DOUBLE))
                / (CAST(dl AS DOUBLE) + CAST($mu AS DOUBLE))), 6)
            ELSE 0.0 END"""
      }.mkString(" + ")
      val matched = terms.indices.map(i => s"tf$i > 0").mkString(" OR ")
      s"""WITH pd AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl, $tfCols
            FROM (SELECT doc_id, list_filter($toksSql, x -> x <> '') AS tk
                  FROM documents)
            WHERE len(tk) > 0),
          st AS (SELECT CAST(SUM(dl) AS BIGINT) AS c, $cfCols FROM pd),
          sc AS (SELECT pd.doc_id, pd.dl, $partial AS score
            FROM pd CROSS JOIN st
            WHERE $matched)
          SELECT doc_id, dl, ROUND(score, 6) AS score FROM sc
          ORDER BY score DESC, doc_id ASC LIMIT 20"""
    },
    "q235_boolean_search" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
          p AS (SELECT DISTINCT doc_id, u.t AS term
            FROM t, UNNEST(tk) AS u(t) WHERE u.t <> ''),
          agg AS (SELECT doc_id,
              COUNT(CASE WHEN term IN ('sort', 'merge') THEN 1 END) AS n_must,
              COUNT(CASE WHEN term IN ('spark', 'join') THEN 1 END) AS n_should,
              COUNT(CASE WHEN term IN ('bubble') THEN 1 END) AS n_not
            FROM p GROUP BY 1)
          SELECT doc_id, CAST(n_should AS BIGINT) AS n_should FROM agg
          WHERE n_must = 2 AND n_should >= 1 AND n_not = 0
          ORDER BY doc_id""",
    "q232_prefix_suggest" ->
      s"""WITH p AS (SELECT doc_id, u.t AS term
            FROM (SELECT doc_id, $toksSql AS tk FROM documents),
              UNNEST(tk) AS u(t)
            WHERE u.t <> ''),
          v AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM p GROUP BY 1),
          pre(prefix) AS (VALUES ('so'), ('mer'), ('zz')),
          c AS (SELECT pre.prefix, v.term, v.df
            FROM pre JOIN v ON v.term LIKE pre.prefix || '%'),
          r AS (SELECT prefix, term, df,
              CAST(ROW_NUMBER() OVER (PARTITION BY prefix
                ORDER BY df DESC, term ASC) AS INT) AS rank
            FROM c)
          SELECT prefix, term, df, rank FROM r
          WHERE rank <= 5 ORDER BY prefix, rank""",
    "q225_bm25_msm" -> bm25Sql(msm = 2),
    "q227_bm25_page" -> bm25Sql(page = Some((10, 10))),
    "q233_dedup_hits" ->
      // the full bm25 ranking (sc CTE of bm25Sql) joined to the q40
      // fingerprint, one survivor per fingerprint, top-20 re-cut
      s"""WITH base AS (${bm25Sql(page = Some((1000000000, 0)))}),
          fp AS (SELECT doc_id, substr(md5($mdNorm), 1, 16) AS fp
            FROM documents),
          j AS (SELECT b.doc_id, b.score, f.fp
            FROM base b JOIN fp f USING (doc_id)),
          d AS (SELECT doc_id, score, fp,
              ROW_NUMBER() OVER (PARTITION BY fp
                ORDER BY score DESC, doc_id ASC) AS rn
            FROM j)
          SELECT doc_id, score, fp FROM d WHERE rn = 1
          ORDER BY score DESC, doc_id ASC LIMIT 20""",
    "q228_serving_stack" ->
      // the full pipeline recomputed from raw inputs, then q218's
      // densest-window snippet pick over the fused top-10 with the
      // DYNAMIC corrected terms; dense-only hits keep NULL snippets
      s"""$servingStackCtes,
          tt AS (SELECT d.doc_id, $toksSql AS tk
            FROM documents d JOIN hits ON d.doc_id = hits.vec_id),
          h AS (SELECT t.doc_id, CAST(u.i AS INT) AS pos
            FROM tt t, UNNEST(range(len(t.tk))) AS u(i)
            WHERE t.tk[CAST(u.i + 1 AS INT)] IN (SELECT term FROM corr)),
          candw AS (SELECT a.doc_id, a.pos, COUNT(*) AS cnt
            FROM h a JOIN h b ON b.doc_id = a.doc_id
              AND b.pos >= a.pos AND b.pos <= a.pos + 8
            GROUP BY 1, 2),
          best AS (SELECT doc_id, pos, cnt,
              ROW_NUMBER() OVER (PARTITION BY doc_id
                ORDER BY cnt DESC, pos ASC) AS rn
            FROM candw)
          SELECT hits.vec_id, hits.r0, hits.r1, hits.rrf,
            CAST(b.pos AS INT) AS snippet_start,
            CAST(b.cnt AS INT) AS n_hits,
            array_to_string(t.tk[b.pos + 1 : b.pos + 9], ' ') AS snippet
          FROM hits
          LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.doc_id = hits.vec_id
          LEFT JOIN tt t ON t.doc_id = hits.vec_id
          ORDER BY hits.vec_id""",
    "q229_serving_facets" ->
      // q222's facet tail over the SAME fused top-10
      s"""$servingStackCtes,
          meta AS (SELECT doc_id AS post_id, 'lang' AS meta_key,
              lang AS meta_value FROM documents
            UNION ALL SELECT doc_id, 'source', source FROM documents),
          c AS (SELECT meta_key, meta_value, COUNT(*) AS n
            FROM meta JOIN hits ON meta.post_id = hits.vec_id
            GROUP BY 1, 2),
          r AS (SELECT meta_key, meta_value, n,
              CAST(ROW_NUMBER() OVER (PARTITION BY meta_key
                ORDER BY n DESC, meta_value ASC) AS INT) AS rank
            FROM c)
          SELECT meta_key, meta_value, n, rank FROM r
          WHERE rank <= 5 ORDER BY meta_key, rank""",
    "q222_facet_counts" ->
      // bm25 top-20 as the hit set; facets = per-key value counts with
      // the (n DESC, value ASC) deterministic tie-break
      s"""WITH topk AS (SELECT doc_id FROM (${bm25Sql()})),
          meta AS (SELECT doc_id AS post_id, 'lang' AS meta_key,
              lang AS meta_value FROM documents
            UNION ALL SELECT doc_id, 'source', source FROM documents),
          c AS (SELECT meta_key, meta_value, COUNT(*) AS n
            FROM meta JOIN topk ON meta.post_id = topk.doc_id
            GROUP BY 1, 2),
          r AS (SELECT meta_key, meta_value, n,
              CAST(ROW_NUMBER() OVER (PARTITION BY meta_key
                ORDER BY n DESC, meta_value ASC) AS INT) AS rank
            FROM c)
          SELECT meta_key, meta_value, n, rank FROM r
          WHERE rank <= 5 ORDER BY meta_key, rank""",
    "q221_index_stats" ->
      // the engine's 28-bit md5 term bucket, replicated: first 7 hex
      // chars of md5(term) as a BIGINT, mod the default 16 buckets
      s"""WITH tt AS (SELECT doc_id, $toksSql AS tk
            FROM documents WHERE doc_id % 7 <> 0),
          p AS (SELECT t.doc_id, t.tk[CAST(u.i + 1 AS INT)] AS term
            FROM tt t, UNNEST(range(len(t.tk))) AS u(i)
            WHERE t.tk[CAST(u.i + 1 AS INT)] <> '')
          SELECT CAST(CAST(concat('0x', substr(md5(term), 1, 7)) AS BIGINT)
              % 16 AS INT) AS tbucket,
            COUNT(*) AS n_postings,
            COUNT(DISTINCT term) AS n_terms,
            COUNT(DISTINCT doc_id) AS n_docs
          FROM p GROUP BY 1 ORDER BY 1""",
    "q219_keyset_page" ->
      // the OFFSET form IS the claim: a keyset page after the 100th row
      // of the total (source, doc_id) order equals rows 101-150
      "SELECT source, doc_id FROM documents ORDER BY source, doc_id LIMIT 50 OFFSET 100",
    // X281: container family by id, per-family metadata formulas (the
    // q319/q321/q322/q323 arithmetic behind one CASE)
    "q324_media_audit" ->
      """SELECT doc_id AS media_id,
           CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'mp4' WHEN 1 THEN 'mp3'
             WHEN 2 THEN 'ogg' ELSE 'mkv' END AS container,
           CAST(CASE CAST(doc_id % 4 AS INT)
             WHEN 0 THEN 2 + doc_id % 4
             WHEN 1 THEN 20 + doc_id % 30
             WHEN 2 THEN 3 + doc_id % 5
             ELSE 1 + doc_id % 3 END AS INT) AS n_units,
           CAST(CASE CAST(doc_id % 4 AS INT)
             WHEN 0 THEN (2 + doc_id % 4) * 40
             WHEN 1 THEN ((20 + doc_id % 30) * 1152000) // 44100
             WHEN 2 THEN NULL
             ELSE 500 + doc_id % 1000 END AS BIGINT) AS duration_ms
         FROM documents ORDER BY media_id""",
    // X280: page/packet/granule and EBML meta recomputed from the
    // fixture formulas; the engine walks the real page headers / varint
    // element tree
    "q322_ogg_scan" ->
      """SELECT doc_id AS media_id,
           CAST(3 + doc_id % 5 AS INT) AS n_pages,
           1 AS n_streams,
           CAST(3 + doc_id % 5 AS INT) AS n_packets,
           CAST(3 + doc_id % 5 AS BIGINT) AS last_granule
         FROM documents ORDER BY media_id""",
    "q323_mkv_meta" ->
      """SELECT doc_id AS media_id,
           CAST(1000000 AS BIGINT) AS timestamp_scale_ns,
           CAST(500 + doc_id % 1000 AS BIGINT) AS duration_ms,
           CAST(1 + doc_id % 3 AS INT) AS n_tracks
         FROM documents ORDER BY media_id""",
    // X278: the mp4 fixture is a pure function of documents (the q127
    // convention) — the oracle recomputes what the box tree must say;
    // the engine's numbers come from PARSING mvhd/tkhd/stsz for real
    "q319_mp4_meta" ->
      """SELECT doc_id AS media_id, 'isom' AS brand, CAST(1000 AS BIGINT) AS timescale,
           CAST((2 + doc_id % 4) * 40 AS BIGINT) AS duration_ms,
           CAST(2 + doc_id % 4 AS INT) AS n_samples,
           CAST(16 + doc_id % 48 AS INT) AS width,
           CAST(16 + strlen(COALESCE(text, '')) % 48 AS INT) AS height
         FROM documents ORDER BY media_id""",
    "q320_mp4_frames" ->
      """SELECT doc_id AS media_id,
                CAST(f AS INT) AS frame_no,
                CAST(16 + doc_id % 48 AS BIGINT) AS width,
                CAST(16 + strlen(COALESCE(text, '')) % 48 AS BIGINT) AS height
         FROM documents, UNNEST(range(0, CAST(2 + doc_id % 4 AS BIGINT), 2)) AS t(f)
         ORDER BY media_id, frame_no""",
    // X279: frame count/bitrates/duration recomputed from the fixture
    // formula; the engine walks the real frame headers
    "q321_mp3_scan" ->
      """SELECT doc_id AS media_id,
           CAST(20 + doc_id % 30 AS INT) AS n_frames,
           44100 AS sample_rate,
           128 AS min_kbps,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 128
             WHEN 20 + doc_id % 30 >= 3 THEN 192
             WHEN 20 + doc_id % 30 = 2 THEN 160 ELSE 128 END AS INT) AS max_kbps,
           doc_id % 2 = 0 AS cbr,
           CAST(((20 + doc_id % 30) * 1152000) // 44100 AS BIGINT) AS duration_ms
         FROM documents ORDER BY media_id""",
    // X289: tag fields from the fixture formula; tag size = 10-byte
    // header + 3 frames of (10 + 1 + len(text)); the scan columns
    // reuse q321's formulas verbatim (tag transparency is the gate)
    "q334_id3_tags" ->
      """SELECT doc_id AS media_id,
           3 AS id3_version,
           CAST(10 + (11 + len('doc ' || doc_id))
             + (11 + len('artist ' || (doc_id % 7)))
             + (11 + len('album ' || (doc_id % 3))) AS INT) AS tag_bytes,
           'doc ' || doc_id AS title,
           'artist ' || (doc_id % 7) AS artist,
           'album ' || (doc_id % 3) AS album,
           CAST(20 + doc_id % 30 AS INT) AS n_frames,
           CAST(((20 + doc_id % 30) * 1152000) // 44100 AS BIGINT) AS duration_ms
         FROM documents ORDER BY media_id""",
    // X274: per-range conditional counts; 'to' exclusive, keys carry
    // the literal bound text with * for open ends
    "q315_date_range" ->
      """SELECT '2024-01-01 00:00:00-2024-01-08 00:00:00' AS key,
           COUNT(CASE WHEN ts >= TIMESTAMP '2024-01-01 00:00:00'
             AND ts < TIMESTAMP '2024-01-08 00:00:00' THEN 1 END) AS doc_count
         FROM events
         UNION ALL SELECT '2024-01-08 00:00:00-2024-01-15 00:00:00',
           COUNT(CASE WHEN ts >= TIMESTAMP '2024-01-08 00:00:00'
             AND ts < TIMESTAMP '2024-01-15 00:00:00' THEN 1 END) FROM events
         UNION ALL SELECT '2024-01-15 00:00:00-*',
           COUNT(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00' THEN 1 END)
           FROM events
         UNION ALL SELECT '*-2024-01-01 00:00:00',
           COUNT(CASE WHEN ts < TIMESTAMP '2024-01-01 00:00:00' THEN 1 END)
           FROM events
         ORDER BY key""",
    // X275: the same total order (n desc, bucket_start asc tail) with
    // the ES from/size pair as OFFSET/LIMIT
    "q316_bucket_sort" ->
      """SELECT date_trunc('day', ts) AS bucket_start, COUNT(*) AS n
         FROM events GROUP BY 1
         ORDER BY n DESC, bucket_start ASC LIMIT 5 OFFSET 2""",
    // X273: positions via UNNEST-with-index (the q117 pattern), phrase
    // spans from the two adjacency joins, containment as BETWEEN
    "q317_span_within" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
          p AS (SELECT doc_id, CAST(u.i AS INT) AS pos,
              tk[CAST(u.i + 1 AS INT)] AS term
            FROM t, UNNEST(range(len(tk))) AS u(i)
            WHERE tk[CAST(u.i + 1 AS INT)] <> ''),
          spans AS (SELECT a.doc_id, a.pos AS ps
            FROM p a JOIN p b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
            WHERE a.term = 'table' AND b.term = 'merge'),
          littles AS (SELECT doc_id, pos AS pl FROM p WHERE term = 'merge'),
          w AS (SELECT DISTINCT l.doc_id, l.pl FROM littles l
            JOIN spans s ON s.doc_id = l.doc_id
              AND l.pl BETWEEN s.ps AND s.ps + 1)
          SELECT doc_id, COUNT(*) AS n_matches FROM w
          GROUP BY doc_id ORDER BY doc_id""",
    "q318_span_containing" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
          p AS (SELECT doc_id, CAST(u.i AS INT) AS pos,
              tk[CAST(u.i + 1 AS INT)] AS term
            FROM t, UNNEST(range(len(tk))) AS u(i)
            WHERE tk[CAST(u.i + 1 AS INT)] <> ''),
          spans AS (SELECT a.doc_id, a.pos AS ps
            FROM p a JOIN p b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
            WHERE a.term = 'table' AND b.term = 'merge'),
          littles AS (SELECT doc_id, pos AS pl FROM p WHERE term = 'merge'),
          w AS (SELECT DISTINCT s.doc_id, s.ps FROM spans s
            JOIN littles l ON l.doc_id = s.doc_id
              AND l.pl BETWEEN s.ps AND s.ps + 1)
          SELECT doc_id, COUNT(*) AS n_spans FROM w
          GROUP BY doc_id ORDER BY doc_id""",
    // X269: one conditional-count row per named bucket; the 'rest'
    // bucket is the matched-nothing remainder with nulls pinned false
    "q311_filters_agg" ->
      """SELECT 'en' AS key, COUNT(CASE WHEN lang = 'en' THEN 1 END) AS doc_count FROM documents
         UNION ALL SELECT 'de', COUNT(CASE WHEN lang = 'de' THEN 1 END) FROM documents
         UNION ALL SELECT 'long', COUNT(CASE WHEN length(text) > 500 THEN 1 END) FROM documents
         UNION ALL SELECT 'nolang', COUNT(CASE WHEN lang = 'xx' THEN 1 END) FROM documents
         UNION ALL SELECT 'rest', COUNT(CASE WHEN NOT COALESCE(
             lang = 'en' OR lang = 'de' OR length(text) > 500 OR lang = 'xx',
             FALSE) THEN 1 END) FROM documents
         ORDER BY key""",
    // X270: q270's JLH arithmetic verbatim — the foreground df is
    // re-derived from tokenized hit text, which IS how the engine's
    // significant_text serves it (q270's forward-sidecar path reads the
    // same numbers from disk; suite-pinned equal) — so the two rows
    // share an oracle the way q253 reuses q213's (pure plan choice)
    "q312_significant_text" -> {
      val hitsSql = bm25SqlOver(Seq("sort", "merge", "spark"),
        "documents", toksSql, topN = 20)
      s"""WITH hits AS MATERIALIZED (SELECT doc_id FROM ($hitsSql) AS h),
          dt AS (SELECT DISTINCT doc_id, u.t AS term
            FROM (SELECT doc_id, list_filter($toksSql, x -> x <> '') AS tk
                  FROM documents), UNNEST(tk) AS u(t)),
          pt AS (SELECT term,
              COUNT(CASE WHEN doc_id IN (SELECT doc_id FROM hits)
                THEN 1 END) AS df_fg,
              COUNT(*) AS df_bg FROM dt GROUP BY term),
          sz AS (SELECT (SELECT COUNT(*) FROM hits) AS n_fg,
              (SELECT COUNT(DISTINCT doc_id) FROM dt) AS n_bg),
          sc AS (SELECT term, df_fg, df_bg,
              (CAST(df_fg AS DOUBLE) / CAST(n_fg AS DOUBLE)
                - CAST(df_bg AS DOUBLE) / CAST(n_bg AS DOUBLE))
              * ((CAST(df_fg AS DOUBLE) / CAST(n_fg AS DOUBLE))
                / (CAST(df_bg AS DOUBLE) / CAST(n_bg AS DOUBLE))) AS score
            FROM pt CROSS JOIN sz WHERE n_fg > 0 AND df_fg >= 2)
          SELECT term, df_fg, df_bg, ROUND(score, 6) AS score FROM sc
          WHERE score > 0 ORDER BY score DESC, term ASC LIMIT 15"""
    },
    // X271: date_trunc quarters under the shared UTC contract; the 3M
    // rung is what 40 buckets negotiates for this SF-invariant span
    // (1995-01..2001-08: 7d ~345, 1M 80, 3M 27)
    "q313_auto_cal_histogram" ->
      """WITH b AS (SELECT date_trunc('quarter', o_orderdate) AS bucket_start,
              COUNT(*) AS n
            FROM orders GROUP BY 1),
          mm AS (SELECT date_trunc('quarter', MIN(o_orderdate)) AS lo,
              date_trunc('quarter', MAX(o_orderdate)) AS hi FROM orders),
          spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 3 MONTH))
              AS bucket_start FROM mm)
          SELECT spine.bucket_start, COALESCE(b.n, 0) AS n, '3M' AS "interval"
          FROM spine LEFT JOIN b USING (bucket_start)
          ORDER BY bucket_start""",
    // X199 on QL: the oracle mirrors the skip rule itself (df > frac·N
    // from the tokenized corpus — the DATA decides which term is hot);
    // elided terms generate no candidates and no partials, served
    // zero-tf terms still smooth — q244's arithmetic otherwise
    "q314_ql_hot_skip" -> {
      val mu = "2000.0"
      s"""WITH pd AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl, tk
            FROM (SELECT doc_id, list_filter($toksSql, x -> x <> '') AS tk
                  FROM documents)
            WHERE len(tk) > 0),
          st AS (SELECT CAST(SUM(dl) AS BIGINT) AS c,
              COUNT(*) AS n_docs FROM pd),
          qq(query_id, term) AS (VALUES
            ('qa', 'sort'), ('qa', 'merge'),
            ('qb', 'spark'), ('qb', 'merge'),
            ('qc', 'merge')),
          v AS (SELECT DISTINCT term FROM qq),
          tfall AS (SELECT pd.doc_id, pd.dl, v.term,
              CAST(len(list_filter(pd.tk, x -> x = v.term)) AS BIGINT) AS tf
            FROM pd CROSS JOIN v),
          dfs AS (SELECT term,
              COUNT(CASE WHEN tf > 0 THEN 1 END) AS df FROM tfall GROUP BY 1),
          cold AS (SELECT dfs.term FROM dfs CROSS JOIN st
            WHERE CAST(dfs.df AS DOUBLE)
              <= CAST(0.78 AS DOUBLE) * CAST(st.n_docs AS DOUBLE)),
          qs AS (SELECT * FROM qq
            WHERE term IN (SELECT term FROM cold)),
          cfs AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cf
            FROM tfall GROUP BY 1),
          cand AS (SELECT DISTINCT qs.query_id, tfall.doc_id
            FROM qs JOIN tfall USING (term) WHERE tfall.tf > 0),
          partials AS (SELECT cand.query_id, cand.doc_id,
              CASE WHEN cfs.cf > 0 THEN
                ROUND(LN((CAST(t2.tf AS DOUBLE)
                    + CAST($mu AS DOUBLE) * CAST(cfs.cf AS DOUBLE) / CAST(st.c AS DOUBLE))
                  / (CAST(t2.dl AS DOUBLE) + CAST($mu AS DOUBLE))), 6)
              ELSE 0.0 END AS pp
            FROM cand JOIN qs USING (query_id)
            JOIN tfall t2 ON t2.doc_id = cand.doc_id AND t2.term = qs.term
            JOIN cfs ON cfs.term = qs.term CROSS JOIN st),
          sc AS (SELECT query_id, doc_id,
              ROUND(CAST(SUM(CAST(pp AS DECIMAL(38, 6))) AS DOUBLE), 6) AS score
            FROM partials GROUP BY 1, 2),
          r AS (SELECT query_id, doc_id, score,
              CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY score DESC, doc_id ASC) AS INT) AS rank
            FROM sc)
          SELECT query_id, doc_id, score, rank FROM r
          WHERE rank <= 5 ORDER BY query_id, rank"""
    },
    // X268: the same conditional decimal power sums and Welch formula
    "q310_t_test" ->
      """WITH b AS (SELECT CAST(value AS DOUBLE) AS v,
            event_type = 'purchase' AS a, event_type = 'click' AS bb
          FROM events WHERE value IS NOT NULL),
          agg AS (SELECT
              COUNT(CASE WHEN a THEN 1 END) AS n_a,
              COUNT(CASE WHEN bb THEN 1 END) AS n_b,
              SUM(CASE WHEN a THEN CAST(v AS DECIMAL(38, 8)) END) AS sa,
              SUM(CASE WHEN bb THEN CAST(v AS DECIMAL(38, 8)) END) AS sb,
              SUM(CASE WHEN a THEN CAST(v * v AS DECIMAL(38, 8)) END) AS saa,
              SUM(CASE WHEN bb THEN CAST(v * v AS DECIMAL(38, 8)) END) AS sbb
            FROM b)
          SELECT n_a, n_b,
            ROUND(CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS mean_a,
            ROUND(CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS mean_b,
            CASE WHEN n_a >= 2 AND n_b >= 2 AND
                SQRT(GREATEST(0.0, (CAST(saa AS DOUBLE)
                    - CAST(n_a AS DOUBLE) * (CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE))
                      * (CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE)))
                    / (CAST(n_a AS DOUBLE) - 1.0)) / CAST(n_a AS DOUBLE)
                  + GREATEST(0.0, (CAST(sbb AS DOUBLE)
                    - CAST(n_b AS DOUBLE) * (CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE))
                      * (CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE)))
                    / (CAST(n_b AS DOUBLE) - 1.0)) / CAST(n_b AS DOUBLE)) > 0.0
              THEN ROUND((CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE)
                  - CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE))
                / SQRT(GREATEST(0.0, (CAST(saa AS DOUBLE)
                    - CAST(n_a AS DOUBLE) * (CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE))
                      * (CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE)))
                    / (CAST(n_a AS DOUBLE) - 1.0)) / CAST(n_a AS DOUBLE)
                  + GREATEST(0.0, (CAST(sbb AS DOUBLE)
                    - CAST(n_b AS DOUBLE) * (CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE))
                      * (CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE)))
                    / (CAST(n_b AS DOUBLE) - 1.0)) / CAST(n_b AS DOUBLE)), 6)
              ELSE NULL END AS t_stat
          FROM agg""",
    // X267: the same ladder selection from one (min, max) anchor, then
    // the q280 spine at the chosen width
    "q309_auto_histogram" ->
      """WITH mm AS (SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi FROM events),
          widths(w) AS (VALUES (1), (5), (10), (30), (60), (300), (600),
            (1800), (3600), (10800), (43200), (86400), (604800)),
          sel AS (SELECT COALESCE(
              (SELECT w FROM widths, mm
               WHERE hi // (CAST(w AS BIGINT) * 1000000)
                 - lo // (CAST(w AS BIGINT) * 1000000) + 1 <= 40
               ORDER BY w LIMIT 1), 604800) AS w),
          b AS (SELECT epoch_us(ts) // (CAST(sel.w AS BIGINT) * 1000000) AS i,
              COUNT(*) AS n
            FROM events, sel GROUP BY 1),
          bm AS (SELECT MIN(i) AS blo, MAX(i) AS bhi FROM b),
          spine AS (SELECT UNNEST(range(bm.blo, bm.bhi + 1)) AS i FROM bm)
          SELECT spine.i * sel.w AS bucket_start,
            CAST(COALESCE(b.n, 0) AS BIGINT) AS n,
            CAST(sel.w AS BIGINT) AS width_seconds
          FROM spine CROSS JOIN sel LEFT JOIN b USING (i)
          ORDER BY bucket_start""",
    // X266: first-seen buckets -> counts -> spine cumsum; spine top is
    // the last EVENT bucket so the flat tail renders
    "q308_cumulative_cardinality" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS i FROM events),
          fs AS (SELECT MIN(i) AS i FROM e WHERE user_id IS NOT NULL GROUP BY user_id),
          nb AS (SELECT i, COUNT(*) AS new_entities FROM fs GROUP BY i),
          mm AS (SELECT (SELECT MIN(i) FROM nb) AS lo, (SELECT MAX(i) FROM e) AS hi),
          spine AS (SELECT UNNEST(range(mm.lo, mm.hi + 1)) AS i FROM mm),
          f AS (SELECT spine.i, CAST(COALESCE(nb.new_entities, 0) AS BIGINT) AS new_entities
            FROM spine LEFT JOIN nb USING (i))
          SELECT i * 86400 AS bucket_start, new_entities,
            CAST(SUM(new_entities) OVER (ORDER BY i
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS cumulative_distinct
          FROM f ORDER BY bucket_start""",
    // X265: decimal-exact Σ(v·w)/Σw under the same literal weights
    "q307_weighted_avg" ->
      """WITH b AS (SELECT event_type AS key, CAST(value AS DOUBLE) AS v,
            CASE WHEN event_type = 'purchase' THEN 5.0
                 WHEN event_type = 'signup' THEN 3.0 ELSE 1.0 END AS w
          FROM events WHERE value IS NOT NULL),
          a AS (SELECT key, COUNT(*) AS n,
              SUM(CAST(v * w AS DECIMAL(38, 8))) AS sn,
              SUM(CAST(w AS DECIMAL(38, 8))) AS sd
            FROM b GROUP BY key)
          SELECT key, n,
            CASE WHEN sd <> 0
              THEN ROUND(CAST(sn AS DOUBLE) / CAST(sd AS DOUBLE), 6)
              ELSE NULL END AS weighted_avg
          FROM a ORDER BY key""",
    // X263: include positions with no exclude inside [pos-pre, pos+post]
    "q303_span_not" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
          p AS (SELECT doc_id, CAST(u.i AS INT) AS pos,
              tk[CAST(u.i + 1 AS INT)] AS term
            FROM t, UNNEST(range(len(tk))) AS u(i)
            WHERE tk[CAST(u.i + 1 AS INT)] <> ''),
          inc AS (SELECT doc_id, pos FROM p WHERE term = 'merge'),
          exc AS (SELECT doc_id, pos FROM p WHERE term = 'bubble'),
          keep AS (SELECT i.doc_id, i.pos FROM inc i
            WHERE NOT EXISTS (SELECT 1 FROM exc e
              WHERE e.doc_id = i.doc_id
                AND e.pos >= i.pos - 2 AND e.pos <= i.pos + 2))
          SELECT doc_id, COUNT(*) AS n_matches FROM keep
          GROUP BY doc_id ORDER BY doc_id""",
    // X261: the q223 fuzzy expansion capped Lucene-style, then the
    // q262 synonym-group scoring tail verbatim
    "q304_fuzzy_query" -> {
      val (k1, b) = (1.2, 0.75)
      val k1p = (k1 + 1.0).toString
      s"""WITH tok AS (SELECT doc_id, u.t AS term
            FROM (SELECT doc_id, list_filter($toksSql, x -> x <> '') AS tk
                  FROM documents), UNNEST(tk) AS u(t)),
          pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
          st AS (SELECT COUNT(*) AS n_docs,
              CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM pd),
          vocab AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
          exp AS (SELECT term, df FROM (
              SELECT term, df, CAST(levenshtein('sorrt', term) AS INT) AS dist
              FROM vocab WHERE levenshtein('sorrt', term) <= 1)
            ORDER BY dist ASC, df DESC, term ASC LIMIT 3),
          gdf AS (SELECT CAST(MAX(df) AS DOUBLE) AS df FROM exp),
          tfs AS (SELECT t.doc_id, CAST(COUNT(*) AS DOUBLE) AS tf
            FROM tok t JOIN exp e ON t.term = e.term GROUP BY t.doc_id),
          sc AS (SELECT pd.doc_id, pd.dl,
              ROUND(LN(1.0 + (CAST(n_docs AS DOUBLE) - gdf.df + 0.5) / (gdf.df + 0.5))
                * tfs.tf * CAST($k1p AS DOUBLE)
                / (tfs.tf + CAST($k1 AS DOUBLE) * ((1.0 - CAST($b AS DOUBLE))
                   + (CAST($b AS DOUBLE) * CAST(pd.dl AS DOUBLE)) / avgdl)), 6) AS score
            FROM pd JOIN tfs USING (doc_id) CROSS JOIN st CROSS JOIN gdf)
          SELECT doc_id, dl, ROUND(score, 6) AS score FROM sc
          WHERE score > 0 ORDER BY score DESC, doc_id ASC LIMIT 20"""
    },
    // X262: the exact empirical CDF from conditional counts
    "q305_percentile_ranks" ->
      """WITH v AS (SELECT event_type AS key, CAST(value AS DOUBLE) AS v
            FROM events WHERE value IS NOT NULL),
          a AS (SELECT key, COUNT(*) AS n,
              COUNT(CASE WHEN v <= 10.0 THEN 1 END) AS le0,
              COUNT(CASE WHEN v <= 100.0 THEN 1 END) AS le1
            FROM v GROUP BY key)
          SELECT key, x, n, ROUND(100.0 * CAST(le AS DOUBLE) / CAST(n AS DOUBLE), 6) AS percent
          FROM (SELECT key, n, CAST(10.0 AS DOUBLE) AS x, le0 AS le FROM a
                UNION ALL SELECT key, n, CAST(100.0 AS DOUBLE), le1 FROM a)
          ORDER BY key, x""",
    // X264: the same decimal power sums, double formulas behind round-6
    "q306_matrix_stats" ->
      """WITH base AS (SELECT CAST(value AS DOUBLE) AS a,
            CAST(epoch_us(ts) - 1700000000000000 AS DOUBLE) / 86400000000.0 AS b
          FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
          agg AS (SELECT COUNT(*) AS n,
              SUM(CAST(a AS DECIMAL(38, 8))) AS sa,
              SUM(CAST(b AS DECIMAL(38, 8))) AS sb,
              SUM(CAST(a * a AS DECIMAL(38, 8))) AS saa,
              SUM(CAST(b * b AS DECIMAL(38, 8))) AS sbb,
              SUM(CAST(a * b AS DECIMAL(38, 8))) AS sab
            FROM base)
          SELECT n,
            ROUND(CAST(sa AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_a,
            ROUND(CAST(sb AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_b,
            ROUND(GREATEST(0.0, CAST(saa AS DOUBLE) / CAST(n AS DOUBLE)
              - (CAST(sa AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sa AS DOUBLE) / CAST(n AS DOUBLE))), 6) AS var_a,
            ROUND(GREATEST(0.0, CAST(sbb AS DOUBLE) / CAST(n AS DOUBLE)
              - (CAST(sb AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sb AS DOUBLE) / CAST(n AS DOUBLE))), 6) AS var_b,
            ROUND(CAST(sab AS DOUBLE) / CAST(n AS DOUBLE)
              - (CAST(sa AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sb AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS covariance,
            ROUND(CASE WHEN
                GREATEST(0.0, CAST(saa AS DOUBLE) / CAST(n AS DOUBLE)
                  - (CAST(sa AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sa AS DOUBLE) / CAST(n AS DOUBLE))) > 0.0
                AND GREATEST(0.0, CAST(sbb AS DOUBLE) / CAST(n AS DOUBLE)
                  - (CAST(sb AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sb AS DOUBLE) / CAST(n AS DOUBLE))) > 0.0
              THEN (CAST(sab AS DOUBLE) / CAST(n AS DOUBLE)
                  - (CAST(sa AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sb AS DOUBLE) / CAST(n AS DOUBLE)))
                / SQRT(GREATEST(0.0, CAST(saa AS DOUBLE) / CAST(n AS DOUBLE)
                    - (CAST(sa AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sa AS DOUBLE) / CAST(n AS DOUBLE)))
                  * GREATEST(0.0, CAST(sbb AS DOUBLE) / CAST(n AS DOUBLE)
                    - (CAST(sb AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sb AS DOUBLE) / CAST(n AS DOUBLE))))
              ELSE 0.0 END, 6) AS correlation
          FROM agg""",
    // X259: the q214 full ranking times the stored-signal modifier;
    // order on the unrounded product (the q273 rule)
    "q301_field_value_factor" ->
      s"""WITH h AS MATERIALIZED (${bm25SqlOver(Seq("sort", "merge", "spark"),
            "documents", toksSql, topN = 1000000000)}),
          s AS (SELECT h.doc_id,
              h.score * CAST(${0.5.toString} AS DOUBLE)
                * LN(1.0 + CAST(d.n_chars AS DOUBLE)) AS s
            FROM h JOIN documents d USING (doc_id))
          SELECT doc_id, ROUND(s, 6) AS score FROM s
          ORDER BY s DESC, doc_id ASC LIMIT 20""",
    // X260: identical md5 arithmetic — 7 hex digits of md5(seed||id)
    // mod 1e6, over 1e6
    "q302_random_score" ->
      """SELECT doc_id,
           CAST(CAST(concat('0x', substr(md5('seed42' || CAST(doc_id AS VARCHAR)), 1, 7))
             AS BIGINT) % 1000000 AS DOUBLE) / 1000000.0 AS score
         FROM documents
         ORDER BY score DESC, doc_id ASC LIMIT 20""",
    // X256: floor(value/interval) buckets, range spine, zero fill
    "q298_value_histogram" ->
      """WITH b AS (SELECT CAST(FLOOR(value / 25.0) AS BIGINT) AS i,
            COUNT(*) AS doc_count
          FROM events WHERE value IS NOT NULL GROUP BY 1),
          mm AS (SELECT MIN(i) AS lo, MAX(i) AS hi FROM b),
          spine AS (SELECT UNNEST(range(mm.lo, mm.hi + 1)) AS i FROM mm)
          SELECT CAST(i AS DOUBLE) * 25.0 AS bucket_start,
            CAST(COALESCE(doc_count, 0) AS BIGINT) AS doc_count
          FROM spine LEFT JOIN b USING (i) ORDER BY bucket_start""",
    // X257: the same decimal sum / tie-keeping extreme-key rendering
    "q299_bucket_stats" ->
      """WITH b AS (SELECT event_type AS k, CAST(COUNT(*) AS DOUBLE) AS v
            FROM events GROUP BY 1),
          a AS (SELECT COUNT(*) AS n_buckets, MIN(v) AS min_value,
              MAX(v) AS max_value, SUM(CAST(v AS DECIMAL(38, 6))) AS s
            FROM b)
          SELECT n_buckets, min_value, max_value,
            ROUND(CAST(s AS DOUBLE), 6) AS sum_value,
            ROUND(CAST(s AS DOUBLE) / CAST(n_buckets AS DOUBLE), 6) AS avg_value,
            (SELECT string_agg(k, ',' ORDER BY k) FROM b
              WHERE v = (SELECT min_value FROM a)) AS min_keys,
            (SELECT string_agg(k, ',' ORDER BY k) FROM b
              WHERE v = (SELECT max_value FROM a)) AS max_keys
          FROM a""",
    // X258: the q280 spine with LAG(n, 24)
    "q300_serial_diff" ->
      """WITH b AS (SELECT epoch_us(ts) // 3600000000 AS i, COUNT(*) AS n
            FROM events GROUP BY 1),
          mm AS (SELECT MIN(i) AS lo, MAX(i) AS hi FROM b),
          spine AS (SELECT UNNEST(range(mm.lo, mm.hi + 1)) AS i FROM mm),
          f AS (SELECT spine.i, COALESCE(b.n, 0) AS n
            FROM spine LEFT JOIN b USING (i))
          SELECT i * 3600 AS bucket_start, n,
            n - LAG(n, 24) OVER (ORDER BY i) AS serial_diff
          FROM f ORDER BY bucket_start""",
    // X255: q153's probe chain with the candidate predicate inside the
    // probed set, before the top-k cut
    "q297_knn_filtered" ->
      s"""WITH cents AS (SELECT vec_id AS ccid, embedding AS cv FROM embeddings WHERE vec_id < 4),
          q AS (SELECT embedding AS qv,
            sqrt((SELECT SUM(CAST(y AS DOUBLE)*CAST(y AS DOUBLE)) FROM unnest(embedding) AS t(y))) AS qmag
            FROM embeddings WHERE vec_id = 5),
          probes AS (SELECT c.ccid FROM cents c, q
            ORDER BY (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
                      FROM (SELECT unnest(c.cv) AS x, unnest(q.qv) AS y) z) DESC,
                     c.ccid ASC
            LIMIT 2),
          assign AS (SELECT e.vec_id, CAST((
              SELECT c.ccid FROM cents c
              ORDER BY (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
                        FROM (SELECT unnest(e.embedding) AS x, unnest(c.cv) AS y) z) DESC,
                       c.ccid ASC
              LIMIT 1) AS INT) AS ivf_list
            FROM embeddings e),
          scored AS (SELECT e.vec_id,
            (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
             FROM q, LATERAL (SELECT unnest(e.embedding) AS x, unnest(q.qv) AS y) z) /
            (sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(e.embedding) AS t(x)))
             * (SELECT qmag FROM q) + 1e-12) AS c
            FROM embeddings e JOIN assign a USING (vec_id)
            WHERE a.ivf_list IN (SELECT ccid FROM probes) AND e.vec_id % 3 = 1)
          SELECT vec_id, ROUND(c, 6) AS cosine FROM scored
          ORDER BY c DESC, vec_id ASC LIMIT 10""",
    // X294: the ADC pipeline with the candidate filter inside the
    // pruned read — codebooks/assignment stay full-corpus parameters
    "q340_knn_filtered_pq" ->
      ivfPqSearchSqlOver("embeddings", where = "e.vec_id % 3 = 1"),
    // X252: per-field legs (field-own stats), the q272 dis_max combine
    "q294_multi_match" -> {
      val tie = 0.3.toString
      val terms = Seq("sort", "merge", "spark")
      s"""WITH l1 AS MATERIALIZED (${bm25FieldSql(head = true, 8, terms)}),
          l2 AS MATERIALIZED (${bm25FieldSql(head = false, 8, terms)}),
          m AS (SELECT COALESCE(l1.doc_id, l2.doc_id) AS doc_id,
              GREATEST(COALESCE(l1.score, 0.0), COALESCE(l2.score, 0.0)) AS best,
              CAST(COALESCE(CAST(l1.score AS DECIMAL(38, 6)), 0)
                + COALESCE(CAST(l2.score AS DECIMAL(38, 6)), 0) AS DOUBLE) AS s,
              CAST((CASE WHEN l1.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                + (CASE WHEN l2.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_legs
            FROM l1 FULL OUTER JOIN l2 ON l1.doc_id = l2.doc_id),
          c AS (SELECT doc_id, best, n_legs,
              best + CAST($tie AS DOUBLE) * (s - best) AS combined FROM m)
          SELECT doc_id, best, n_legs, ROUND(combined, 6) AS score
          FROM c ORDER BY combined DESC, doc_id ASC LIMIT 20"""
    },
    // X253: top-5 + the reconciling other-mass row
    "q295_terms_other" ->
      """WITH c AS (SELECT source AS key, COUNT(*) AS doc_count
            FROM documents GROUP BY 1),
          top AS (SELECT * FROM c ORDER BY doc_count DESC, key LIMIT 5),
          oth AS (SELECT '__sum_other__' AS key,
              CAST(SUM(doc_count) AS BIGINT) AS doc_count
            FROM c WHERE key NOT IN (SELECT key FROM top))
          SELECT key, doc_count FROM
            (SELECT * FROM top
             UNION ALL SELECT * FROM oth WHERE doc_count IS NOT NULL)
          ORDER BY doc_count DESC, key""",
    // X284: the sampler cut is a plain ORDER BY/LIMIT under the same
    // total order; the child agg runs over the sample CTE
    "q327_sampler" ->
      """WITH smp AS (SELECT * FROM documents
            ORDER BY n_chars DESC, doc_id ASC LIMIT 40)
          SELECT lang, COUNT(*) AS n FROM smp GROUP BY lang ORDER BY lang""",
    // X284: per-source row_number cap BEFORE the global heap — the ES
    // diversified order, mirrored step for step
    "q328_diversified_sampler" ->
      """WITH capped AS (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS rn
            FROM documents),
          smp AS (SELECT * FROM capped WHERE rn <= 2
            ORDER BY n_chars DESC, doc_id ASC LIMIT 25)
          SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
          FROM smp GROUP BY lang ORDER BY lang""",
    // X285: q295's top+other discipline over the |-joined tuple key
    "q329_multi_terms" ->
      """WITH c AS (SELECT lang || '|' || source AS key, COUNT(*) AS doc_count
            FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
            GROUP BY 1),
          top AS (SELECT * FROM c ORDER BY doc_count DESC, key LIMIT 8),
          oth AS (SELECT '__sum_other__' AS key,
              CAST(SUM(doc_count) AS BIGINT) AS doc_count
            FROM c WHERE key NOT IN (SELECT key FROM top))
          SELECT key, doc_count FROM
            (SELECT * FROM top
             UNION ALL SELECT * FROM oth WHERE doc_count IS NOT NULL)
          ORDER BY doc_count DESC, key""",
    // X288: the hard-EM trace — seed census cut, then per round the
    // Viterbi recount / prune / smoothing, every lattice walked with
    // the engine's exact fold (nested list_reduce, first-minimal ties)
    "q332_unigram_lm" ->
      s"""WITH RECURSIVE ${unigramCtes(50, 2, 4)}
          SELECT * FROM (
            SELECT 0 AS iter, piece, CAST(cnt AS BIGINT) AS cnt,
              ROUND(CAST(cnt AS DOUBLE) /
                (SELECT CAST(SUM(cnt) AS DOUBLE) FROM sel0), 6) AS prob
            FROM sel0
            UNION ALL SELECT 1, piece, CAST(cnt AS BIGINT),
              ROUND(CAST(cnt AS DOUBLE) /
                (SELECT CAST(SUM(cnt) AS DOUBLE) FROM sel1), 6)
            FROM sel1
            UNION ALL SELECT 2, piece, CAST(cnt AS BIGINT),
              ROUND(CAST(cnt AS DOUBLE) /
                (SELECT CAST(SUM(cnt) AS DOUBLE) FROM sel2), 6)
            FROM sel2)
          ORDER BY iter, piece""",
    // X288: one more lattice under the FINAL vocabulary (m2/dp2/seg2),
    // graded with X149's corpus-weighted fertility metrics
    "q333_unigram_fertility" ->
      s"""WITH RECURSIVE ${unigramCtes(50, 3, 4)}
          SELECT CAST(w.n AS BIGINT) AS n_words,
            CAST(t.n AS BIGINT) AS total_tokens,
            ROUND(CAST(t.n AS DOUBLE) / CAST(w.n AS DOUBLE), 6)
              AS avg_tokens_per_word,
            ROUND(CAST(ch.n AS DOUBLE) / CAST(t.n AS DOUBLE), 6)
              AS avg_chars_per_token
          FROM (SELECT SUM(freq) AS n FROM tok) w,
            (SELECT SUM(freq) AS n FROM walk2 WHERE pos > 0) t,
            (SELECT SUM(freq * len(term)) AS n FROM tok) ch""",
    // X286: the pinned skeleton chain (NFC, lower, trim, digit-mask to
    // <n>, whitespace collapse, trim) mirrored step for step
    "q330_categorize_text" ->
      """WITH lg AS (SELECT 'evt id=' || doc_id || ' lang=' || lang ||
              ' src=' || source || ' bytes=' || n_chars AS line
            FROM documents),
          t AS (SELECT trim(regexp_replace(regexp_replace(
              lower(trim(nfc_normalize(line))), '[0-9]+', '<n>', 'g'),
              '[ \t\n\x0B\f\r]+', ' ', 'g')) AS template, line FROM lg)
          SELECT template, COUNT(*) AS doc_count, MIN(line) AS example
          FROM t WHERE template IS NOT NULL AND template <> ''
          GROUP BY template ORDER BY template""",
    // X254: conditional counts per range — overlap double-counts, the
    // empty range still emits, nulls match nothing
    "q296_range_agg" ->
      """SELECT * FROM (
           SELECT '*-10' AS key, COUNT(CASE WHEN value < 10 THEN 1 END) AS doc_count FROM events
           UNION ALL SELECT '10-100', COUNT(CASE WHEN value >= 10 AND value < 100 THEN 1 END) FROM events
           UNION ALL SELECT '100-*', COUNT(CASE WHEN value >= 100 THEN 1 END) FROM events
           UNION ALL SELECT '50-150', COUNT(CASE WHEN value >= 50 AND value < 150 THEN 1 END) FROM events
           UNION ALL SELECT '10000-*', COUNT(CASE WHEN value >= 10000 THEN 1 END) FROM events)
         ORDER BY key""",
    // X248: the snapshot chain must answer exactly like the survivor
    // corpus — q217's oracle verbatim
    "q290_snapshot_restore" -> bm25Sql(where = "WHERE doc_id % 7 <> 0"),
    // X249: q262's wildcard oracle with the raw anchored regex
    "q291_regexp" -> wildcardSql("^mer.*$", maxExpansions = 4),
    // X250: per-filter and pairwise-intersection counts, empty buckets
    // omitted (the ES convention)
    "q292_adjacency_matrix" ->
      """SELECT key, doc_count FROM (
           SELECT 'en' AS key, COUNT(*) AS doc_count FROM documents WHERE lang = 'en'
           UNION ALL SELECT 'long', COUNT(*) FROM documents WHERE n_chars > 300
           UNION ALL SELECT 'zh', COUNT(*) FROM documents WHERE lang = 'zh'
           UNION ALL SELECT 'en&long', COUNT(*) FROM documents
             WHERE lang = 'en' AND n_chars > 300
           UNION ALL SELECT 'en&zh', COUNT(*) FROM documents
             WHERE lang = 'en' AND lang = 'zh'
           UNION ALL SELECT 'long&zh', COUNT(*) FROM documents
             WHERE n_chars > 300 AND lang = 'zh')
         WHERE doc_count > 0 ORDER BY key""",
    // X251: the census long tail, recomputed from the raw tokens; the
    // bar is (min df * 6) // 5 — Spark's Long division floors like //
    "q293_rare_terms" ->
      s"""WITH p AS (SELECT DISTINCT doc_id, u.t AS term
            FROM (SELECT doc_id, $toksSql AS tk FROM documents),
              UNNEST(tk) AS u(t) WHERE u.t <> ''),
          c AS (SELECT term, COUNT(*) AS df FROM p GROUP BY term)
          SELECT term, CAST(df AS BIGINT) AS df FROM c
          WHERE df <= (SELECT (MIN(df) * 6) // 5 FROM c) ORDER BY term""",
    // X246: the q256 gate chain plus the BM25 score join — batch-
    // relative stats (the percolator's corpus IS the arriving batch),
    // round-6 partials, decimal order-free per-pair sum
    "q288_percolate_scored" -> {
      val (k1, b) = (1.2, 0.75)
      val k1p = (k1 + 1.0).toString
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
          p AS (SELECT DISTINCT doc_id, u.t AS term
            FROM t, UNNEST(tk) AS u(t) WHERE u.t <> ''),
          v AS (SELECT term,
              ROW_NUMBER() OVER (ORDER BY COUNT(DISTINCT doc_id) DESC, term) AS rn
            FROM p GROUP BY term),
          n AS (SELECT COUNT(*) AS v FROM v),
          g AS (SELECT i FROM generate_series(0, 9999) AS s(i)),
          picks AS (
            SELECT 'q' || i AS query_id, 0 AS pr, 'must' AS clause,
              (i % v) + 1 AS rn FROM g, n
            UNION ALL SELECT 'q' || i, 1, 'should', ((i*7+3) % v) + 1 FROM g, n
            UNION ALL SELECT 'q' || i, 2, 'should', ((i*13+5) % v) + 1 FROM g, n
            UNION ALL SELECT 'q' || i, 3, 'must_not', ((i*31+11) % v) + 1 FROM g, n),
          cl0 AS (SELECT query_id, v.term, clause, pr
            FROM picks JOIN v USING (rn)),
          cl AS (SELECT query_id, term, clause FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id, term
                ORDER BY pr) AS rk FROM cl0)
            WHERE rk = 1),
          pc AS (SELECT doc_id, u.t AS term, COUNT(*) AS tf
            FROM t, UNNEST(tk) AS u(t)
            WHERE u.t <> '' AND doc_id % 20 = 0 GROUP BY 1, 2),
          dlt AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
            FROM pc GROUP BY 1),
          st AS (SELECT COUNT(*) AS n_docs,
              CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dlt),
          dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
            FROM pc GROUP BY 1),
          j AS (SELECT cl.query_id, pc.doc_id, cl.clause,
              CASE WHEN cl.clause <> 'must_not' THEN
                ROUND(LN(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                    / (CAST(df AS DOUBLE) + 0.5))
                  * CAST(tf AS DOUBLE) * CAST($k1p AS DOUBLE)
                  / (CAST(tf AS DOUBLE) + CAST($k1 AS DOUBLE)
                     * ((1.0 - CAST($b AS DOUBLE))
                        + (CAST($b AS DOUBLE) * CAST(dl AS DOUBLE)) / avgdl)), 6)
              ELSE 0.0 END AS partial
            FROM cl JOIN pc USING (term) JOIN dfq USING (term)
              JOIN dlt USING (doc_id) CROSS JOIN st),
          agg AS (SELECT query_id, doc_id,
              COUNT(CASE WHEN clause = 'must' THEN 1 END) AS n_must,
              COUNT(CASE WHEN clause = 'should' THEN 1 END) AS n_should,
              COUNT(CASE WHEN clause = 'must_not' THEN 1 END) AS n_not,
              SUM(CAST(partial AS DECIMAL(38, 6))) AS psum
            FROM j GROUP BY 1, 2),
          tot AS (SELECT query_id,
              COUNT(CASE WHEN clause = 'must' THEN 1 END) AS m,
              COUNT(CASE WHEN clause = 'should' THEN 1 END) AS s
            FROM cl GROUP BY 1)
          SELECT agg.query_id, agg.doc_id,
            CAST(agg.n_should AS BIGINT) AS n_should,
            ROUND(CAST(agg.psum AS DOUBLE), 6) AS score
          FROM agg JOIN tot USING (query_id)
          WHERE n_must = m AND n_not = 0 AND (s = 0 OR n_should >= least(1, s))
          ORDER BY query_id, doc_id"""
    },
    // X247: the q214 scored set (score > 0, the match-only contract),
    // per-lang buckets, ROW_NUMBER cut on the emitted round-6 score
    "q289_top_hits" -> {
      val (k1, b) = (1.2, 0.75)
      val k1p = (k1 + 1.0).toString
      val terms = Seq("sort", "merge", "spark")
      val tfCols = terms.zipWithIndex.map { case (t, i) =>
        s"len(list_filter(tk, x -> x = '$t')) AS tf$i" }.mkString(", ")
      val dfCols = terms.indices.map(i =>
        s"COUNT(CASE WHEN tf$i > 0 THEN 1 END) AS df$i").mkString(", ")
      val partial = terms.indices.map { i =>
        s"""ROUND(LN(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5)
           / (CAST(df$i AS DOUBLE) + 0.5))
         * CAST(tf$i AS DOUBLE) * CAST($k1p AS DOUBLE)
         / (CAST(tf$i AS DOUBLE) + CAST($k1 AS DOUBLE) * ((1.0 - CAST($b AS DOUBLE))
            + (CAST($b AS DOUBLE) * CAST(dl AS DOUBLE)) / avgdl)), 6)"""
      }.mkString(" + ")
      s"""WITH pd AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl, $tfCols
            FROM (SELECT doc_id, list_filter($toksSql, x -> x <> '') AS tk
                  FROM documents)
            WHERE len(tk) > 0),
          st AS (SELECT COUNT(*) AS n_docs,
              CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, $dfCols FROM pd),
          sc AS (SELECT pd.doc_id, ROUND($partial, 6) AS score
            FROM pd CROSS JOIN st),
          r AS (SELECT doc_id, score FROM sc WHERE score > 0),
          wf AS (SELECT r.doc_id, r.score, d.lang AS field_value
            FROM r JOIN documents d USING (doc_id)),
          c AS (SELECT field_value, COUNT(*) AS doc_count FROM wf GROUP BY 1),
          rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY field_value
              ORDER BY score DESC, doc_id) AS rank FROM wf)
          SELECT rk.field_value, c.doc_count, rk.rank, rk.doc_id, rk.score
          FROM rk JOIN c USING (field_value) WHERE rank <= 3
          ORDER BY field_value, rank"""
    },
    // X244: seed vectors summed, the q257 MLT tail over the top-2 cut
    "q287_mlt_multi" -> {
      val (mltT, mltK) = (10, 10)
      s"""WITH seeds AS MATERIALIZED (SELECT doc_id FROM
            (${bm25SqlOver(Seq("sort", "merge", "spark"), "documents",
              toksSql, topN = 2)}) AS s0),
          pd AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl, tk
            FROM (SELECT doc_id, list_filter($toksSql, x -> x <> '') AS tk
                  FROM documents)
            WHERE len(tk) > 0),
          st AS (SELECT COUNT(*) AS n_docs,
              CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM pd),
          seedtf AS (SELECT u.t AS term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM pd JOIN seeds USING (doc_id), UNNEST(tk) AS u(t)
            GROUP BY 1),
          alldf AS (SELECT u.t AS term, COUNT(DISTINCT doc_id) AS df
            FROM pd, UNNEST(tk) AS u(t) GROUP BY 1),
          msel AS (SELECT term FROM (
              SELECT s2.term,
                ROUND(CAST(s2.tf AS DOUBLE)
                  * LN(1.0 + (CAST(st.n_docs AS DOUBLE) - CAST(a.df AS DOUBLE) + 0.5)
                       / (CAST(a.df AS DOUBLE) + 0.5)), 6) AS w
              FROM seedtf s2 JOIN alldf a USING (term) CROSS JOIN st)
            ORDER BY w DESC, term ASC LIMIT $mltT),
          mtfs AS (SELECT pd.doc_id, pd.dl, msel.term,
              CAST(len(list_filter(pd.tk, x -> x = msel.term)) AS BIGINT) AS tf
            FROM pd CROSS JOIN msel),
          mdfs AS (SELECT term, COUNT(CASE WHEN tf > 0 THEN 1 END) AS df
            FROM mtfs GROUP BY 1),
          mpart AS (SELECT mtfs.doc_id, ${serpPp("mtfs", "mdfs")} AS pp
            FROM mtfs JOIN mdfs USING (term) CROSS JOIN st),
          msc AS (SELECT doc_id, SUM(pp) AS score FROM mpart GROUP BY 1)
          SELECT m.doc_id, pd.dl, ROUND(m.score, 6) AS score
          FROM msc m JOIN pd USING (doc_id)
          WHERE m.score > 0
            AND m.doc_id NOT IN (SELECT doc_id FROM seeds)
          ORDER BY m.score DESC, m.doc_id ASC LIMIT $mltK"""
    },
    // X243: the identical decimal power sums and E[x2] - E[x]2 shape
    "q286_extended_stats" ->
      """WITH v AS (SELECT event_type AS key, CAST(value AS DOUBLE) AS v
            FROM events WHERE value IS NOT NULL),
          a AS (SELECT key, COUNT(*) AS n, MIN(v) AS mn, MAX(v) AS mx,
              SUM(CAST(v AS DECIMAL(28, 8))) AS sx,
              SUM(CAST(v * v AS DECIMAL(28, 8))) AS sxx
            FROM v GROUP BY key),
          b AS (SELECT key, n, mn, mx, sx,
              CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS avg,
              GREATEST(0.0, CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
                - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) AS variance
            FROM a)
          SELECT key, n, ROUND(mn, 6) AS min, ROUND(mx, 6) AS max,
            ROUND(CAST(sx AS DOUBLE), 6) AS sum_value,
            ROUND(avg, 6) AS avg, ROUND(variance, 6) AS variance,
            ROUND(SQRT(variance), 6) AS std
          FROM b ORDER BY key""",
    // X242: the window membership from the original total order, the
    // cosine leg the mmrSql kernel arithmetic, Scala-printed weights
    "q285_rescore_window" -> {
      val (wq, wr) = (1.0.toString, 2.0.toString)
      s"""WITH h AS MATERIALIZED (${bm25SqlOver(Seq("sort", "merge", "spark"),
            "documents", toksSql, topN = 1000000000)}),
          q AS (SELECT embedding AS qv,
            sqrt((SELECT SUM(CAST(y AS DOUBLE)*CAST(y AS DOUBLE))
              FROM unnest(embedding) AS t(y))) AS qmag
            FROM embeddings WHERE vec_id = 0),
          cos AS (SELECT e.vec_id AS doc_id,
              (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
               FROM q, LATERAL (SELECT unnest(e.embedding) AS x,
                 unnest(q.qv) AS y) z) /
              (sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE))
                 FROM unnest(e.embedding) AS t(x)))
               * (SELECT qmag FROM q) + 1e-12) AS rscore
            FROM embeddings e),
          win AS (SELECT doc_id, score FROM h
            ORDER BY score DESC, doc_id ASC LIMIT 30),
          wrw AS (SELECT w.doc_id, w.score, TRUE AS rescored,
              CAST($wq AS DOUBLE) * w.score
                + CAST($wr AS DOUBLE) * COALESCE(c.rscore, 0.0) AS total
            FROM win w LEFT JOIN cos c USING (doc_id)),
          bl AS (SELECT h.doc_id, h.score, FALSE AS rescored,
              h.score AS total
            FROM h WHERE h.doc_id NOT IN (SELECT doc_id FROM win)),
          u AS (SELECT * FROM wrw UNION ALL SELECT * FROM bl)
          SELECT doc_id, score, rescored, ROUND(total, 6) AS total
          FROM u ORDER BY total DESC, doc_id ASC LIMIT 20"""
    },
    // X241: the composite-agg page after the 5th bucket = buckets 6-15
    // of the total (lang, source) bucket order
    "q284_composite_agg" ->
      """SELECT lang, source, COUNT(*) AS doc_count FROM documents
         GROUP BY lang, source ORDER BY lang, source LIMIT 10 OFFSET 5""",
    // X240: census-ranked prefix expansion + the position walk
    "q283_phrase_prefix" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
          pw AS (SELECT doc_id, CAST(u.i AS INT) AS pos,
              tk[CAST(u.i + 1 AS INT)] AS term
            FROM t, UNNEST(range(len(tk))) AS u(i)
            WHERE tk[CAST(u.i + 1 AS INT)] <> ''),
          exp AS (SELECT term FROM (
              SELECT term, COUNT(DISTINCT doc_id) AS df FROM pw GROUP BY 1)
            WHERE term LIKE 'mer%'
            ORDER BY df DESC, term ASC LIMIT 10),
          lastp AS (SELECT doc_id, pos - 1 AS pos FROM pw
            WHERE term IN (SELECT term FROM exp)),
          s0 AS (SELECT doc_id, pos FROM pw WHERE term = 'sort'),
          m AS (SELECT l.doc_id, l.pos FROM lastp l
            JOIN s0 ON s0.doc_id = l.doc_id AND s0.pos = l.pos
            WHERE l.pos >= 0)
          SELECT doc_id, COUNT(*) AS n_matches FROM m
          GROUP BY doc_id ORDER BY doc_id""",
    // X239: the q218 chain with the greedy unrolled three steps —
    // each step re-ranks the anchors surviving the overlap exclusion
    "q282_multi_snippets" ->
      s"""WITH topk AS (SELECT doc_id FROM (${bm25Sql()})),
          tt AS (SELECT d.doc_id, $toksSql AS tk
            FROM documents d JOIN topk USING (doc_id)),
          h AS (SELECT t.doc_id, CAST(u.i AS INT) AS pos
            FROM tt t, UNNEST(range(len(t.tk))) AS u(i)
            WHERE t.tk[CAST(u.i + 1 AS INT)] IN ('sort', 'merge', 'spark')),
          cand AS (SELECT a.doc_id, a.pos, COUNT(*) AS cnt
            FROM h a JOIN h b ON b.doc_id = a.doc_id
              AND b.pos >= a.pos AND b.pos <= a.pos + 8
            GROUP BY 1, 2),
          r1 AS (SELECT doc_id, pos, cnt,
              ROW_NUMBER() OVER (PARTITION BY doc_id
                ORDER BY cnt DESC, pos ASC) AS rn FROM cand),
          s1 AS (SELECT doc_id, pos AS p1, cnt AS c1 FROM r1 WHERE rn = 1),
          r2 AS (SELECT c.doc_id, c.pos, c.cnt,
              ROW_NUMBER() OVER (PARTITION BY c.doc_id
                ORDER BY c.cnt DESC, c.pos ASC) AS rn
            FROM cand c JOIN s1 ON s1.doc_id = c.doc_id
            WHERE ABS(c.pos - s1.p1) > 8),
          s2 AS (SELECT doc_id, pos AS p2, cnt AS c2 FROM r2 WHERE rn = 1),
          r3 AS (SELECT c.doc_id, c.pos, c.cnt,
              ROW_NUMBER() OVER (PARTITION BY c.doc_id
                ORDER BY c.cnt DESC, c.pos ASC) AS rn
            FROM cand c
            JOIN s1 ON s1.doc_id = c.doc_id
            JOIN s2 ON s2.doc_id = c.doc_id
            WHERE ABS(c.pos - s1.p1) > 8 AND ABS(c.pos - s2.p2) > 8),
          s3 AS (SELECT doc_id, pos AS p3, cnt AS c3 FROM r3 WHERE rn = 1),
          frags AS (SELECT doc_id, 1 AS frag, p1 AS pos, c1 AS cnt FROM s1
            UNION ALL SELECT doc_id, 2, p2, c2 FROM s2
            UNION ALL SELECT doc_id, 3, p3, c3 FROM s3)
          SELECT f.doc_id, CAST(f.frag AS INT) AS frag,
            CAST(f.pos AS INT) AS snippet_start, CAST(f.cnt AS INT) AS n_hits,
            array_to_string(t.tk[f.pos + 1 : f.pos + 9], ' ') AS snippet
          FROM frags f JOIN tt t USING (doc_id)
          ORDER BY f.doc_id, f.frag""",
    "q218_index_snippets" ->
      // the bm25 top-20 (bm25Sql verbatim as a subquery) feeds the
      // densest-window pick: anchors = query-term hit positions, count
      // hits in [p, p+8], ties earliest; snippet = 9 raw token slots
      s"""WITH topk AS (SELECT doc_id FROM (${bm25Sql()})),
          tt AS (SELECT d.doc_id, $toksSql AS tk
            FROM documents d JOIN topk USING (doc_id)),
          h AS (SELECT t.doc_id, CAST(u.i AS INT) AS pos
            FROM tt t, UNNEST(range(len(t.tk))) AS u(i)
            WHERE t.tk[CAST(u.i + 1 AS INT)] IN ('sort', 'merge', 'spark')),
          cand AS (SELECT a.doc_id, a.pos, COUNT(*) AS cnt
            FROM h a JOIN h b ON b.doc_id = a.doc_id
              AND b.pos >= a.pos AND b.pos <= a.pos + 8
            GROUP BY 1, 2),
          best AS (SELECT doc_id, pos, cnt,
              ROW_NUMBER() OVER (PARTITION BY doc_id
                ORDER BY cnt DESC, pos ASC) AS rn
            FROM cand)
          SELECT b.doc_id, CAST(b.pos AS INT) AS snippet_start,
            CAST(b.cnt AS INT) AS n_hits,
            array_to_string(t.tk[b.pos + 1 : b.pos + 9], ' ') AS snippet
          FROM best b JOIN tt t USING (doc_id)
          WHERE b.rn = 1 ORDER BY doc_id""",
    "q119_hybrid_rrf" ->
      """WITH q AS (SELECT embedding AS qv,
           sqrt((SELECT SUM(CAST(y AS DOUBLE)*CAST(y AS DOUBLE)) FROM unnest(embedding) AS t(y))) AS qmag
           FROM embeddings WHERE vec_id = 0),
          cscored AS (SELECT e.vec_id,
            (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
             FROM q, LATERAL (SELECT unnest(e.embedding) AS x, unnest(q.qv) AS y) z) /
            (sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(e.embedding) AS t(x)))
             * (SELECT qmag FROM q) + 1e-12) AS c
            FROM embeddings e),
          ctop AS (SELECT vec_id, ROUND(c, 6) AS cosine FROM cscored
            ORDER BY c DESC, vec_id ASC LIMIT 20),
          cleg AS (SELECT vec_id,
            CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id ASC) AS INT) AS r0 FROM ctop),
          stats AS (
           SELECT CAST(t.i AS INT) AS dim,
             MIN(e.embedding[CAST(t.i + 1 AS INT)]) AS mn,
             MAX(e.embedding[CAST(t.i + 1 AS INT)]) AS mx
           FROM embeddings e, LATERAL UNNEST(range(len(e.embedding))) AS t(i)
           GROUP BY dim),
          sarr AS (SELECT list(CAST(mn AS DOUBLE) ORDER BY dim) AS ml,
              list(CAST(mx AS DOUBLE) ORDER BY dim) AS xl FROM stats),
          dq AS (SELECT e.vec_id,
              list_transform(range(len(e.embedding)), i -> CAST(
                s.ml[CAST(i + 1 AS INT)] +
                (CAST(CASE WHEN s.xl[CAST(i + 1 AS INT)] = s.ml[CAST(i + 1 AS INT)] THEN 0
                   ELSE GREATEST(-128, LEAST(127,
                     CAST(FLOOR((CAST(e.embedding[CAST(i + 1 AS INT)] AS DOUBLE)
                                 - s.ml[CAST(i + 1 AS INT)]) * 255.0
                                / (s.xl[CAST(i + 1 AS INT)] - s.ml[CAST(i + 1 AS INT)])
                                + 0.5) AS BIGINT) - 128))
                 END AS DOUBLE) + 128.0)
                * (s.xl[CAST(i + 1 AS INT)] - s.ml[CAST(i + 1 AS INT)]) / 255.0
                AS FLOAT)) AS dqv
            FROM embeddings e CROSS JOIN sarr s),
          sscored AS (SELECT d.vec_id,
              (SELECT SUM(CAST(z.a AS DOUBLE) * CAST(z.b AS DOUBLE))
               FROM q, LATERAL (SELECT unnest(d.dqv) AS a, unnest(q.qv) AS b) z) AS sc
            FROM dq d),
          stop AS (SELECT vec_id, ROUND(sc, 6) AS score FROM sscored
            ORDER BY sc DESC, vec_id ASC LIMIT 20),
          sleg AS (SELECT vec_id,
            CAST(ROW_NUMBER() OVER (ORDER BY score DESC, vec_id ASC) AS INT) AS r1 FROM stop),
          fused AS (SELECT COALESCE(c.vec_id, s.vec_id) AS vec_id, c.r0, s.r1,
              COALESCE(1.0 / (60.0 + CAST(c.r0 AS DOUBLE)), 0.0)
                + COALESCE(1.0 / (60.0 + CAST(s.r1 AS DOUBLE)), 0.0) AS rrf
            FROM cleg c FULL OUTER JOIN sleg s ON c.vec_id = s.vec_id)
          SELECT vec_id, r0, r1, ROUND(rrf, 6) AS rrf FROM fused
          ORDER BY rrf DESC, vec_id ASC LIMIT 10""",
    "q120_session_traces" ->
      """WITH e AS (SELECT user_id, event_id, event_type, ts,
           epoch_us(CAST(ts AS TIMESTAMP)) AS tus FROM events),
         flg AS (SELECT user_id, event_id, event_type, ts, tus,
           CASE WHEN LAG(tus) OVER w IS NULL
                  OR tus - LAG(tus) OVER w > 1800000000 THEN 1 ELSE 0 END AS ns
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
         sess AS (SELECT user_id, event_id, event_type, ts, tus,
           CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY tus, event_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
           FROM flg)
         SELECT user_id, session_no, COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           string_agg(event_type, '>' ORDER BY tus, event_id) AS trace
         FROM sess GROUP BY user_id, session_no
         ORDER BY user_id, session_no""",
    "q121_proximity" -> proximitySql,
    "q215_index_proximity" -> proximitySql,
    "q122_datasheet" ->
      s"""WITH pr AS (SELECT source, lang,
            CAST(len($toksSql) AS BIGINT) AS tok,
            substr(md5($mdNorm), 1, 16) AS fp,
            $qualityScoreSql AS q
          FROM documents),
          base AS (SELECT source, COUNT(*) AS n_docs,
              CAST(SUM(tok) AS BIGINT) AS n_tokens,
              ROUND(CAST(SUM(tok) AS DOUBLE) / COUNT(*), 6) AS mean_tokens,
              COUNT(DISTINCT fp) AS n_contents,
              ROUND(CAST(SUM(CAST(q AS DECIMAL(38, 6))) AS DOUBLE) / COUNT(*), 6)
                AS mean_quality
            FROM pr GROUP BY 1),
          lc AS (SELECT source, lang, COUNT(*) AS n FROM pr GROUP BY 1, 2),
          maj AS (SELECT source, lang FROM (
            SELECT source, lang,
              ROW_NUMBER() OVER (PARTITION BY source ORDER BY n DESC, lang ASC) AS rk
            FROM lc) WHERE rk = 1)
          SELECT b.source, n_docs, n_tokens, mean_tokens, n_contents,
            ROUND(CAST(1.0 AS DOUBLE)
              - CAST(n_contents AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS dup_rate,
            mean_quality, m.lang AS majority_lang
          FROM base b JOIN maj m ON b.source = m.source ORDER BY b.source""",
    "q123_funnel_latency" ->
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
          f1 AS (SELECT user_id, MIN(ts) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
          f2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM e
            JOIN f1 ON e.user_id = f1.user_id AND e.ts > f1.t1
            WHERE e.event_type = 'click' GROUP BY 1),
          f3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM e
            JOIN f2 ON e.user_id = f2.user_id AND e.ts > f2.t2
            WHERE e.event_type = 'signup' GROUP BY 1),
          f4 AS (SELECT e.user_id, MIN(e.ts) AS t4 FROM e
            JOIN f3 ON e.user_id = f3.user_id AND e.ts > f3.t3
            WHERE e.event_type = 'purchase' GROUP BY 1),
          j AS (SELECT f1.user_id, t1, t2, t3, t4 FROM f1
            LEFT JOIN f2 ON f1.user_id = f2.user_id
            LEFT JOIN f3 ON f1.user_id = f3.user_id
            LEFT JOIN f4 ON f1.user_id = f4.user_id),
          d AS (
            SELECT 2 AS stage, 'click' AS stage_name,
              CAST(epoch_us(t2) - epoch_us(t1) AS DOUBLE) AS dd FROM j WHERE t2 IS NOT NULL
            UNION ALL SELECT 3, 'signup',
              CAST(epoch_us(t3) - epoch_us(t2) AS DOUBLE) FROM j WHERE t3 IS NOT NULL
            UNION ALL SELECT 4, 'purchase',
              CAST(epoch_us(t4) - epoch_us(t3) AS DOUBLE) FROM j WHERE t4 IS NOT NULL)
          SELECT stage, stage_name, COUNT(*) AS n_users,
            ROUND(CAST(SUM(CAST(dd AS DECIMAL(38, 6))) AS DOUBLE) / COUNT(*)
              / CAST(1000000.0 AS DOUBLE), 6) AS mean_s,
            ROUND(quantile_cont(dd, 0.5) / CAST(1000000.0 AS DOUBLE), 6) AS p50_s
          FROM d GROUP BY 1, 2 ORDER BY stage""",
    "q124_centroid_drift" ->
      """WITH a AS (SELECT label AS gid, COUNT(*) AS n,
            list(embedding ORDER BY vec_id) AS vecs
          FROM embeddings GROUP BY label),
          dims AS (SELECT gid, n, CAST(t.d AS INT) AS dim,
            ROUND(list_sum(list_transform(vecs, v -> CAST(v[CAST(t.d + 1 AS INT)] AS DOUBLE)))
              / n, 6) AS val
          FROM a, LATERAL UNNEST(range(64)) AS t(d)),
          cent AS (SELECT gid, n, list(val ORDER BY dim) AS c
            FROM dims GROUP BY gid, n),
          pairs AS (SELECT x.gid AS k1, y.gid AS k2,
              CAST(x.n AS BIGINT) AS n1, CAST(y.n AS BIGINT) AS n2,
              x.c AS c1, y.c AS c2
            FROM cent x JOIN cent y ON x.gid < y.gid)
          SELECT k1, k2, n1, n2,
            ROUND(
              (SELECT SUM(z.a * z.b)
               FROM (SELECT unnest(c1) AS a, unnest(c2) AS b) z) /
              (sqrt((SELECT SUM(x * x) FROM unnest(c1) AS t(x)))
               * sqrt((SELECT SUM(y * y) FROM unnest(c2) AS t(y))) + 1e-12), 6) AS cosine
          FROM pairs ORDER BY k1, k2""",
    "q125_snapshot_diff" ->
      s"""WITH newsnap AS (
            SELECT doc_id,
              CASE WHEN doc_id % 7 = 0 THEN text || ' updated' ELSE text END AS text
            FROM documents WHERE doc_id % 11 <> 0
            UNION ALL
            SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 13 = 0),
          o AS (SELECT doc_id, substr(md5($mdNorm), 1, 16) AS fo FROM documents),
          n AS (SELECT doc_id, substr(md5($mdNorm), 1, 16) AS fn
            FROM (SELECT doc_id, text FROM newsnap))
          SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
            CASE WHEN o.fo IS NULL THEN 'added'
                 WHEN n.fn IS NULL THEN 'removed'
                 WHEN o.fo = n.fn THEN 'unchanged' ELSE 'changed' END AS status
          FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
          ORDER BY doc_id""",
    "q126_collocations" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
          bgall AS (SELECT tk[CAST(u.i + 1 AS INT)] AS w1, tk[CAST(u.i + 2 AS INT)] AS w2
            FROM t, UNNEST(range(0, len(tk) - 1)) AS u(i)
            WHERE tk[CAST(u.i + 1 AS INT)] <> '' AND tk[CAST(u.i + 2 AS INT)] <> ''),
          bg AS (SELECT w1, w2, COUNT(*) AS n12 FROM bgall GROUP BY 1, 2),
          h1 AS (SELECT w1, CAST(SUM(n12) AS BIGINT) AS n1 FROM bg GROUP BY 1),
          h2 AS (SELECT w2, CAST(SUM(n12) AS BIGINT) AS n2 FROM bg GROUP BY 1),
          tot AS (SELECT CAST(SUM(n12) AS BIGINT) AS tt FROM bg),
          sc AS (SELECT b.w1, b.w2, b.n12, h1.n1, h2.n2,
              ROUND(LN(CAST(b.n12 AS DOUBLE) * CAST(tot.tt AS DOUBLE)
                / (CAST(h1.n1 AS DOUBLE) * CAST(h2.n2 AS DOUBLE))), 6) AS pmi
            FROM bg b JOIN h1 ON b.w1 = h1.w1 JOIN h2 ON b.w2 = h2.w2 CROSS JOIN tot
            WHERE b.n12 >= 5)
          SELECT w1, w2, n12, n1, n2, pmi FROM sc
          ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT 20""",
    "q69_dedup_corpus" -> {
      val sigCols = (0 until 8).map(sd => s"${minhashSql(sd)} AS m$sd").mkString(", ")
      val bandSelects = (0 until 4).map(b =>
        s"""SELECT doc_id, '$b:' || md5(CAST(m${2 * b} AS VARCHAR) || '|' ||
            CAST(m${2 * b + 1} AS VARCHAR)) AS band FROM sig""")
        .mkString(" UNION ALL ")
      // survivors = every doc whose component label equals itself, plus
      // docs that never appear in any candidate pair
      s"""WITH RECURSIVE alldocs AS (SELECT doc_id, text FROM documents
            UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM documents),
          sig AS (SELECT doc_id, $sigCols FROM alldocs),
          banded AS ($bandSelects),
          pairs AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
            FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id),
          edges AS (SELECT id1 AS a, id2 AS b FROM pairs
            UNION SELECT id2, id1 FROM pairs),
          reach(id, r) AS (
            SELECT a, b FROM edges UNION SELECT a, a FROM edges
            UNION
            SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a),
          labels AS (SELECT id, MIN(r) AS label FROM reach GROUP BY id)
          SELECT d.doc_id FROM alldocs d
          WHERE d.doc_id NOT IN (SELECT id FROM labels WHERE id <> label)
          ORDER BY d.doc_id"""
    },
    "q55_ivf_assign" ->
      """WITH cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 4)
         SELECT e.vec_id, CAST((
           SELECT c.cid FROM cents c
           ORDER BY (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
                     FROM (SELECT unnest(e.embedding) AS x, unnest(c.cv) AS y) z) DESC,
                    c.cid ASC
           LIMIT 1) AS INT) AS ivf_list
         FROM embeddings e ORDER BY e.vec_id""",
    "q46_embedding_neardup" ->
      """WITH b AS (SELECT vec_id, embedding,
           list_aggregate(list_transform(embedding[1:8],
             x -> CASE WHEN x > 0 THEN '1' ELSE '0' END), 'string_agg', '') AS bucket,
           sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(embedding) AS t(x))) AS mag
           FROM embeddings),
         pairs AS (SELECT a.vec_id AS id1, b2.vec_id AS id2,
           (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
            FROM (SELECT unnest(a.embedding) AS x, unnest(b2.embedding) AS y) z)
           / (a.mag * b2.mag + 1e-12) AS c
           FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
         SELECT id1, id2, ROUND(c, 6) AS cosine FROM pairs WHERE c >= 0.3
         ORDER BY id1, id2""",
    "q36_lsh_buckets" ->
      """SELECT list_aggregate(list_transform(embedding[1:12],
           x -> CASE WHEN x > 0 THEN '1' ELSE '0' END), 'string_agg', '') AS bucket,
         COUNT(*) AS n FROM embeddings GROUP BY bucket ORDER BY bucket""",
    "q40_fingerprint" ->
      s"SELECT doc_id, substr(md5($mdNorm), 1, 16) AS fp FROM documents ORDER BY doc_id",
    "q41_exact_dup_groups" ->
      s"""SELECT substr(md5($mdNorm), 1, 16) AS fp, COUNT(*) AS dup_count,
          MIN(doc_id) AS canonical_id FROM documents GROUP BY fp ORDER BY fp""",
    "q42_minhash_sig" ->
      s"""SELECT doc_id, ${minhashSql(0)} AS m0, ${minhashSql(1)} AS m1,
          ${minhashSql(2)} AS m2, ${minhashSql(3)} AS m3
          FROM documents ORDER BY doc_id""",
    "q43_band_buckets" ->
      s"""SELECT (${minhashSql(0)}) % 64 AS band_key, COUNT(*) AS n_docs
          FROM documents GROUP BY band_key ORDER BY band_key""",
    "q44_simhash16" -> {
      val bits = (0 until 16).map { b =>
        s"""(CASE WHEN list_sum(list_transform($toksSql,
            t -> CASE WHEN substr(md5(t), ${b + 1}, 1) IN ('8','9','a','b','c','d','e','f')
                 THEN 1 ELSE -1 END)) > 0 THEN ${1L << b} ELSE 0 END)"""
      }.mkString(" + ")
      s"SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM documents ORDER BY doc_id"
    },
    "q45_jaccard_pairs" -> {
      val sh = s"list_distinct($shingle3Sql)"
      s"""WITH s AS (SELECT doc_id, $sh AS sh FROM documents)
          SELECT a.doc_id AS id1, b.doc_id AS id2,
            ROUND(CASE WHEN len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) = 0 THEN 0.0
              ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                   CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) END, 6) AS jaccard
          FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
          ORDER BY id1"""
    },
    "q67_jaccard_hashed" -> {
      // hashed shingle sets: distinct 28-bit md5 bases, mirroring
      // Dedup.shingleHashSets exactly
      val sh =
        s"""list_distinct(list_transform($shingle3Sql,
            s -> CAST(concat('0x', substr(md5(s), 1, 7)) AS BIGINT)))"""
      s"""WITH s AS (SELECT doc_id, $sh AS sh FROM documents)
          SELECT a.doc_id AS id1, b.doc_id AS id2,
            ROUND(CASE WHEN len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) = 0 THEN 0.0
              ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                   CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) END, 6) AS jaccard
          FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
          ORDER BY id1"""
    },
    "q47_langid" -> {
      val hit: Map[String, String] = TextAnalysis.stopwords.map { case (lang, ws) =>
        val inList = ws.map(w => s"'$w'").mkString(",")
        lang -> s"len(list_filter($toksSql, t -> t IN ($inList)))"
      }
      val langs = TextAnalysis.stopwords.keys.toSeq.sorted
      val greatest = s"greatest(${langs.map(hit).mkString(", ")})"
      val cases = langs.map(l => s"WHEN ${hit(l)} = __g THEN '$l'").mkString(" ")
      s"""SELECT doc_id, CASE WHEN __g = 0 THEN 'und' $cases END AS lang_pred FROM (
          SELECT doc_id, text, $greatest AS __g FROM documents) ORDER BY doc_id"""
    },
    "q48_quality" -> {
      val nTok = s"len($toksSql)"
      val nChars = "length(text)"
      val punct = s"""($nChars - length(regexp_replace(text, '[\\.,;:!\\?''"()\\[\\]{}]', '', 'g')))"""
      val stopList = TextAnalysis.stopwords("en").map(w => s"'$w'").mkString(",")
      val stopHits = s"len(list_filter($toksSql, t -> t IN ($stopList)))"
      s"""SELECT doc_id, CAST($nTok AS BIGINT) AS n_tokens,
          ROUND(CAST($punct AS DOUBLE) / greatest($nChars, 1), 6) AS punct_ratio,
          ROUND(CAST($stopHits AS DOUBLE) / greatest($nTok, 1), 6) AS stopword_ratio,
          $qualityScoreSql AS score
          FROM documents ORDER BY doc_id"""
    },
    "q101_adaptive_cutoff" ->
      s"""WITH s AS (SELECT doc_id, $qualityScoreSql AS score FROM documents),
         c AS (SELECT quantile_cont(score, 0.1) AS cut FROM s)
         SELECT doc_id, score, ROUND(cut, 6) AS cutoff FROM s, c
         WHERE score >= cut ORDER BY doc_id""",
    "q49_token_counts" -> {
      val nTok = s"len($toksSql)"
      val bpe = s"list_sum(list_transform($toksSql, t -> greatest(CAST(ceil(length(t) / 4.0) AS BIGINT), 1)))"
      s"""SELECT doc_id, CAST($nTok AS BIGINT) AS n_tokens, CAST($bpe AS BIGINT) AS n_bpe
          FROM documents ORDER BY doc_id"""
    },
    "q50_multimodal_stats" ->
      """SELECT doc_id AS media_id, 'image' AS kind, CAST(strlen(text) AS BIGINT) AS n_bytes,
         md5(text) AS payload_md5 FROM documents ORDER BY media_id""",
    "q56_chunks" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          n AS (SELECT doc_id, toks,
            CASE WHEN len(toks) <= 64 THEN 1
                 ELSE CAST(ceil((len(toks) - 64) / 48.0) AS INT) + 1 END AS nch
            FROM t),
          c AS (SELECT doc_id, toks, UNNEST(range(nch)) AS sq FROM n),
          chunks AS (SELECT doc_id, CAST(sq AS INT) AS sequence_no,
            array_to_string(toks[CAST(sq*48+1 AS INT):CAST(sq*48+64 AS INT)], ' ') AS chunk
            FROM c)
          SELECT doc_id, sequence_no, CAST(length(chunk) AS INT) AS chunk_len,
            md5(chunk) AS chunk_md5
          FROM chunks ORDER BY doc_id, sequence_no""",
    "q57_scrub" ->
      """WITH s AS (SELECT doc_id,
           trim(regexp_replace(
             regexp_replace(
               regexp_replace(text, 'https?://[^ \t\n\x0B\f\r]+', ' ', 'g'),
               '[^ \t\n\x0B\f\r@]+@[^ \t\n\x0B\f\r@]+\.[^ \t\n\x0B\f\r@]+', ' ', 'g'),
             '[ \t\n\x0B\f\r]+', ' ', 'g')) AS scrubbed
           FROM documents)
         SELECT doc_id, md5(scrubbed) AS scrubbed_md5,
           CAST(length(scrubbed) AS INT) AS scrubbed_len
         FROM s ORDER BY doc_id""",
    "q155_sliding_window" ->
      """WITH w AS (SELECT ts, event_type, value,
           time_bucket(INTERVAL '5 minutes', ts) - CAST(u.i AS INT) * INTERVAL '5 minutes'
             AS bucket_start
         FROM events, UNNEST(range(2)) AS u(i))
         SELECT CAST(epoch(bucket_start) AS BIGINT) AS bucket_start,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE) AS sum_value
         FROM w GROUP BY bucket_start, event_type
         ORDER BY bucket_start, event_type""",
    "q156_truncate" ->
      s"""WITH c AS (SELECT doc_id,
           list_filter($toksSql, t -> t <> '') AS toks,
           CAST(len(list_filter($toksSql, t -> t <> '')) AS BIGINT) AS n_tokens
         FROM documents)
         SELECT doc_id, n_tokens,
           CAST(LEAST(n_tokens, 30) AS BIGINT) AS n_kept,
           n_tokens > 30 AS truncated,
           -- COALESCE: DuckDB array_to_string([]) is NULL where Spark
           -- array_join([]) is '' (no null texts in any SF, so '' is exact)
           COALESCE(CASE WHEN n_tokens <= 30 THEN array_to_string(toks, ' ')
                ELSE array_to_string(
                  list_concat(toks[1:15],
                    toks[CAST(n_tokens - 14 AS INT):CAST(n_tokens AS INT)]), ' ')
           END, '') AS text_trunc
         FROM c ORDER BY doc_id""",
    "q157_fim_spans" ->
      s"""WITH c AS (SELECT doc_id,
           list_filter($toksSql, t -> t <> '') AS toks,
           CAST(len(list_filter($toksSql, t -> t <> '')) AS BIGINT) AS n_tokens,
           CAST(concat('0x', substr(md5('s8|a' || CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) % 10000 AS ba,
           CAST(concat('0x', substr(md5('s8|b' || CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) % 10000 AS bb,
           CAST(concat('0x', substr(md5('s8|fim' || CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) % 10000 AS bf
         FROM documents)
         SELECT doc_id, n_tokens, bf < 9000 AS fim,
           LEAST(ba % (n_tokens + 1), bb % (n_tokens + 1)) AS p_end,
           GREATEST(ba % (n_tokens + 1), bb % (n_tokens + 1)) AS s_start,
           COALESCE(array_to_string(
             toks[CAST(LEAST(ba % (n_tokens + 1), bb % (n_tokens + 1)) + 1 AS INT):
                  CAST(GREATEST(ba % (n_tokens + 1), bb % (n_tokens + 1)) AS INT)],
             ' '), '') AS middle_text
         FROM c ORDER BY doc_id""",
    "q158_rollup_datasheet" ->
      s"""WITH pr AS (SELECT source, lang,
            CAST(len($toksSql) AS BIGINT) AS tok,
            substr(md5($mdNorm), 1, 16) AS fp,
            $qualityScoreSql AS q
          FROM documents)
          SELECT COALESCE(source, '<all>') AS key,
            COALESCE(lang, '<all>') AS lang,
            CAST(GROUPING(source) * 2 + GROUPING(lang) AS BIGINT) AS level,
            COUNT(*) AS n_docs,
            CAST(SUM(tok) AS BIGINT) AS n_tokens,
            ROUND(CAST(SUM(tok) AS DOUBLE) / COUNT(*), 6) AS mean_tokens,
            COUNT(DISTINCT fp) AS n_contents,
            ROUND(CAST(1.0 AS DOUBLE)
              - CAST(COUNT(DISTINCT fp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
              AS dup_rate,
            ROUND(CAST(SUM(CAST(q AS DECIMAL(38, 6))) AS DOUBLE) / COUNT(*), 6)
              AS mean_quality
          FROM pr GROUP BY ROLLUP(source, lang)
          ORDER BY level, key, lang""",
    "q159_span_corrupt" ->
      s"""WITH tok AS (
           SELECT doc_id, CAST(u.i AS INT) AS pos, t[CAST(u.i + 1 AS INT)] AS term
           FROM (SELECT doc_id, $toksSql AS t FROM documents),
                UNNEST(range(0, len(t))) u(i)
           WHERE t[CAST(u.i + 1 AS INT)] IS NOT NULL AND t[CAST(u.i + 1 AS INT)] <> ''),
         m AS (SELECT doc_id, pos, term,
             CAST(concat('0x', substr(md5('s8sc' || CAST(doc_id AS VARCHAR) || ':'
               || CAST(pos AS VARCHAR)), 1, 7)) AS BIGINT) % 10000 < 1500 AS msk
           FROM tok),
         s AS (SELECT doc_id, pos, term, msk,
             msk AND NOT COALESCE(LAG(msk) OVER (PARTITION BY doc_id ORDER BY pos), false) AS st
           FROM m),
         x AS (SELECT doc_id, pos, term, msk, st,
             SUM(CASE WHEN st THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS si
           FROM s)
         SELECT doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN msk THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
           CAST(SUM(CASE WHEN st THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
           COALESCE(string_agg(CASE WHEN NOT msk THEN term
               WHEN st THEN '<X' || CAST(si AS VARCHAR) || '>' END,
             ' ' ORDER BY pos), '') AS corrupted_text,
           COALESCE(string_agg(CASE WHEN st THEN '<X' || CAST(si AS VARCHAR) || '> ' || term
               WHEN msk THEN term END,
             ' ' ORDER BY pos), '') AS targets_text
         FROM x GROUP BY doc_id ORDER BY doc_id""",
    "q160_length_batches" ->
      s"""WITH c AS (SELECT doc_id,
            CAST(len(list_filter($toksSql, t -> t <> '')) AS BIGINT) AS n_tokens
          FROM documents),
         b AS (SELECT doc_id, n_tokens,
            CASE WHEN (GREATEST(n_tokens, 1) & (GREATEST(n_tokens, 1) - 1)) = 0
                 THEN GREATEST(n_tokens, 1)
                 ELSE CAST(power(2, length(bin(GREATEST(n_tokens, 1)))) AS BIGINT) END
              AS bucket_cap,
            CAST(concat('0x', substr(md5('s8|shard' || CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT)
              % 10000 % 4 AS shard,
            CAST(concat('0x', substr(md5('s8|order' || CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT)
              % 10000 AS sk
          FROM c),
         r AS (SELECT doc_id, n_tokens, bucket_cap, shard, sk,
            ROW_NUMBER() OVER (PARTITION BY bucket_cap, shard ORDER BY sk, doc_id) AS rn
          FROM b),
         g AS (SELECT doc_id, n_tokens, bucket_cap, shard,
            CAST(FLOOR((rn - 1) / 8) AS BIGINT) AS batch_id FROM r),
         h AS (SELECT doc_id, n_tokens, bucket_cap, shard, batch_id,
            MAX(n_tokens) OVER (PARTITION BY bucket_cap, shard, batch_id) AS batch_max
          FROM g)
         SELECT doc_id, n_tokens, bucket_cap, shard, batch_id, batch_max,
           ROUND(CASE WHEN batch_max = 0 THEN CAST(0.0 AS DOUBLE)
             ELSE CAST(1.0 AS DOUBLE)
               - CAST(n_tokens AS DOUBLE) / CAST(batch_max AS DOUBLE) END, 6) AS pad_frac
         FROM h ORDER BY doc_id""",
    "q161_score_calibrate" ->
      s"""WITH pr AS (SELECT doc_id, source, $qualityScoreSql AS score FROM documents),
         st AS (SELECT source, COUNT(*) AS n,
             SUM(CAST(score AS DECIMAL(18,6))) AS s,
             SUM(CAST(CAST(score AS DECIMAL(18,6)) * CAST(score AS DECIMAL(18,6))
               AS DECIMAL(38,12))) AS s2
           FROM pr GROUP BY 1),
         r AS (SELECT doc_id, source, score,
             ROUND(percent_rank() OVER (PARTITION BY source ORDER BY score), 6) AS pct_rank
           FROM pr)
         SELECT r.doc_id, r.source, r.score, r.pct_rank,
           ROUND(CASE WHEN st.n > 1 AND
               (CAST(st.s2 AS DOUBLE) - CAST(st.s AS DOUBLE) * CAST(st.s AS DOUBLE) / st.n)
                 / (st.n - 1) > 0
             THEN (r.score - CAST(st.s AS DOUBLE) / st.n)
               / sqrt((CAST(st.s2 AS DOUBLE) - CAST(st.s AS DOUBLE) * CAST(st.s AS DOUBLE) / st.n)
                 / (st.n - 1))
             ELSE 0.0 END, 6) AS z
         FROM r JOIN st ON r.source = st.source ORDER BY r.doc_id""",
    "q164_dup_spans" ->
      s"""$dupSpansCtesSql
         SELECT doc_id, span_start, span_end, span_end - span_start AS n_tokens
         FROM sp ORDER BY doc_id, span_start""",
    "q173_bpe_merges" -> bpeMergesSql(5),
    "q172_effective_tokens" ->
      s"""WITH keepd AS (SELECT doc_id, source, text FROM (
             SELECT doc_id, source, text,
               ROW_NUMBER() OVER (PARTITION BY $normFpSql ORDER BY doc_id) AS rn
             FROM documents) WHERE rn = 1),
         ${dupSpansCtesOn("keepd")},
         per AS (SELECT t.doc_id, CAST(len(tk) AS BIGINT) AS n_tok,
             CAST(COALESCE((SELECT SUM(sp.span_end - sp.span_start)
               FROM sp WHERE sp.doc_id = t.doc_id), 0) AS BIGINT) AS n_rem
           FROM t)
         SELECT k.source, COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS raw_tokens,
           CAST(SUM(n_tok - n_rem) AS BIGINT) AS effective_tokens,
           ROUND(CAST(SUM(n_tok - n_rem) AS DOUBLE)
             / CAST(SUM(n_tok) AS DOUBLE), 6) AS retention
         FROM per JOIN keepd k ON per.doc_id = k.doc_id
         GROUP BY k.source ORDER BY k.source""",
    "q171_norm_dedup_delta" ->
      s"""WITH bd AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 100000, regexp_replace(text, ' ', ', ', 'g')
           FROM documents),
         fp AS (SELECT doc_id,
             substr(md5($mdNorm), 1, 16) AS raw_fp,
             $normFpSql AS norm_fp
           FROM bd)
         SELECT a.doc_id AS id1, b.doc_id AS id2, a.norm_fp
         FROM fp a JOIN fp b
           ON a.norm_fp = b.norm_fp AND a.doc_id < b.doc_id
         WHERE a.raw_fp <> b.raw_fp ORDER BY id1, id2""",
    "q170_lsh_plan" -> lshPlanSql,
    "q169_cut_spans" ->
      s"""$dupSpansCtesSql,
         tok AS (SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
             tk[CAST(u.i + 1 AS INT)] AS term
           FROM t, UNNEST(range(0, len(tk))) u(i)),
         kept AS (SELECT tok.doc_id, pos, term FROM tok
           WHERE NOT EXISTS (SELECT 1 FROM sp
             WHERE sp.doc_id = tok.doc_id
               AND tok.pos >= sp.span_start AND tok.pos < sp.span_end))
         SELECT t.doc_id,
           COALESCE((SELECT string_agg(k.term, ' ' ORDER BY k.pos)
             FROM kept k WHERE k.doc_id = t.doc_id), '') AS clean_text,
           CAST(len(tk) AS BIGINT) AS n_tokens,
           CAST(len(tk) - (SELECT COUNT(*) FROM kept k WHERE k.doc_id = t.doc_id)
             AS BIGINT) AS n_removed
         FROM t ORDER BY t.doc_id""",
    "q165_url_profile" ->
      s"""WITH u AS ($syntheticUrlsSql),
         p AS (SELECT doc_id, url,
             lower(regexp_extract(trim(url),
               '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?([^/?#]*)', 1)) AS auth,
             regexp_extract(trim(url),
               '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?[^/?#]*([^?#]*)', 1) AS pth,
             regexp_extract(trim(url), '\\?([^#]*)', 1) AS qry
           FROM u),
         h AS (SELECT doc_id, url, pth, qry,
             regexp_replace(regexp_replace(auth, ':[0-9]+$$', ''), '^www\\.', '') AS host0
           FROM p),
         n AS (SELECT doc_id, url, host0,
             string_split(host0, '.') AS labels,
             CASE WHEN regexp_replace(pth, '/+$$', '') = '' THEN '/'
               ELSE regexp_replace(pth, '/+$$', '') END AS npath,
             list_sort(list_filter(string_split(qry, '&'), q -> q <> ''
               AND NOT (lower(string_split(q, '=')[1]) IN ($trackingParamsSql)))) AS kept
           FROM h)
         SELECT doc_id, url,
           CASE WHEN host0 = '' THEN NULL ELSE host0 END AS host,
           CASE WHEN host0 = '' OR len(labels) < 2 THEN NULL
             WHEN len(labels) >= 3
               AND labels[-2] || '.' || labels[-1] IN ($multiSuffixSql)
               THEN labels[-3] || '.' || labels[-2] || '.' || labels[-1]
             ELSE labels[-2] || '.' || labels[-1] END AS registrable_domain,
           CASE WHEN host0 = '' THEN url
             ELSE 'https://' || host0 || npath ||
               (CASE WHEN len(kept) > 0
                 THEN '?' || array_to_string(kept, '&') ELSE '' END)
           END AS norm_url
         FROM n ORDER BY doc_id""",
    "q166_domain_caps" ->
      s"""WITH u AS ($syntheticUrlsSql),
         p AS (SELECT doc_id,
             regexp_replace(regexp_replace(
               lower(regexp_extract(trim(url),
                 '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?([^/?#]*)', 1)),
               ':[0-9]+$$', ''), '^www\\.', '') AS host0
           FROM u),
         d AS (SELECT doc_id, string_split(host0, '.') AS labels, host0 FROM p),
         r AS (SELECT doc_id,
             CASE WHEN host0 = '' OR len(labels) < 2 THEN NULL
               WHEN len(labels) >= 3
                 AND labels[-2] || '.' || labels[-1] IN ($multiSuffixSql)
                 THEN labels[-3] || '.' || labels[-2] || '.' || labels[-1]
               ELSE labels[-2] || '.' || labels[-1] END AS registrable_domain
           FROM d),
         w AS (SELECT doc_id, registrable_domain,
             ROW_NUMBER() OVER (PARTITION BY registrable_domain ORDER BY doc_id)
               AS rn
           FROM r)
         SELECT doc_id, registrable_domain, CAST(rn AS BIGINT) AS rn
         FROM w WHERE rn <= 3 ORDER BY doc_id""",
    "q163_calibrate_edges" ->
      """WITH pr AS (
           SELECT doc_id, 'const' AS source, CAST(0.5 AS DOUBLE) AS score
             FROM documents WHERE doc_id <= 20
           UNION ALL
           SELECT doc_id, 'single', CAST(doc_id % 7 AS DOUBLE) / 10.0
             FROM documents WHERE doc_id = 21
           UNION ALL
           SELECT doc_id, 'normal', CAST(doc_id % 7 AS DOUBLE) / 10.0
             FROM documents WHERE doc_id BETWEEN 22 AND 60),
         st AS (SELECT source, COUNT(*) AS n,
             SUM(CAST(score AS DECIMAL(18,6))) AS s,
             SUM(CAST(CAST(score AS DECIMAL(18,6)) * CAST(score AS DECIMAL(18,6))
               AS DECIMAL(38,12))) AS s2
           FROM pr GROUP BY 1),
         r AS (SELECT doc_id, source, score,
             ROUND(percent_rank() OVER (PARTITION BY source ORDER BY score), 6) AS pct_rank
           FROM pr)
         SELECT r.doc_id, r.source, r.score, r.pct_rank,
           ROUND(CASE WHEN st.n > 1 AND
               (CAST(st.s2 AS DOUBLE) - CAST(st.s AS DOUBLE) * CAST(st.s AS DOUBLE) / st.n)
                 / (st.n - 1) > 0
             THEN (r.score - CAST(st.s AS DOUBLE) / st.n)
               / sqrt((CAST(st.s2 AS DOUBLE) - CAST(st.s AS DOUBLE) * CAST(st.s AS DOUBLE) / st.n)
                 / (st.n - 1))
             ELSE 0.0 END, 6) AS z
         FROM r JOIN st ON r.source = st.source ORDER BY r.doc_id""",
    "q162_containment" ->
      s"""WITH hs AS (SELECT doc_id, list_distinct($bases3Sql) AS sh FROM documents),
         sz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_sh FROM hs WHERE len(sh) > 0),
         p AS (SELECT doc_id, unnest(sh) AS h FROM hs),
         ok AS (SELECT h FROM p GROUP BY h HAVING COUNT(*) BETWEEN 2 AND 50),
         k AS (SELECT p.doc_id, p.h FROM p JOIN ok USING (h)),
         pr AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS n_shared
           FROM k a JOIN k b ON a.h = b.h AND a.doc_id < b.doc_id
           GROUP BY 1, 2 HAVING COUNT(*) >= 2)
         SELECT id1, id2, n_shared, s1.n_sh AS n1, s2.n_sh AS n2,
           ROUND(CAST(n_shared AS DOUBLE) / CAST(s1.n_sh AS DOUBLE), 6) AS c1,
           ROUND(CAST(n_shared AS DOUBLE) / CAST(s2.n_sh AS DOUBLE), 6) AS c2
         FROM pr JOIN sz s1 ON pr.id1 = s1.doc_id JOIN sz s2 ON pr.id2 = s2.doc_id
         ORDER BY id1, id2""",
    "q149_queue_window" ->
      """SELECT CAST(epoch(time_bucket(INTERVAL '5 minutes', ts)) AS BIGINT) AS bucket_start,
         event_type AS status, COUNT(*) AS n_jobs,
         CAST(SUM(event_id % 5 + 1) AS BIGINT) AS n_chunks
         FROM events GROUP BY bucket_start, status ORDER BY bucket_start, status""",
    "q51_event_window" ->
      """SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS bucket_start,
         event_type, COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE) AS sum_value
         FROM events GROUP BY bucket_start, event_type ORDER BY bucket_start, event_type""",
    "q52_json_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
         COUNT(*) AS n,
         CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
         FROM events GROUP BY k_mod ORDER BY k_mod""",
    "q58_kmeans_iter" ->
      """WITH cents AS (SELECT vec_id AS ccid, embedding AS cv FROM embeddings WHERE vec_id < 4),
         assign AS (SELECT e.vec_id, e.embedding, CAST((
             SELECT c.ccid FROM cents c
             ORDER BY (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
                       FROM (SELECT unnest(e.embedding) AS x, unnest(c.cv) AS y) z) DESC,
                      c.ccid ASC
             LIMIT 1) AS INT) AS cid
           FROM embeddings e)
         SELECT a.cid, CAST(t.i AS INT) AS dim,
           CAST(SUM(CAST(CAST(a.embedding[CAST(t.i + 1 AS INT)] AS DOUBLE)
                    AS DECIMAL(28,8))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS c
         FROM assign a, LATERAL UNNEST(range(len(a.embedding))) AS t(i)
         GROUP BY a.cid, dim ORDER BY a.cid, dim""",
    "q153_ivf_index" -> ivfSearchSql,
    "q167_ivf_append" -> ivfSearchSql,
    "q174_ivf_delete" ->
      ivfSearchSqlOver("(SELECT * FROM embeddings WHERE vec_id % 2 = 0)"),
    // the snapshot chain serves over the copy's surviving corpus; the
    // centroids/query stay frozen external parameters from the source
    "q325_ivf_snapshot" ->
      ivfSearchSqlOver("(SELECT * FROM embeddings WHERE vec_id % 7 <> 0)"),
    "q326_qstore_snapshot" -> qstoreLifecycleSql,
    "q59_ivf_topk" ->
      """WITH cents AS (SELECT vec_id AS ccid, embedding AS cv FROM embeddings WHERE vec_id < 4),
         q AS (SELECT embedding AS qv,
           sqrt((SELECT SUM(CAST(y AS DOUBLE)*CAST(y AS DOUBLE)) FROM unnest(embedding) AS t(y))) AS qmag
           FROM embeddings WHERE vec_id = 5),
         probes AS (SELECT c.ccid FROM cents c, q
           ORDER BY (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
                     FROM (SELECT unnest(c.cv) AS x, unnest(q.qv) AS y) z) DESC,
                    c.ccid ASC
           LIMIT 2),
         assign AS (SELECT e.vec_id, CAST((
             SELECT c.ccid FROM cents c
             ORDER BY (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
                       FROM (SELECT unnest(e.embedding) AS x, unnest(c.cv) AS y) z) DESC,
                      c.ccid ASC
             LIMIT 1) AS INT) AS ivf_list
           FROM embeddings e),
         scored AS (SELECT e.vec_id,
           (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
            FROM q, LATERAL (SELECT unnest(e.embedding) AS x, unnest(q.qv) AS y) z) /
           (sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(e.embedding) AS t(x)))
            * (SELECT qmag FROM q) + 1e-12) AS c
           FROM embeddings e JOIN assign a USING (vec_id)
           WHERE a.ivf_list IN (SELECT ccid FROM probes))
         SELECT vec_id, ROUND(c, 6) AS cosine FROM scored
         ORDER BY c DESC, vec_id ASC LIMIT 10""",
    "q60_tfidf" ->
      s"""WITH postings AS (
           SELECT doc_id, unnest($toksSql) AS term FROM documents),
         tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM postings
           WHERE term <> '' GROUP BY doc_id, term),
         df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
         n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
         scored AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
           CAST(tf.tf AS DOUBLE) *
             (CAST((SELECT n FROM n) + 1 AS DOUBLE) / CAST(df.df + 1 AS DOUBLE)) AS tfidf
           FROM tf JOIN df USING (term)),
         ranked AS (SELECT doc_id, term, tf, df, tfidf,
           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS INT) AS rank
           FROM scored)
         SELECT doc_id, term, tf, df, ROUND(tfidf, 6) AS tfidf, rank
         FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""",
    "q61_quantize" ->
      """WITH stats AS (
           SELECT CAST(t.i AS INT) AS dim,
             MIN(e.embedding[CAST(t.i + 1 AS INT)]) AS mn,
             MAX(e.embedding[CAST(t.i + 1 AS INT)]) AS mx
           FROM embeddings e, LATERAL UNNEST(range(len(e.embedding))) AS t(i)
           GROUP BY dim)
         SELECT e.vec_id, s.dim,
           CASE WHEN s.mx = s.mn THEN 0
             ELSE CAST(GREATEST(-128, LEAST(127,
               CAST(FLOOR((CAST(e.embedding[CAST(s.dim + 1 AS INT)] AS DOUBLE)
                           - CAST(s.mn AS DOUBLE)) * 255.0
                          / (CAST(s.mx AS DOUBLE) - CAST(s.mn AS DOUBLE))
                          + 0.5) AS BIGINT) - 128)) AS INT)
           END AS q
         FROM embeddings e, stats s
         ORDER BY e.vec_id, s.dim""",
    "q64_packing" ->
      s"""WITH tc AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens FROM documents),
         cum AS (SELECT doc_id, n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before
           FROM tc)
         SELECT doc_id, n_tokens, tokens_before,
           tokens_before // 2048 AS pack_id,
           CASE WHEN n_tokens > 0 THEN (tokens_before + n_tokens - 1) // 2048
                ELSE tokens_before // 2048 END AS pack_last
         FROM cum ORDER BY doc_id""",
    "q150_pack_slices" ->
      s"""WITH tc AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens FROM documents),
         cum AS (SELECT doc_id, n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before
           FROM tc),
         a AS (SELECT doc_id, n_tokens, tokens_before,
           tokens_before // 2048 AS p0,
           (tokens_before + n_tokens - 1) // 2048 AS p1
           FROM cum WHERE n_tokens > 0)
         SELECT doc_id, CAST(u.p AS BIGINT) AS pack_id,
           GREATEST(CAST(0 AS BIGINT), u.p * 2048 - tokens_before) AS tok_start,
           LEAST(n_tokens, (u.p + 1) * 2048 - tokens_before) AS tok_end
         FROM a, UNNEST(range(p0, p1 + 1)) AS u(p)
         ORDER BY doc_id, pack_id""",
    "q151_oov_rate" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         nz AS (SELECT doc_id, tok FROM tok WHERE tok <> ''),
         census AS (SELECT tok, COUNT(*) AS n FROM nz GROUP BY tok),
         vocab AS (SELECT tok FROM census ORDER BY n DESC, tok ASC LIMIT 50)
         SELECT t.doc_id, COUNT(*) AS n_tokens,
           CAST(COUNT(CASE WHEN v.tok IS NULL THEN 1 END) AS BIGINT) AS n_oov,
           ROUND(CAST(COUNT(CASE WHEN v.tok IS NULL THEN 1 END) AS DOUBLE)
             / COUNT(*), 6) AS oov_rate
         FROM nz t LEFT JOIN vocab v ON t.tok = v.tok
         GROUP BY t.doc_id ORDER BY t.doc_id""",
    "q65_repetition" -> {
      val shSql = shingle3Sql
      s"""WITH base AS (SELECT doc_id, $toksSql AS toks, $shSql AS sh FROM documents)
         SELECT doc_id,
           ROUND(CASE WHEN len(sh) = 0 THEN 0.0
             ELSE CAST(len(sh) - len(list_distinct(sh)) AS DOUBLE) / CAST(len(sh) AS DOUBLE)
           END, 6) AS dup_ngram_frac,
           ROUND(CASE WHEN len(toks) = 0 THEN 0.0
             ELSE CAST(list_max(list_transform(list_distinct(toks),
                    t -> len(list_filter(toks, x -> x = t)))) AS DOUBLE)
                  / CAST(len(toks) AS DOUBLE)
           END, 6) AS top_token_frac
         FROM base ORDER BY doc_id"""
    },
    "q66_decontaminate" ->
      s"""WITH corpus AS (SELECT doc_id, csh AS h FROM (
             SELECT doc_id, unnest(list_distinct(list_transform($shingle3Sql,
               s -> substr(md5(s), 1, 16)))) AS csh
             FROM documents WHERE doc_id >= 5)),
         bench AS (SELECT doc_id AS bench_id, bsh AS h FROM (
             SELECT doc_id, unnest(list_distinct(list_transform($shingle3Sql,
               s -> substr(md5(s), 1, 16)))) AS bsh
             FROM documents WHERE doc_id < 5))
         SELECT c.doc_id, b.bench_id, COUNT(*) AS n_shared
         FROM corpus c JOIN bench b USING (h)
         GROUP BY c.doc_id, b.bench_id
         HAVING COUNT(*) >= 1
         ORDER BY c.doc_id, b.bench_id""",
    "q63_hash_sample" ->
      """SELECT doc_id, source FROM documents
         WHERE CAST(concat('0x', substr(md5('' || COALESCE(CAST(doc_id AS VARCHAR), '')), 1, 7)) AS BIGINT) % 10000
           < CASE WHEN source = 'src1' THEN 0 WHEN source = 'src0' THEN 3000 ELSE 1000 END
         ORDER BY doc_id""",
    "q62_asof_join" ->
      """WITH clicks AS (SELECT user_id, ts AS click_ts, MAX(value) AS click_value
           FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
         SELECT p.event_id, p.user_id, p.ts, p.value, c.click_ts, c.click_value
         FROM (SELECT event_id, user_id, ts, value FROM events
               WHERE event_type = 'purchase') p
         ASOF LEFT JOIN clicks c
           ON p.user_id = c.user_id AND c.click_ts <= p.ts
         ORDER BY p.event_id""",
    "q70_corpus_freq" ->
      // Σ tf·ctf is SUM over BIGINT products (HUGEINT in DuckDB — exact,
      // like Spark's decimal(38,0) accumulator); the single final double
      // division is the only floating-point step on either side
      s"""WITH postings AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
         tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM postings
           WHERE term <> '' GROUP BY doc_id, term),
         ctf AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS ctf FROM tf GROUP BY term),
         tot AS (SELECT CAST(SUM(ctf) AS BIGINT) AS t FROM ctf),
         perdoc AS (SELECT tf.doc_id,
             CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
             SUM(tf.tf * c.ctf) AS sum_ctf
           FROM tf JOIN ctf c USING (term) GROUP BY tf.doc_id)
         SELECT doc_id, n_tokens,
           ROUND(CAST(sum_ctf AS DOUBLE) /
             (CAST(n_tokens AS DOUBLE) * CAST((SELECT t FROM tot) AS DOUBLE)), 6)
             AS lm_score
         FROM perdoc ORDER BY doc_id""",
    "q71_source_cap" ->
      """WITH r AS (SELECT doc_id, source,
           CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS INT) AS rn
           FROM documents)
         SELECT doc_id, source, rn FROM r WHERE rn <= 20
         ORDER BY source, doc_id""",
    "q72_shard_shuffle" ->
      """WITH keyed AS (SELECT doc_id,
           md5(CAST(doc_id AS VARCHAR) || ':' || 'epoch0') AS shuffle_key
           FROM documents),
         sharded AS (SELECT doc_id, shuffle_key,
           CAST(CAST(concat('0x', substr(shuffle_key, 1, 15)) AS BIGINT) % 8 AS INT) AS shard
           FROM keyed)
         SELECT doc_id, shuffle_key, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY shuffle_key, doc_id) AS INT) AS pos
         FROM sharded ORDER BY shard, pos""",
    "q73_sessionize" ->
      // epoch_us over the µs-exact ns timestamps (lossless cast); the gap
      // compare is pure integer arithmetic on both engines
      """WITH e AS (SELECT user_id, event_id, value, ts,
           epoch_us(CAST(ts AS TIMESTAMP)) AS tus FROM events),
         flg AS (SELECT user_id, event_id, value, ts, tus,
           CASE WHEN LAG(tus) OVER w IS NULL
                  OR tus - LAG(tus) OVER w > 1800000000 THEN 1 ELSE 0 END AS ns
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
         sess AS (SELECT user_id, value, ts,
           CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY tus, event_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
           FROM flg)
         SELECT user_id, session_no, COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE) AS sum_value
         FROM sess GROUP BY user_id, session_no
         ORDER BY user_id, session_no""",
    "q74_length_stats" ->
      """WITH q AS (SELECT source, COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6) AS mean,
           quantile_cont(n_chars, [0.25, 0.5, 0.95]) AS qs
           FROM documents GROUP BY source)
         SELECT source, n, mean,
           ROUND(qs[1], 6) AS p25, ROUND(qs[2], 6) AS p50, ROUND(qs[3], 6) AS p95
         FROM q ORDER BY source""",
    "q75_balanced_sample" ->
      """WITH pk AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS mass
           FROM documents GROUP BY source),
         mn AS (SELECT MIN(mass) AS m FROM pk),
         thr AS (SELECT source,
           CAST(FLOOR(CAST((SELECT m FROM mn) AS DOUBLE) / CAST(mass AS DOUBLE) * 10000)
             AS BIGINT) AS t FROM pk)
         SELECT d.doc_id, d.source
         FROM documents d JOIN thr ON d.source = thr.source
         WHERE CAST(concat('0x', substr(md5('' || COALESCE(CAST(d.doc_id AS VARCHAR), '')), 1, 7)) AS BIGINT) % 10000 < thr.t
         ORDER BY d.doc_id""",
    "q76_pii_counts" ->
      """SELECT doc_id,
           CAST(len(regexp_extract_all(text, 'https?://[^ \t\n\x0B\f\r]+')) AS INT) AS n_urls,
           CAST(len(regexp_extract_all(text, '[^ \t\n\x0B\f\r@]+@[^ \t\n\x0B\f\r@]+\.[^ \t\n\x0B\f\r@]+')) AS INT) AS n_emails,
           (len(regexp_extract_all(text, 'https?://[^ \t\n\x0B\f\r]+')) > 0
             OR len(regexp_extract_all(text, '[^ \t\n\x0B\f\r@]+@[^ \t\n\x0B\f\r@]+\.[^ \t\n\x0B\f\r@]+')) > 0) AS has_pii
         FROM documents ORDER BY doc_id""",
    "q77_hash_split" ->
      """WITH b AS (SELECT doc_id,
           CAST(concat('0x', substr(md5('' || COALESCE(CAST(doc_id AS VARCHAR), '')), 1, 7)) AS BIGINT) % 10000 AS bucket
           FROM documents)
         SELECT doc_id,
           CASE WHEN bucket < 8000 THEN 'train'
                WHEN bucket < 9000 THEN 'val'
                ELSE 'test' END AS split
         FROM b ORDER BY doc_id""",
    "q78_top_terms" ->
      s"""WITH postings AS (SELECT doc_id, unnest($toksSql) AS term FROM documents)
         SELECT term, COUNT(*) AS n_occurrences,
           COUNT(DISTINCT doc_id) AS n_docs
         FROM postings WHERE term <> ''
         GROUP BY term ORDER BY n_occurrences DESC, term ASC LIMIT 50""",
    "q79_incremental_dedup" ->
      s"""WITH hfp AS (SELECT substr(md5($mdNorm), 1, 16) AS fp
           FROM documents WHERE doc_id < 250),
         n AS (SELECT doc_id, substr(md5($mdNorm), 1, 16) AS fp
           FROM documents WHERE doc_id >= 200)
         SELECT doc_id FROM n
         WHERE NOT EXISTS (SELECT 1 FROM hfp WHERE hfp.fp = n.fp)
         ORDER BY doc_id""",
    "q80_vocab_stats" ->
      s"""WITH postings AS (SELECT doc_id, source, unnest($toksSql) AS term FROM documents)
         SELECT source, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_tokens,
           COUNT(DISTINCT term) AS n_terms
         FROM postings WHERE term <> ''
         GROUP BY source ORDER BY source""",
    // store-mutation oracles: rebuild the expected post-mutation state from
    // embeddings.parquet. ids are ROW_NUMBER() in vec_id order (bulkLoad's
    // DenseIds contract); fresh ids continue past MAX(id) in (post_id,
    // sequence_no) order. Magnitude = index-ordered double accumulation
    // (the q30 parity form); *2 / *0.5 / *4 are exact in float.
    "q81_store_upsert" ->
      """WITH base AS (
           SELECT vec_id, embedding, ROW_NUMBER() OVER (ORDER BY vec_id) AS id
           FROM embeddings),
         mx AS (SELECT MAX(id) AS m FROM base),
         merged AS (
           SELECT id, vec_id AS post_id, 0 AS sequence_no,
                  CASE WHEN vec_id % 100 = 0 THEN 'upd' ELSE 'seed' END AS vector_type,
                  CASE WHEN vec_id % 100 = 0
                       THEN list_transform(embedding, x -> x * CAST(2.0 AS FLOAT))
                       ELSE embedding END AS vector
           FROM base
           UNION ALL
           SELECT (SELECT m FROM mx) + ROW_NUMBER() OVER (ORDER BY vec_id) AS id,
                  vec_id AS post_id, 1 AS sequence_no, 'new' AS vector_type,
                  embedding AS vector
           FROM base WHERE vec_id % 100 = 7)
         SELECT id, post_id, sequence_no, vector_type,
                sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE))
                      FROM unnest(vector) AS t(x))) AS magnitude,
                CAST(vector[1] AS DOUBLE) AS v0
         FROM merged ORDER BY post_id, sequence_no""",
    "q82_store_insert_all" ->
      """WITH base AS (
           SELECT vec_id, embedding, ROW_NUMBER() OVER (ORDER BY vec_id) AS id
           FROM embeddings),
         mx AS (SELECT MAX(id) AS m FROM base),
         merged AS (
           SELECT id, vec_id AS post_id, 0 AS sequence_no,
                  'seed' AS vector_type, embedding AS vector
           FROM base WHERE vec_id <> 7
           UNION ALL
           SELECT (SELECT m FROM mx) + s.seq + 1 AS id, vec_id AS post_id,
                  s.seq AS sequence_no, 'repl' AS vector_type,
                  list_transform(embedding,
                    x -> x * CAST(CASE WHEN s.seq = 0 THEN 0.5 ELSE 4.0 END AS FLOAT)) AS vector
           FROM base CROSS JOIN (SELECT 0 AS seq UNION ALL SELECT 1 AS seq) s
           WHERE vec_id = 7)
         SELECT id, post_id, sequence_no, vector_type,
                sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE))
                      FROM unnest(vector) AS t(x))) AS magnitude,
                CAST(vector[1] AS DOUBLE) AS v0
         FROM merged ORDER BY post_id, sequence_no""",
    "q83_store_delete" -> storeDeleteSql,
    // the snapshot chain runs q83's exact mutation on the RESTORED copy,
    // so the oracle applies verbatim (a snapshot is byte-faithful)
    "q335_embstore_snapshot" -> storeDeleteSql,
    "q336_nglm_snapshot" -> stupidBackoffSql,
    "q84_admin_page" ->
      """WITH q AS (
           SELECT event_id AS job_id, event_id AS post_id, ts AS queued_time,
             CASE event_type WHEN 'error' THEN 'failed' WHEN 'purchase' THEN 'completed'
                  WHEN 'view' THEN 'processing' ELSE 'pending' END AS status
           FROM events),
         page AS (
           SELECT q.job_id, q.status,
                  COALESCE(d.n_chars, -1) AS post_chars, q.queued_time
           FROM q LEFT JOIN documents d ON q.post_id = d.doc_id
           ORDER BY q.status DESC,
                    CASE q.status WHEN 'pending' THEN 0 WHEN 'completed' THEN 1
                         WHEN 'failed' THEN 2 ELSE 3 END ASC,
                    q.queued_time DESC, q.job_id ASC
           LIMIT 25 OFFSET 25)
         SELECT job_id, status, post_chars, epoch_us(queued_time) AS queued_us
         FROM page ORDER BY job_id""",
    "q85_image_roundtrip" ->
      """SELECT doc_id AS media_id,
                CAST((16 + doc_id % 48) // 2 AS BIGINT) AS width,
                CAST((16 + strlen(COALESCE(text, '')) % 48) // 2 AS BIGINT) AS height,
                CAST(((16 + doc_id % 48) // 2)
                     * ((16 + strlen(COALESCE(text, '')) % 48) // 2) AS BIGINT) AS n_pixels
         FROM documents ORDER BY media_id""",
    "q86_audio_roundtrip" ->
      """SELECT doc_id AS media_id,
                CAST(8000 AS BIGINT) AS sample_rate,
                CAST(400 + strlen(COALESCE(text, '')) % 800 AS BIGINT) AS n_frames,
                CAST((400 + strlen(COALESCE(text, '')) % 800) * 1000 // 8000 AS BIGINT) AS duration_ms
         FROM documents ORDER BY media_id""",
    "q87_video_frames" ->
      """SELECT doc_id AS media_id,
                CAST(f AS INT) AS frame_no,
                CAST(16 + doc_id % 48 AS BIGINT) AS width,
                CAST(16 + strlen(COALESCE(text, '')) % 48 AS BIGINT) AS height
         FROM documents, UNNEST(range(0, CAST(2 + doc_id % 4 AS BIGINT), 2)) AS t(f)
         ORDER BY media_id, frame_no""",
    "q148_asof_nearest" ->
      """WITH purchases AS (SELECT user_id, ts AS p_ts, MAX(value) AS p_value
           FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
         c AS (SELECT event_id, user_id, ts, value FROM events
               WHERE event_type = 'click'),
         b AS (SELECT c.event_id, p.p_ts AS b_ts, p.p_value AS b_v
           FROM c ASOF LEFT JOIN purchases p
             ON c.user_id = p.user_id AND p.p_ts <= c.ts),
         f AS (SELECT c.event_id, p.p_ts AS f_ts, p.p_value AS f_v
           FROM c ASOF LEFT JOIN purchases p
             ON c.user_id = p.user_id AND p.p_ts >= c.ts)
         SELECT c.event_id, c.user_id, c.ts, c.value,
           CASE WHEN b_ts IS NULL THEN f_ts WHEN f_ts IS NULL THEN b_ts
                WHEN (c.ts - b_ts) <= (f_ts - c.ts) THEN b_ts ELSE f_ts END AS p_ts,
           CASE WHEN b_ts IS NULL THEN f_v WHEN f_ts IS NULL THEN b_v
                WHEN (c.ts - b_ts) <= (f_ts - c.ts) THEN b_v ELSE f_v END AS p_value
         FROM c JOIN b USING (event_id) JOIN f USING (event_id)
         ORDER BY c.event_id""",
    "q147_search_sql" ->
      """WITH q AS (SELECT embedding AS qv,
           sqrt((SELECT SUM(CAST(y AS DOUBLE)*CAST(y AS DOUBLE)) FROM unnest(embedding) AS t(y))) AS qmag
           FROM embeddings WHERE vec_id = 0),
         ham AS (SELECT e.vec_id AS id, e.vec_id AS post_id, e.embedding,
             CAST((SELECT COUNT(*) FROM q, LATERAL (SELECT unnest(e.embedding) AS x, unnest(q.qv) AS y) z
               WHERE (z.x > 0) <> (z.y > 0)) AS INT) AS hamming_distance
           FROM embeddings e),
         top_ham AS (SELECT * FROM ham ORDER BY hamming_distance ASC, id ASC LIMIT 50),
         cos AS (SELECT t.id, t.post_id, t.hamming_distance,
             (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
                FROM q, LATERAL (SELECT unnest(t.embedding) AS x, unnest(q.qv) AS y) z) /
             (sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(t.embedding) AS t2(x)))
              * (SELECT qmag FROM q) + 1e-12) AS cosine_similarity
           FROM top_ham t),
         top_cos AS (SELECT * FROM cos ORDER BY cosine_similarity DESC, id ASC LIMIT 25)
         SELECT id, post_id, hamming_distance, cosine_similarity FROM top_cos
         ORDER BY cosine_similarity DESC, id ASC LIMIT 5""",
    "q146_asof_forward" ->
      """WITH purchases AS (SELECT user_id, ts AS p_ts, MAX(value) AS p_value
           FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
         SELECT c.event_id, c.user_id, c.ts, c.value, p.p_ts, p.p_value
         FROM (SELECT event_id, user_id, ts, value FROM events
               WHERE event_type = 'click') c
         ASOF LEFT JOIN purchases p
           ON c.user_id = p.user_id AND p.p_ts >= c.ts
         ORDER BY c.event_id""",
    "q144_leakage_safe_split" -> {
      val sigCols = (0 until 8).map(sd => s"${minhashSql(sd)} AS m$sd").mkString(", ")
      val bandSelects = (0 until 4).map(b =>
        s"""SELECT doc_id, '$b:' || md5(CAST(m${2 * b} AS VARCHAR) || '|' ||
            CAST(m${2 * b + 1} AS VARCHAR)) AS band FROM sig""")
        .mkString(" UNION ALL ")
      s"""WITH RECURSIVE sig AS (SELECT doc_id, $sigCols FROM documents),
          banded AS ($bandSelects),
          pairs AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
            FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id),
          edges AS (SELECT id1 AS a, id2 AS b FROM pairs
            UNION SELECT id2, id1 FROM pairs),
          reach(id, r) AS (
            SELECT a, b FROM edges UNION SELECT a, a FROM edges
            UNION
            SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a),
          lab AS (SELECT id, MIN(r) AS label FROM reach GROUP BY id),
          g AS (SELECT d.doc_id, COALESCE(lab.label, d.doc_id) AS group_id
            FROM documents d LEFT JOIN lab ON d.doc_id = lab.id),
          bk AS (SELECT doc_id, group_id,
            CAST(concat('0x', substr(md5('ls' || COALESCE(CAST(group_id AS VARCHAR), '')), 1, 7))
              AS BIGINT) % 10000 AS bucket FROM g)
          SELECT doc_id, group_id,
            CASE WHEN bucket < 8000 THEN 'train'
                 WHEN bucket < 9000 THEN 'val'
                 ELSE 'test' END AS split
          FROM bk ORDER BY doc_id"""
    },
    "q143_clip_recommend" ->
      """WITH x AS (
           SELECT CAST(u.i AS INT) AS dim, CAST(embedding[CAST(u.i + 1 AS INT)] AS DOUBLE) AS x
           FROM embeddings, UNNEST(range(0, len(embedding))) u(i))
         SELECT dim, COUNT(*) AS n,
           ROUND(MIN(x), 6) AS mn, ROUND(MAX(x), 6) AS mx,
           ROUND(quantile_cont(x, CAST('0.005' AS DOUBLE)), 6) AS clip_lo,
           ROUND(quantile_cont(x, CAST('0.995' AS DOUBLE)), 6) AS clip_hi,
           ROUND(CASE WHEN MAX(x) = MIN(x) THEN CAST(1 AS DOUBLE)
             ELSE (quantile_cont(x, CAST('0.995' AS DOUBLE))
                   - quantile_cont(x, CAST('0.005' AS DOUBLE)))
                  / (MAX(x) - MIN(x)) END, 6) AS step_ratio
         FROM x GROUP BY dim ORDER BY dim""",
    "q142_dedup_provenance" -> {
      val sigCols = (0 until 8).map(sd => s"${minhashSql(sd)} AS m$sd").mkString(", ")
      val bandSelects = (0 until 4).map(b =>
        s"""SELECT doc_id, '$b:' || md5(CAST(m${2 * b} AS VARCHAR) || '|' ||
            CAST(m${2 * b + 1} AS VARCHAR)) AS band FROM sig""")
        .mkString(" UNION ALL ")
      s"""WITH RECURSIVE fp AS (SELECT doc_id, substr(md5($mdNorm), 1, 16) AS f FROM documents),
          can AS (SELECT f, MIN(doc_id) AS keep FROM fp GROUP BY f),
          ex AS (SELECT fp.doc_id AS removed_id, can.keep AS kept_id
            FROM fp JOIN can USING (f) WHERE fp.doc_id <> can.keep),
          surv AS (SELECT d.doc_id, d.text FROM documents d
            WHERE d.doc_id NOT IN (SELECT removed_id FROM ex)),
          sig AS (SELECT doc_id, $sigCols FROM surv),
          banded AS ($bandSelects),
          pairs AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
            FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id),
          edges AS (SELECT id1 AS a, id2 AS b FROM pairs
            UNION SELECT id2, id1 FROM pairs),
          reach(id, r) AS (
            SELECT a, b FROM edges UNION SELECT a, a FROM edges
            UNION
            SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a),
          lab AS (SELECT id, MIN(r) AS label FROM reach GROUP BY id)
          SELECT removed_id, kept_id, 'exact' AS method FROM ex
          UNION ALL
          SELECT id AS removed_id, label AS kept_id, 'near' AS method
          FROM lab WHERE id <> label
          ORDER BY removed_id"""
    },
    "q141_mixture_plan" ->
      s"""WITH a AS (SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(len($toksSql)) AS BIGINT) AS tokens_avail
           FROM documents GROUP BY source),
         w AS (SELECT * FROM (VALUES
             ('src0', CAST('0.6' AS DOUBLE)), ('src1', CAST('0.3' AS DOUBLE)),
             ('src2', CAST('0.1' AS DOUBLE))) v(source, share)),
         j AS (SELECT a.source, a.n_docs, a.tokens_avail, w.share,
             CAST(ROUND(w.share * 20000) AS BIGINT) AS tokens_target
           FROM a JOIN w ON a.source = w.source)
         SELECT source, n_docs, tokens_avail,
           ROUND(share, 6) AS target_share, tokens_target,
           ROUND(LEAST(CAST(1 AS DOUBLE),
             CAST(tokens_target AS DOUBLE) / CAST(tokens_avail AS DOUBLE)), 6) AS rate,
           GREATEST(0, tokens_target - tokens_avail) AS deficit
         FROM j ORDER BY source""",
    "q140_salt_plan" ->
      """WITH c AS (SELECT source AS key, COUNT(*) AS n FROM documents GROUP BY source),
         t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
         SELECT key, n, ROUND(CAST(n AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share,
           (n + 9) // 10 AS salt_factor
         FROM c CROSS JOIN t WHERE n > 10 ORDER BY n DESC, key ASC""",
    "q139_coverage_hist" ->
      """WITH nb AS (SELECT vec_id AS nid, embedding AS nv,
           list_aggregate(list_transform(embedding[1:8],
             x -> CASE WHEN x > 0 THEN '1' ELSE '0' END), 'string_agg', '') AS bkt,
           sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(embedding) AS t(x))) AS nmag
           FROM embeddings WHERE vec_id % 5 = 0),
         rb AS (SELECT embedding AS rv,
           list_aggregate(list_transform(embedding[1:8],
             x -> CASE WHEN x > 0 THEN '1' ELSE '0' END), 'string_agg', '') AS bkt,
           sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(embedding) AS t(x))) AS rmag
           FROM embeddings WHERE vec_id % 5 <> 0),
         best AS (SELECT nb.nid, ROUND(MAX(
             (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
              FROM (SELECT unnest(nb.nv) AS x, unnest(rb.rv) AS y) z)
             / (nb.nmag * rb.rmag + 1e-12)), 6) AS nn
           FROM nb LEFT JOIN rb ON nb.bkt = rb.bkt GROUP BY nb.nid),
         h AS (SELECT CASE WHEN nn IS NULL THEN -1
             ELSE LEAST(CAST(FLOOR(GREATEST(nn, CAST(0 AS DOUBLE)) * 10) AS INT), 9) END AS bucket,
             COUNT(*) AS n_docs FROM best GROUP BY 1)
         SELECT bucket,
           CASE WHEN bucket = -1 THEN NULL
                ELSE ROUND(CAST(bucket AS DOUBLE) / 10.0, 1) END AS lo,
           n_docs
         FROM h ORDER BY bucket""",
    "q138_vocab_coverage" ->
      s"""WITH census AS (
           SELECT tok, COUNT(*) AS n FROM (
             SELECT unnest($toksSql) AS tok FROM documents)
           WHERE tok <> '' GROUP BY tok),
         tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM census),
         r AS (SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, tok ASC) AS rk FROM census)
         SELECT v.top_n,
           CAST(COALESCE((SELECT SUM(n) FROM r WHERE rk <= v.top_n), 0) AS BIGINT)
             AS covered_tokens,
           tot.total AS total_tokens,
           ROUND(CAST(COALESCE((SELECT SUM(n) FROM r WHERE rk <= v.top_n), 0) AS DOUBLE)
             / CAST(tot.total AS DOUBLE), 6) AS coverage
         FROM (VALUES (10), (100), (1000), (10000)) v(top_n) CROSS JOIN tot
         ORDER BY top_n""",
    "q137_sim_histogram" -> {
      val sigCols = (0 until 8).map(sd => s"${minhashSql(sd)} AS m$sd").mkString(", ")
      val bandSelects = (0 until 4).map(b =>
        s"""SELECT doc_id, '$b:' || md5(CAST(m${2 * b} AS VARCHAR) || '|' ||
            CAST(m${2 * b + 1} AS VARCHAR)) AS band FROM sig""")
        .mkString(" UNION ALL ")
      val sh =
        s"""list_distinct(list_transform($shingle3Sql,
            s -> CAST(concat('0x', substr(md5(s), 1, 7)) AS BIGINT)))"""
      s"""WITH sig AS (SELECT doc_id, $sigCols FROM documents),
          banded AS ($bandSelects),
          pairs AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
            FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id),
          sets AS (SELECT doc_id, $sh AS sh FROM documents),
          sims AS (SELECT
              ROUND(CASE WHEN len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) = 0
                THEN 0.0
                ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                     CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                END, 6) AS j
            FROM pairs p JOIN sets a ON p.id1 = a.doc_id JOIN sets b ON p.id2 = b.doc_id),
          h AS (SELECT LEAST(CAST(FLOOR(j * 10) AS INT), 9) AS bucket, COUNT(*) AS n_pairs
            FROM sims GROUP BY 1)
          SELECT bucket, ROUND(CAST(bucket AS DOUBLE) / 10.0, 1) AS threshold, n_pairs,
            CAST(SUM(n_pairs) OVER (ORDER BY bucket DESC) AS BIGINT) AS n_at_or_above
          FROM h ORDER BY bucket"""
    },
    "q136_jl_project" -> {
      // √outDim interpolated from the SAME Scala double the operator
      // divides by (shortest round-trip repr)
      val scale = math.sqrt(16.0)
      s"""SELECT e.vec_id, CAST(t.j AS INT) AS dim,
           ROUND(list_sum(list_transform(range(64), i ->
             CAST(e.embedding[CAST(i + 1 AS INT)] AS DOUBLE) *
             (CASE WHEN CAST(concat('0x', substr(md5(
                  'jl:' || CAST(t.j AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 7))
                AS BIGINT) % 2 = 0
              THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END)))
             / CAST('$scale' AS DOUBLE), 6) AS val
         FROM embeddings e, UNNEST(range(16)) AS t(j)
         ORDER BY vec_id, dim"""
    },
    "q135_sq8_error" ->
      """WITH stats AS (
           SELECT CAST(t.i AS INT) AS dim,
             MIN(e.embedding[CAST(t.i + 1 AS INT)]) AS mn,
             MAX(e.embedding[CAST(t.i + 1 AS INT)]) AS mx
           FROM embeddings e, LATERAL UNNEST(range(len(e.embedding))) AS t(i)
           GROUP BY dim),
         sarr AS (SELECT list(CAST(mn AS DOUBLE) ORDER BY dim) AS ml,
             list(CAST(mx AS DOUBLE) ORDER BY dim) AS xl FROM stats),
         err AS (
           SELECT CAST(u.i AS INT) AS dim,
             ABS(CAST(e.embedding[CAST(u.i + 1 AS INT)] AS DOUBLE)
               - CAST(CAST(
                   s.ml[CAST(u.i + 1 AS INT)] +
                   (CAST(CASE WHEN s.xl[CAST(u.i + 1 AS INT)] = s.ml[CAST(u.i + 1 AS INT)] THEN 0
                      ELSE GREATEST(-128, LEAST(127,
                        CAST(FLOOR((CAST(e.embedding[CAST(u.i + 1 AS INT)] AS DOUBLE)
                                    - s.ml[CAST(u.i + 1 AS INT)]) * 255.0
                                   / (s.xl[CAST(u.i + 1 AS INT)] - s.ml[CAST(u.i + 1 AS INT)])
                                   + 0.5) AS BIGINT) - 128))
                    END AS DOUBLE) + 128.0)
                   * (s.xl[CAST(u.i + 1 AS INT)] - s.ml[CAST(u.i + 1 AS INT)]) / 255.0
                 AS FLOAT) AS DOUBLE)) AS e
           FROM embeddings e CROSS JOIN sarr s, LATERAL UNNEST(range(len(e.embedding))) AS u(i))
         SELECT err.dim, COUNT(*) AS n,
           ROUND(CAST(s2.mn AS DOUBLE), 6) AS mn, ROUND(CAST(s2.mx AS DOUBLE), 6) AS mx,
           ROUND(CAST(SUM(CAST(ROUND(err.e, 12) AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 6)
             AS mae,
           ROUND(MAX(err.e), 6) AS max_ae
         FROM err JOIN stats s2 ON err.dim = s2.dim
         GROUP BY err.dim, s2.mn, s2.mx ORDER BY err.dim""",
    "q134_stratified_split" -> {
      // cumulative boundaries computed by the SAME Scala double adds the
      // operator uses, interpolated via shortest round-trip repr (0.8+0.1
      // is 0.9000000000000001 in IEEE — writing 0.9 here would be a
      // DIFFERENT double and could flip a ceil boundary)
      val c1 = 0.8
      val c2 = 0.8 + 0.1
      s"""WITH r AS (SELECT doc_id, source,
           ROW_NUMBER() OVER (PARTITION BY source
             ORDER BY md5('s7' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn,
           COUNT(*) OVER (PARTITION BY source) AS n
         FROM documents)
         SELECT doc_id, source,
           CASE WHEN rn <= ROUND(CAST('$c1' AS DOUBLE) * n) THEN 'train'
                WHEN rn <= ROUND(CAST('$c2' AS DOUBLE) * n) THEN 'val'
                ELSE 'test' END AS split
         FROM r ORDER BY doc_id"""
    },
    "q133_ngram_diversity" ->
      s"""WITH t AS (SELECT source, $toksSql AS tk FROM documents),
         g AS (
           SELECT source, 1 AS n,
             unnest(list_transform(range(0, len(tk)),
               i -> list_extract(tk, CAST(i + 1 AS INT)))) AS gram FROM t
           UNION ALL
           SELECT source, 2 AS n,
             unnest(list_transform(range(0, len(tk) - 1),
               i -> list_extract(tk, CAST(i + 1 AS INT)) || ' ' ||
                    list_extract(tk, CAST(i + 2 AS INT)))) AS gram FROM t
           UNION ALL
           SELECT source, 3 AS n,
             unnest(list_transform(range(0, len(tk) - 2),
               i -> list_extract(tk, CAST(i + 1 AS INT)) || ' ' ||
                    list_extract(tk, CAST(i + 2 AS INT)) || ' ' ||
                    list_extract(tk, CAST(i + 3 AS INT)))) AS gram FROM t)
         SELECT source, n, COUNT(*) AS n_grams, COUNT(DISTINCT gram) AS n_distinct,
           ROUND(CAST(COUNT(DISTINCT gram) AS DOUBLE) / COUNT(*), 6) AS distinct_ratio
         FROM g WHERE gram <> '' GROUP BY source, n ORDER BY source, n""",
    "q132_hard_negatives" ->
      """WITH e AS (SELECT vec_id, vec_id % 7 AS grp, embedding,
           sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(embedding) AS t(x))) AS mag
           FROM embeddings),
         scored AS (
           SELECT a.vec_id AS anchor_id, d.vec_id AS neighbor_id, d.grp AS neighbor_group,
             (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
              FROM (SELECT unnest(d.embedding) AS x, unnest(a.embedding) AS y) z)
             / (d.mag * a.mag + 1e-12) AS c
           FROM e a, e d WHERE a.vec_id < 3 AND d.grp <> a.grp),
         ranked AS (SELECT anchor_id, neighbor_id, neighbor_group, c,
           ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY c DESC, neighbor_id ASC) AS rank
           FROM scored)
         SELECT anchor_id, neighbor_id, neighbor_group, ROUND(c, 6) AS cosine,
           CAST(rank AS INT) AS rank
         FROM ranked WHERE rank <= 3 ORDER BY anchor_id, rank""",
    "q131_bpe_pairs" ->
      s"""WITH census AS (
           SELECT tok, COUNT(*) AS n_tok FROM (
             SELECT unnest($toksSql) AS tok FROM documents)
           WHERE tok <> '' GROUP BY tok),
         cs AS (SELECT n_tok, regexp_split_to_array(tok, '') AS c FROM census),
         p AS (SELECT c[CAST(u.i + 1 AS INT)] AS c1, c[CAST(u.i + 2 AS INT)] AS c2, n_tok
           FROM cs, UNNEST(range(0, len(c) - 1)) u(i) WHERE len(c) >= 2)
         SELECT c1, c2, CAST(SUM(n_tok) AS BIGINT) AS n_pairs
         FROM p GROUP BY c1, c2
         ORDER BY n_pairs DESC, c1 ASC, c2 ASC LIMIT 25""",
    "q130_mixture_drift" -> {
      // share snippets interpolated so the double op tree mirrors the
      // Curation.mixtureDrift Column expressions node for node (ratios,
      // then m = (so+sn)/2 via one division — never algebraically
      // rearranged, which could land one ulp away)
      val so = "(CAST(n_old + 1 AS DOUBLE) / CAST(tto + s AS DOUBLE))"
      val sn = "(CAST(n_new + 1 AS DOUBLE) / CAST(ttn + s AS DOUBLE))"
      val m = s"(($so + $sn) / CAST(2 AS DOUBLE))"
      s"""WITH newsnap AS (
           SELECT doc_id, source FROM documents WHERE doc_id % 11 <> 0
           UNION ALL
           SELECT doc_id + 100000 AS doc_id, source FROM documents WHERE doc_id % 13 = 0),
         o AS (SELECT source, COUNT(*) AS n_old FROM documents GROUP BY source),
         n AS (SELECT source, COUNT(*) AS n_new FROM newsnap GROUP BY source),
         c AS (SELECT COALESCE(o.source, n.source) AS source,
             COALESCE(n_old, 0) AS n_old, COALESCE(n_new, 0) AS n_new
           FROM o FULL OUTER JOIN n ON o.source = n.source),
         t AS (SELECT CAST(SUM(n_old) AS BIGINT) AS tto, CAST(SUM(n_new) AS BIGINT) AS ttn,
             COUNT(*) AS s FROM c)
         SELECT source, CAST(n_old AS BIGINT) AS n_old, CAST(n_new AS BIGINT) AS n_new,
           ROUND($so, 6) AS share_old,
           ROUND($sn, 6) AS share_new,
           ROUND($sn * LN($sn / $so), 6) AS kl_term,
           ROUND(CAST(0.5 AS DOUBLE) * ($so * LN($so / $m) + $sn * LN($sn / $m)), 6)
             AS js_term
         FROM c CROSS JOIN t ORDER BY source"""
    },
    "q129_embedding_health" ->
      """WITH x AS (
           SELECT CAST(u.i AS INT) AS dim, CAST(embedding[CAST(u.i + 1 AS INT)] AS DOUBLE) AS x
           FROM embeddings, UNNEST(range(0, len(embedding))) u(i))
         SELECT dim, COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(ROUND(x, 6) AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6)
             AS mean,
           ROUND(CAST(SUM(CAST(ROUND(x * x, 12) AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*)
             - (CAST(SUM(CAST(ROUND(x, 6) AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*))
               * (CAST(SUM(CAST(ROUND(x, 6) AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)), 6)
             AS variance,
           ROUND(CAST(COUNT(CASE WHEN x > 0 THEN 1 END) AS DOUBLE) / COUNT(*), 6)
             AS frac_pos
         FROM x GROUP BY dim ORDER BY dim""",
    "q128_cdc_chunks" ->
      s"""WITH tok AS (
           SELECT doc_id, CAST(u.i AS INT) AS pos, t[CAST(u.i + 1 AS INT)] AS term
           FROM (SELECT doc_id, $toksSql AS t FROM documents),
                UNNEST(range(0, len(t))) u(i)
           WHERE t[CAST(u.i + 1 AS INT)] IS NOT NULL AND t[CAST(u.i + 1 AS INT)] <> ''),
         h AS (SELECT doc_id, pos,
             CAST(concat('0x', substr(md5(term), 1, 7)) AS BIGINT) AS h FROM tok),
         c AS (SELECT doc_id, pos, h,
             CASE WHEN h % 16 = 0 THEN 1 ELSE 0 END AS cut FROM h),
         n AS (SELECT doc_id, pos, h,
             CAST(SUM(cut) OVER (PARTITION BY doc_id ORDER BY pos) - cut AS BIGINT)
               AS chunk_no FROM c),
         r AS (SELECT doc_id, pos, h, chunk_no,
             ROW_NUMBER() OVER (PARTITION BY doc_id, chunk_no ORDER BY pos) AS rn FROM n)
         SELECT doc_id, chunk_no, CAST(MIN(pos) AS INT) AS start_pos,
           COUNT(*) AS n_tokens,
           CAST(SUM(CAST(rn AS DECIMAL(38,0)) * CAST(h AS DECIMAL(38,0)))
             AS BIGINT) AS chunk_fp
         FROM r GROUP BY doc_id, chunk_no ORDER BY doc_id, chunk_no""",
    "q127_gif_frames" ->
      """SELECT doc_id AS media_id,
                CAST(f AS INT) AS frame_no,
                CAST(16 + doc_id % 48 AS BIGINT) AS width,
                CAST(16 + strlen(COALESCE(text, '')) % 48 AS BIGINT) AS height
         FROM documents, UNNEST(range(0, CAST(2 + doc_id % 4 AS BIGINT), 2)) AS t(f)
         ORDER BY media_id, frame_no""",
    "q88_pq_adc" ->
      """WITH subs AS (
           SELECT t.j, e.vec_id AS c, e.embedding[CAST(t.j*16+1 AS INT) : CAST(t.j*16+16 AS INT)] AS cv
           FROM embeddings e, UNNEST(range(4)) AS t(j) WHERE e.vec_id < 4),
         q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 5),
         lut AS (
           SELECT s.j, s.c,
             (SELECT SUM(z.d * z.d) FROM (
                SELECT CAST(x AS DOUBLE) - CAST(y AS DOUBLE) AS d
                FROM (SELECT unnest(q.qv[CAST(s.j*16+1 AS INT) : CAST(s.j*16+16 AS INT)]) AS x,
                             unnest(s.cv) AS y)) z) AS dist
           FROM subs s, q),
         codes AS (
           SELECT e.vec_id, t.j,
             (SELECT s.c FROM subs s WHERE s.j = t.j
              ORDER BY (SELECT SUM(z.d * z.d) FROM (
                  SELECT CAST(x AS DOUBLE) - CAST(y AS DOUBLE) AS d
                  FROM (SELECT unnest(e.embedding[CAST(t.j*16+1 AS INT) : CAST(t.j*16+16 AS INT)]) AS x,
                               unnest(s.cv) AS y)) z) ASC,
                s.c ASC
              LIMIT 1) AS code
           FROM embeddings e, UNNEST(range(4)) AS t(j)),
         adc AS (
           SELECT c.vec_id, SUM(l.dist) AS adc_dist
           FROM codes c JOIN lut l ON l.j = c.j AND l.c = c.code
           GROUP BY c.vec_id)
         SELECT vec_id, ROUND(adc_dist, 6) AS adc_dist
         FROM adc ORDER BY adc_dist ASC, vec_id ASC LIMIT 10""",
    "q154_ivfpq_index" -> ivfPqSearchSql,
    "q175_ivfpq_append" -> ivfPqSearchSql,
    "q231_pq_carry" -> ivfPqSearchSqlOver("embeddings", fullProbe = true),
    "q177_ivfpq_delete" ->
      ivfPqSearchSqlOver("(SELECT * FROM embeddings WHERE vec_id % 2 = 0)"),
    "q208_dataset_card" ->
      s"""WITH pr AS (SELECT source, lang,
           CAST(len($toksSql) AS BIGINT) AS tok,
           substr(md5($mdNorm), 1, 16) AS fp,
           $qualityScoreSql AS q
           FROM documents),
         base AS (SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(tok) AS BIGINT) AS n_tokens,
             ROUND(CAST(SUM(tok) AS DOUBLE) / COUNT(*), 6) AS mean_tokens,
             COUNT(DISTINCT fp) AS n_contents,
             ROUND(CAST(SUM(CAST(q AS DECIMAL(38, 6))) AS DOUBLE) / COUNT(*), 6)
               AS mean_quality
           FROM pr GROUP BY 1),
         lc AS (SELECT source, lang, COUNT(*) AS n FROM pr GROUP BY 1, 2),
         maj AS (SELECT source, lang FROM (
           SELECT source, lang,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY n DESC, lang ASC) AS rk
           FROM lc) WHERE rk = 1),
         zc AS (SELECT source, u.tok, COUNT(*) AS freq
           FROM (SELECT source, $toksSql AS tk FROM documents) t,
             UNNEST(tk) AS u(tok)
           WHERE u.tok <> '' GROUP BY 1, 2),
         zr AS (SELECT source,
             ROUND(LN(CAST(rank AS DOUBLE)), 6) AS x,
             ROUND(LN(CAST(freq AS DOUBLE)), 6) AS y
           FROM (SELECT source, tok, freq,
               ROW_NUMBER() OVER (PARTITION BY source
                 ORDER BY freq DESC, tok ASC) AS rank
             FROM zc) WHERE rank <= 200),
         zm AS (SELECT source, COUNT(*) AS zn,
             CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(ROUND(x * x, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(ROUND(y * y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(ROUND(x * y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sxy
           FROM zr GROUP BY 1),
         zf AS (SELECT source,
             CASE WHEN zn > 1 THEN ROUND(
               (CAST(zn AS DOUBLE) * sxy - sx * sy) /
               (CAST(zn AS DOUBLE) * sxx - sx * sx), 6) END AS zipf_slope,
             CASE WHEN zn > 1 THEN ROUND(
               ((CAST(zn AS DOUBLE) * sxy - sx * sy) /
                (sqrt(CAST(zn AS DOUBLE) * sxx - sx * sx) *
                 sqrt(CAST(zn AS DOUBLE) * syy - sy * sy))) *
               ((CAST(zn AS DOUBLE) * sxy - sx * sy) /
                (sqrt(CAST(zn AS DOUBLE) * sxx - sx * sx) *
                 sqrt(CAST(zn AS DOUBLE) * syy - sy * sy))), 6) END AS zipf_r2
           FROM zm),
         zc_all AS (SELECT source, u.tok
           FROM (SELECT source, $toksSql AS tk FROM documents) t,
             UNNEST(tk) AS u(tok)
           WHERE u.tok <> ''),
         dv AS (SELECT source,
             ROUND(CAST(COUNT(DISTINCT tok) AS DOUBLE) / COUNT(*), 6) AS ttr
           FROM zc_all GROUP BY 1)
         SELECT b.source, n_docs, n_tokens, mean_tokens,
           ROUND(CAST(1.0 AS DOUBLE)
             - CAST(n_contents AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS dup_rate,
           mean_quality, m.lang AS majority_lang, zipf_slope, zipf_r2, ttr
         FROM base b JOIN maj m ON b.source = m.source
         JOIN zf ON b.source = zf.source
         JOIN dv ON b.source = dv.source
         ORDER BY b.source""",
    "q207_crossmodal_dups" ->
      s"""WITH b AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
         tf AS (SELECT doc_id, $normFpSql AS fp FROM b),
         td AS (SELECT fp FROM tf GROUP BY fp HAVING COUNT(*) > 1),
         ad AS (SELECT text FROM b GROUP BY text HAVING COUNT(*) > 1),
         im AS (SELECT doc_id, text, 16 + doc_id % 48 AS w FROM b),
         idup AS (SELECT DISTINCT a.doc_id FROM im a
           JOIN im c ON a.text = c.text AND a.w = c.w AND a.doc_id <> c.doc_id)
         SELECT b.doc_id,
           (tf.fp IN (SELECT fp FROM td)) AS text_dup,
           (b.doc_id IN (SELECT doc_id FROM idup)) AS image_dup,
           (b.text IN (SELECT text FROM ad)) AS audio_dup,
           CAST((tf.fp IN (SELECT fp FROM td)) AS INT)
             + CAST((b.doc_id IN (SELECT doc_id FROM idup)) AS INT)
             + CAST((b.text IN (SELECT text FROM ad)) AS INT) AS n_modal_dups
         FROM b JOIN tf USING (doc_id) ORDER BY doc_id""",
    "q206_vocab_growth" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         fs AS (SELECT u.tok, MIN(doc_id) AS fd
           FROM t, UNNEST(tk) AS u(tok) WHERE u.tok <> '' GROUP BY 1),
         dt AS (SELECT doc_id, CAST(len(list_filter(tk, x -> x <> '')) AS BIGINT) AS n
           FROM t),
         g AS (SELECT CAST(unnest([50, 100, 200, 400]) AS BIGINT) AS cutoff),
         v AS (SELECT g.cutoff, COUNT(fs.fd) AS vocab
           FROM g LEFT JOIN fs ON fs.fd <= g.cutoff GROUP BY 1),
         d AS (SELECT g.cutoff, COUNT(dt.doc_id) AS n_docs,
             CAST(COALESCE(SUM(dt.n), 0) AS BIGINT) AS n_tokens
           FROM g LEFT JOIN dt ON dt.doc_id <= g.cutoff GROUP BY 1)
         SELECT d.cutoff, d.n_docs, d.n_tokens, v.vocab
         FROM d JOIN v USING (cutoff) ORDER BY cutoff""",
    "q205_zipf_fit" ->
      s"""WITH c AS (SELECT source, u.tok, COUNT(*) AS freq
           FROM (SELECT source, $toksSql AS tk FROM documents) t,
             UNNEST(tk) AS u(tok)
           WHERE u.tok <> '' GROUP BY 1, 2),
         r AS (SELECT source,
             ROUND(LN(CAST(rank AS DOUBLE)), 6) AS x,
             ROUND(LN(CAST(freq AS DOUBLE)), 6) AS y
           FROM (SELECT source, tok, freq,
               ROW_NUMBER() OVER (PARTITION BY source
                 ORDER BY freq DESC, tok ASC) AS rank
             FROM c) WHERE rank <= 200),
         m AS (SELECT source, COUNT(*) AS n_terms,
             CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(ROUND(x * x, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(ROUND(y * y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(ROUND(x * y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sxy
           FROM r GROUP BY 1)
         SELECT source, n_terms,
           CASE WHEN n_terms > 1 THEN ROUND(
             (CAST(n_terms AS DOUBLE) * sxy - sx * sy) /
             (CAST(n_terms AS DOUBLE) * sxx - sx * sx), 6) END AS slope,
           CASE WHEN n_terms > 1 THEN ROUND(
             (sy - ((CAST(n_terms AS DOUBLE) * sxy - sx * sy) /
               (CAST(n_terms AS DOUBLE) * sxx - sx * sx)) * sx) /
             CAST(n_terms AS DOUBLE), 6) END AS intercept,
           CASE WHEN n_terms > 1 THEN ROUND(
             ((CAST(n_terms AS DOUBLE) * sxy - sx * sy) /
              (sqrt(CAST(n_terms AS DOUBLE) * sxx - sx * sx) *
               sqrt(CAST(n_terms AS DOUBLE) * syy - sy * sy))) *
             ((CAST(n_terms AS DOUBLE) * sxy - sx * sy) /
              (sqrt(CAST(n_terms AS DOUBLE) * sxx - sx * sx) *
               sqrt(CAST(n_terms AS DOUBLE) * syy - sy * sy))), 6) END AS r2
         FROM m ORDER BY source""",
    "q204_epoch_schedule" ->
      """WITH plan AS (SELECT * FROM (VALUES ('src0', 2.0), ('src1', 1.4),
           ('src2', 0.5)) p(source, epochs)),
         j AS (SELECT d.doc_id, d.source, p.epochs
           FROM documents d JOIN plan p USING (source)),
         e AS (SELECT doc_id, source, epochs, CAST(u.e AS INT) AS epoch
           FROM j, UNNEST(range(1, CAST(CEIL(epochs) AS BIGINT) + 1)) u(e)),
         k AS (SELECT * FROM e WHERE epoch <= FLOOR(epochs)
           OR (CAST(concat('0x', substr(md5('ep:' || CAST(epoch AS VARCHAR)
                 || ':' || CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) % 10000)
              < CAST(ROUND((epochs - FLOOR(epochs)) * 10000, 0) AS BIGINT)),
         s AS (SELECT doc_id AS id, source, epoch,
             md5(CAST(doc_id AS VARCHAR) || ':ep:' || CAST(epoch AS VARCHAR))
               AS shuffle_key
           FROM k)
         SELECT id, source, epoch, shuffle_key,
           CAST(ROW_NUMBER() OVER (ORDER BY epoch, shuffle_key, id) - 1 AS BIGINT)
             AS order_idx
         FROM s ORDER BY order_idx""",
    "q203_index_lifecycle" ->
      """WITH live AS (SELECT * FROM embeddings WHERE vec_id % 3 <> 0),
         q AS (SELECT embedding AS qv,
           sqrt((SELECT SUM(CAST(y AS DOUBLE)*CAST(y AS DOUBLE)) FROM unnest(embedding) AS t(y))) AS qmag
           FROM embeddings WHERE vec_id = 5),
         scored AS (SELECT e.vec_id,
           (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
            FROM q, LATERAL (SELECT unnest(e.embedding) AS x, unnest(q.qv) AS y) z) /
           (sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(e.embedding) AS t(x)))
            * (SELECT qmag FROM q) + 1e-12) AS c
           FROM live e),
         top AS (SELECT vec_id, ROUND(c, 6) AS cosine FROM scored
           ORDER BY c DESC, vec_id ASC LIMIT 10)
         SELECT vec_id, cosine FROM top ORDER BY vec_id""",
    "q226_ivf_merge" ->
      """WITH q AS (SELECT embedding AS qv,
           sqrt((SELECT SUM(CAST(y AS DOUBLE)*CAST(y AS DOUBLE)) FROM unnest(embedding) AS t(y))) AS qmag
           FROM embeddings WHERE vec_id = 5),
         scored AS (SELECT e.vec_id,
           (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
            FROM q, LATERAL (SELECT unnest(e.embedding) AS x, unnest(q.qv) AS y) z) /
           (sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(e.embedding) AS t(x)))
            * (SELECT qmag FROM q) + 1e-12) AS c
           FROM embeddings e),
         top AS (SELECT vec_id, ROUND(c, 6) AS cosine FROM scored
           ORDER BY c DESC, vec_id ASC LIMIT 10)
         SELECT vec_id, cosine FROM top ORDER BY vec_id""",
    "q202_ivf_split" ->
      """WITH q AS (SELECT embedding AS qv,
           sqrt((SELECT SUM(CAST(y AS DOUBLE)*CAST(y AS DOUBLE)) FROM unnest(embedding) AS t(y))) AS qmag
           FROM embeddings WHERE vec_id = 5),
         scored AS (SELECT e.vec_id,
           (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
            FROM q, LATERAL (SELECT unnest(e.embedding) AS x, unnest(q.qv) AS y) z) /
           (sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(e.embedding) AS t(x)))
            * (SELECT qmag FROM q) + 1e-12) AS c
           FROM embeddings e),
         top AS (SELECT vec_id, ROUND(c, 6) AS cosine FROM scored
           ORDER BY c DESC, vec_id ASC LIMIT 10)
         SELECT vec_id, cosine FROM top ORDER BY vec_id""",
    "q201_prototype_prune" ->
      """WITH cents AS (SELECT vec_id AS ccid, embedding AS cv FROM embeddings WHERE vec_id < 4),
         assign AS (SELECT e.vec_id, e.embedding, CAST((
             SELECT c.ccid FROM cents c
             ORDER BY (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
                       FROM (SELECT unnest(e.embedding) AS x, unnest(c.cv) AS y) z) DESC,
                      c.ccid ASC
             LIMIT 1) AS INT) AS cluster
           FROM embeddings e),
         cd AS (SELECT a.cluster, CAST(t.i AS INT) AS dim,
             CAST(SUM(CAST(CAST(a.embedding[CAST(t.i + 1 AS INT)] AS DOUBLE)
                  AS DECIMAL(28,8))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS c
           FROM assign a, LATERAL UNNEST(range(len(a.embedding))) AS t(i)
           GROUP BY a.cluster, dim),
         cl AS (SELECT cluster, list(CAST(c AS REAL) ORDER BY dim) AS cent
           FROM cd GROUP BY cluster),
         sc AS (SELECT a.vec_id AS id, a.cluster,
             ROUND((SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
               FROM (SELECT unnest(a.embedding) AS x, unnest(cl.cent) AS y) z) /
               (sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE))
                  FROM unnest(a.embedding) AS t(x))) *
                sqrt((SELECT SUM(CAST(y AS DOUBLE)*CAST(y AS DOUBLE))
                  FROM unnest(cl.cent) AS t(y))) + 1e-12), 6) AS proto_cos
           FROM assign a JOIN cl USING (cluster)),
         r AS (SELECT id, cluster, proto_cos,
             CAST(ROW_NUMBER() OVER (PARTITION BY cluster
               ORDER BY proto_cos ASC, id ASC) AS BIGINT) AS rank,
             COUNT(*) OVER (PARTITION BY cluster) AS n_cluster
           FROM sc)
         SELECT id, cluster, proto_cos, rank, n_cluster,
           rank <= CAST(CEIL(0.5 * n_cluster) AS BIGINT) AS keep
         FROM r ORDER BY cluster, rank""",
    "q200_stupid_backoff" -> stupidBackoffSql,
    "q209_ngram_lm" -> stupidBackoffSql,
    "q212_ohlc" ->
      """WITH e AS (SELECT user_id AS key,
           CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS bucket_start,
           epoch_us(ts) AS t, value FROM events),
         w AS (SELECT key, bucket_start, value,
             FIRST_VALUE(value) OVER (PARTITION BY key, bucket_start
               ORDER BY t, value) AS open,
             LAST_VALUE(value) OVER (PARTITION BY key, bucket_start
               ORDER BY t, value
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS close
           FROM e)
         SELECT key, bucket_start, COUNT(*) AS n, MAX(open) AS open,
           MAX(value) AS high, MIN(value) AS low, MAX(close) AS close,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE), 6) AS sum_value
         FROM w GROUP BY 1, 2 ORDER BY key, bucket_start""",
    "q211_interpolate" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS t, value
           FROM events),
         r AS (SELECT user_id, t AS rt, MAX(value) AS v FROM e
           WHERE event_type = 'view' GROUP BY 1, 2),
         p AS (SELECT event_id, user_id, t FROM e WHERE event_type = 'click'),
         br AS (SELECT p.event_id, p.user_id, p.t,
             (SELECT r.rt FROM r WHERE r.user_id = p.user_id AND r.rt <= p.t
              ORDER BY r.rt DESC LIMIT 1) AS tb,
             (SELECT r.v FROM r WHERE r.user_id = p.user_id AND r.rt <= p.t
              ORDER BY r.rt DESC LIMIT 1) AS vb,
             (SELECT r.rt FROM r WHERE r.user_id = p.user_id AND r.rt >= p.t
              ORDER BY r.rt ASC LIMIT 1) AS tf,
             (SELECT r.v FROM r WHERE r.user_id = p.user_id AND r.rt >= p.t
              ORDER BY r.rt ASC LIMIT 1) AS vf
           FROM p)
         SELECT event_id, user_id, t, ROUND(CASE
             WHEN tb IS NULL AND tf IS NULL THEN NULL
             WHEN tb IS NULL THEN vf
             WHEN tf IS NULL THEN vb
             WHEN tf = tb THEN vb
             ELSE vb + (vf - vb) * ((CAST(t AS DOUBLE) - CAST(tb AS DOUBLE))
               / (CAST(tf AS DOUBLE) - CAST(tb AS DOUBLE)))
           END, 6) AS interp
         FROM br ORDER BY event_id""",
    "q210_mixture_lifecycle" ->
      s"""WITH tc AS (SELECT source, CAST(len($toksSql) AS BIGINT) AS t FROM documents),
         per AS (SELECT source, CAST(SUM(t) AS BIGINT) AS tokens_avail
           FROM tc GROUP BY 1),
         c AS (SELECT source, tokens_avail,
             tokens_avail * 2 AS cap_tokens FROM per),
         w AS (SELECT *,
             CAST(COALESCE(SUM(cap_tokens) OVER (ORDER BY cap_tokens, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pfx,
             ROW_NUMBER() OVER (ORDER BY cap_tokens, source) AS r,
             COUNT(*) OVER () AS n
           FROM c),
         f AS (SELECT *, (cap_tokens * (n - r + 1) <= 48000 - pfx) AS capped FROM w),
         g AS (SELECT *,
             CAST(COALESCE(SUM(CASE WHEN capped THEN cap_tokens END) OVER (), 0)
               AS BIGINT) AS capped_sum,
             n - SUM(CASE WHEN capped THEN 1 ELSE 0 END) OVER () AS n_uncapped
           FROM f),
         plan AS (SELECT source, ROUND(
             (CASE WHEN capped THEN CAST(cap_tokens AS DOUBLE)
               ELSE CAST(48000 - capped_sum AS DOUBLE) / n_uncapped END)
             / CAST(tokens_avail AS DOUBLE), 6) AS epochs
           FROM g WHERE tokens_avail > 0),
         pl AS (SELECT source, epochs FROM plan WHERE epochs > 0),
         j AS (SELECT d.doc_id, d.source, p.epochs
           FROM documents d JOIN pl p USING (source)),
         e AS (SELECT doc_id, source, epochs, CAST(u.e AS INT) AS epoch
           FROM j, UNNEST(range(1, CAST(CEIL(epochs) AS BIGINT) + 1)) u(e)),
         k AS (SELECT * FROM e WHERE epoch <= FLOOR(epochs)
           OR (CAST(concat('0x', substr(md5('mx:' || CAST(epoch AS VARCHAR)
                 || ':' || CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) % 10000)
              < CAST(ROUND((epochs - FLOOR(epochs)) * 10000, 0) AS BIGINT)),
         s AS (SELECT doc_id AS id, source, epoch,
             md5(CAST(doc_id AS VARCHAR) || ':mx:' || CAST(epoch AS VARCHAR))
               AS shuffle_key
           FROM k)
         SELECT id, source, epoch, shuffle_key,
           CAST(ROW_NUMBER() OVER (ORDER BY epoch, shuffle_key, id) - 1 AS BIGINT)
             AS order_idx
         FROM s ORDER BY order_idx""",
    "q199_audio_envelope_dups" ->
      """WITH b AS (SELECT doc_id, source FROM documents WHERE doc_id < 200),
         ad AS (SELECT doc_id, source FROM b
           UNION ALL SELECT doc_id + 96000 AS doc_id, source FROM b)
         SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(0 AS INT) AS hamming
         FROM ad a JOIN ad b ON a.source = b.source AND a.doc_id < b.doc_id
         ORDER BY id1, id2""",
    "q197_quality_classifier" ->
      s"""SELECT doc_id, label, prob, prob >= 0.5 AS pred
         FROM (${lrScoredSql(16, 3, 0.5, lrYSql)}) ORDER BY doc_id""",
    "q198_calibration" ->
      s"""WITH s AS (${lrScoredSql(16, 3, 0.5, lrYSql)}),
         b AS (SELECT CAST(GREATEST(0, LEAST(9, FLOOR(prob * 10))) AS INT) AS bin,
             label, prob FROM s),
         t AS (SELECT COUNT(*) AS nt FROM b),
         a AS (SELECT bin, COUNT(*) AS n,
             ROUND(CAST(SUM(CAST(ROUND(prob, 6) AS DECIMAL(38,6))) AS DOUBLE)
               / COUNT(*), 6) AS mean_prob,
             ROUND(CAST(SUM(label) AS DOUBLE) / COUNT(*), 6) AS pos_rate
           FROM b GROUP BY 1)
         SELECT bin, n, mean_prob, pos_rate,
           ROUND(pos_rate - mean_prob, 6) AS gap,
           ROUND(CAST(n AS DOUBLE) / nt * ABS(ROUND(pos_rate - mean_prob, 6)), 6)
             AS ece_term
         FROM a, t ORDER BY bin""",
    "q196_unimax" ->
      s"""WITH tc AS (SELECT source, CAST(len($toksSql) AS BIGINT) AS t FROM documents),
         per AS (SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(t) AS BIGINT) AS tokens_avail FROM tc GROUP BY 1),
         c AS (SELECT source, n_docs, tokens_avail,
             tokens_avail * 2 AS cap_tokens FROM per),
         w AS (SELECT *,
             CAST(COALESCE(SUM(cap_tokens) OVER (ORDER BY cap_tokens, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pfx,
             ROW_NUMBER() OVER (ORDER BY cap_tokens, source) AS r,
             COUNT(*) OVER () AS n
           FROM c),
         f AS (SELECT *, (cap_tokens * (n - r + 1) <= 48000 - pfx) AS capped FROM w),
         g AS (SELECT *,
             CAST(COALESCE(SUM(CASE WHEN capped THEN cap_tokens END) OVER (), 0)
               AS BIGINT) AS capped_sum,
             n - SUM(CASE WHEN capped THEN 1 ELSE 0 END) OVER () AS n_uncapped
           FROM f)
         SELECT source, n_docs, tokens_avail, cap_tokens, capped,
           ROUND(CASE WHEN capped THEN CAST(cap_tokens AS DOUBLE)
             ELSE CAST(48000 - capped_sum AS DOUBLE) / n_uncapped END, 6)
             AS alloc_tokens,
           CASE WHEN tokens_avail > 0 THEN ROUND(
             (CASE WHEN capped THEN CAST(cap_tokens AS DOUBLE)
               ELSE CAST(48000 - capped_sum AS DOUBLE) / n_uncapped END)
             / CAST(tokens_avail AS DOUBLE), 6) END AS epochs,
           CAST(CASE WHEN n_uncapped = 0 THEN 48000 - capped_sum ELSE 0 END
             AS BIGINT) AS budget_left
         FROM g ORDER BY source""",
    "q195_bpe_fertility" -> {
      def gradeK(k: Int) =
        s"""SELECT $k AS n_merges,
           CAST(SUM(freq * (len(string_split(seq, ' ')) - 1)) AS BIGINT)
             AS total_tokens,
           ROUND(CAST(SUM(freq * (len(string_split(seq, ' ')) - 1)) AS DOUBLE)
             / CAST(SUM(freq) AS DOUBLE), 6) AS avg_tokens_per_word,
           ROUND(CAST(SUM(freq * len(term)) AS DOUBLE)
             / CAST(SUM(freq * (len(string_split(seq, ' ')) - 1)) AS DOUBLE), 6)
             AS avg_chars_per_token
         FROM v$k"""
      s"""WITH ${bpeVocabCtes(5)}
         ${Seq(0, 2, 5).map(gradeK).mkString(" UNION ALL ")}
         ORDER BY n_merges"""
    },
    "q194_pii_redact" ->
      """WITH input AS (
           SELECT doc_id, text FROM documents WHERE doc_id < 100
           UNION ALL
           SELECT v.doc_id, v.text FROM (VALUES
             (900001, 'contact me at alice@example.com or bob@corp.net thanks'),
             (900002, 'see https://example.com/a?x=1 and http://foo.org'),
             (900003, 'server at 10.0.0.1 and 192.168.100.200 responded'),
             (900004, 'call +1 555-123-4567 now'),
             (900005, 'mail to carol@site.io via https://go.to/x?e=d@ve.com now'),
             (900006, '+44 20-7946-0958 at 8.8.8.8')
           ) v(doc_id, text)),
         s1 AS (SELECT doc_id, text AS t0,
             regexp_replace(text, 'https?://[^ \t\n\x0B\f\r]+', '<URL>', 'g') AS t1
           FROM input),
         s2 AS (SELECT *, regexp_replace(t1,
             '[^ \t\n\x0B\f\r@]+@[^ \t\n\x0B\f\r@]+\.[^ \t\n\x0B\f\r@]+',
             '<EMAIL>', 'g') AS t2 FROM s1),
         s3 AS (SELECT *, regexp_replace(t2,
             '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g') AS t3
           FROM s2)
         SELECT doc_id,
           regexp_replace(t3, '\+[0-9][0-9 -]{5,13}[0-9]', '<PHONE>', 'g')
             AS clean_text,
           CAST(len(regexp_extract_all(t0, 'https?://[^ \t\n\x0B\f\r]+')) AS INT)
             AS n_urls,
           CAST(len(regexp_extract_all(t1,
             '[^ \t\n\x0B\f\r@]+@[^ \t\n\x0B\f\r@]+\.[^ \t\n\x0B\f\r@]+')) AS INT)
             AS n_emails,
           CAST(len(regexp_extract_all(t2,
             '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS INT) AS n_ips,
           CAST(len(regexp_extract_all(t3, '\+[0-9][0-9 -]{5,13}[0-9]')) AS INT)
             AS n_phones
         FROM s3 ORDER BY doc_id""",
    "q193_image_dhash_dups" ->
      """WITH b AS (SELECT doc_id, source FROM documents WHERE doc_id < 200),
         ad AS (SELECT doc_id, source FROM b
           UNION ALL SELECT doc_id + 96000 AS doc_id, source FROM b),
         m AS (SELECT doc_id, 16 + doc_id % 48 AS w,
           16 + strlen(source) % 48 AS h, source FROM ad)
         SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(0 AS INT) AS hamming
         FROM m a JOIN m b ON a.w = b.w AND a.h = b.h
           AND a.source = b.source AND a.doc_id < b.doc_id
         ORDER BY id1, id2""",
    "q192_nfc_normalize" ->
      s"""WITH t AS (SELECT v.doc_id, v.text FROM (VALUES
           (1, 'cafe' || chr(769) || ' menu'),
           (2, 'caf' || chr(233) || ' menu'),
           (3, 'plain ascii text 42'),
           (4, chr(7691) || chr(803) || ' mark order'),
           (5, chr(44032) || ' vs ' || chr(4352) || chr(4449))
         ) v(doc_id, text))
         SELECT doc_id, nfc_normalize(text) AS nfc_text, $normFpSql AS fp
         FROM t ORDER BY doc_id""",
    "q191_domain_gate" ->
      s"""WITH u AS ($syntheticUrlsSql),
         h AS (SELECT doc_id, regexp_replace(regexp_replace(
             lower(regexp_extract(trim(url),
               '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?([^/?#]*)', 1)),
             ':[0-9]+$$', ''), '^www\\.', '') AS host0
           FROM u),
         b AS (SELECT lower(v.d) AS bd FROM (VALUES ('example.com'),
           ('src0.example.com'), ('github.io'), ('src5.co.uk'),
           ('spam.net')) v(d)),
         lab AS (SELECT doc_id, host0, string_split(host0, '.') AS labels
           FROM h WHERE host0 <> ''),
         e AS (SELECT doc_id, un.s AS sfx
           FROM lab, UNNEST(list_transform(range(1, len(labels) + 1),
             i -> array_to_string(list_slice(labels, CAST(i AS INT),
               len(labels)), '.'))) un(s)),
         m AS (SELECT doc_id, arg_max(sfx, len(sfx)) AS matched_domain
           FROM e JOIN b ON e.sfx = b.bd GROUP BY doc_id)
         SELECT h.doc_id,
           CASE WHEN h.host0 = '' THEN NULL ELSE h.host0 END AS host,
           m.matched_domain IS NOT NULL AS blocked, m.matched_domain
         FROM h LEFT JOIN m USING (doc_id) ORDER BY h.doc_id""",
    "q190_lsh_calibrate" -> {
      val sigCols = (0 until 8).map(sd => s"${minhashSql(sd)} AS m$sd").mkString(", ")
      def candFor(r: Int) = {
        val bandSelects = (0 until 8 / r).map { b =>
          val slice = (0 until r).map(i => s"CAST(m${b * r + i} AS VARCHAR)")
            .mkString(" || '|' || ")
          s"SELECT doc_id, '$b:' || md5($slice) AS band FROM sig"
        }.mkString(" UNION ALL ")
        s"""SELECT DISTINCT ${8 / r} AS bands, $r AS "rows",
            a.doc_id AS id1, b.doc_id AS id2
          FROM ($bandSelects) a JOIN ($bandSelects) b
            ON a.band = b.band AND a.doc_id < b.doc_id"""
      }
      s"""WITH sampled AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0),
         alldocs AS (SELECT doc_id, text FROM sampled
           UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM sampled),
         base AS (SELECT doc_id, list_distinct($bases3Sql) AS sh FROM alldocs),
         sig AS (SELECT doc_id, $sigCols FROM alldocs),
         post AS (SELECT base.doc_id, u.b AS b FROM base, UNNEST(sh) AS u(b)),
         inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
             CAST(COUNT(*) AS DOUBLE) AS ni
           FROM post a JOIN post b ON a.b = b.b AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         sizes AS (SELECT doc_id, CAST(len(sh) AS DOUBLE) AS n FROM base),
         truth AS (SELECT id1, id2, ROUND(ni / (s1.n + s2.n - ni), 6) AS jacc
           FROM inter JOIN sizes s1 ON s1.doc_id = id1
           JOIN sizes s2 ON s2.doc_id = id2),
         cand AS (${Seq(1, 2, 4).map(candFor).mkString(" UNION ALL ")}),
         scored AS (SELECT c.bands, c."rows", c.id1, c.id2,
             COALESCE(t.jacc, 0.0) AS jacc
           FROM cand c LEFT JOIN truth t ON c.id1 = t.id1 AND c.id2 = t.id2),
         th AS (SELECT CAST(v.t AS DOUBLE) AS threshold
           FROM (VALUES (0.2), (0.5), (0.8)) v(t)),
         truthn AS (SELECT th.threshold,
             COUNT(*) FILTER (WHERE truth.jacc >= th.threshold) AS n_truth
           FROM th LEFT JOIN truth ON TRUE GROUP BY 1),
         candn AS (SELECT s.bands, s."rows", th.threshold, COUNT(*) AS n_cand,
             COUNT(*) FILTER (WHERE s.jacc >= th.threshold) AS n_hit
           FROM th CROSS JOIN scored s GROUP BY 1, 2, 3),
         grid AS (SELECT g.bands, g."rows", th.threshold
           FROM (VALUES (8, 1), (4, 2), (2, 4)) g(bands, "rows") CROSS JOIN th)
         SELECT g.bands, g."rows", g.threshold,
           COALESCE(tn.n_truth, 0) AS n_truth,
           COALESCE(cn.n_cand, 0) AS n_cand,
           COALESCE(cn.n_hit, 0) AS n_hit,
           CASE WHEN COALESCE(cn.n_cand, 0) = 0 THEN NULL
             ELSE ROUND(CAST(cn.n_hit AS DOUBLE) / cn.n_cand, 6) END AS precision,
           CASE WHEN COALESCE(tn.n_truth, 0) = 0 THEN NULL
             ELSE ROUND(CAST(cn.n_hit AS DOUBLE) / tn.n_truth, 6) END AS recall
         FROM grid g
         LEFT JOIN candn cn ON cn.bands = g.bands AND cn."rows" = g."rows"
           AND cn.threshold = g.threshold
         LEFT JOIN truthn tn ON tn.threshold = g.threshold
         ORDER BY g."rows", g.threshold"""
    },
    "q189_cross_source_dup" ->
      s"""WITH h AS (SELECT doc_id, $bases3Sql AS hs FROM documents),
         w AS (SELECT doc_id, list_distinct(list_transform(range(0, len(hs) - 3),
             i -> list_aggregate(hs[CAST(i + 1 AS INT) : CAST(i + 4 AS INT)], 'min'))) AS fps
           FROM h WHERE len(hs) >= 4),
         posts AS (SELECT w.doc_id, unnest(fps) AS fp FROM w),
         f AS (SELECT p.fp, d.source, COUNT(*) AS cnt
           FROM posts p JOIN documents d ON p.doc_id = d.doc_id
           GROUP BY 1, 2),
         p AS (SELECT a.source AS source_a, b.source AS source_b,
             a.cnt AS ca, b.cnt AS cb
           FROM f a JOIN f b ON a.fp = b.fp AND a.source < b.source)
         SELECT source_a, source_b, COUNT(*) AS n_shared_fps,
           CAST(SUM(ca) AS BIGINT) AS docs_a, CAST(SUM(cb) AS BIGINT) AS docs_b
         FROM p GROUP BY 1, 2 ORDER BY 1, 2""",
    "q188_capacity_plan" ->
      s"""WITH tc AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens FROM documents),
         cum AS (SELECT doc_id, n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before
           FROM tc),
         caps AS (SELECT CAST(unnest([128, 512, 2048, 8192]) AS BIGINT) AS capacity),
         a AS (SELECT capacity, n_tokens, tokens_before,
           tokens_before // capacity AS p0,
           (tokens_before + n_tokens - 1) // capacity AS p1
           FROM cum, caps WHERE n_tokens > 0)
         SELECT capacity, CAST(MAX(p1) + 1 AS BIGINT) AS n_packs,
           CAST(SUM(CASE WHEN p1 > p0 THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs,
           ROUND(CAST(SUM(CASE WHEN p1 > p0 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
             AS split_frac,
           CAST((MAX(p1) + 1) * capacity - SUM(n_tokens) AS BIGINT) AS tail_waste
         FROM a GROUP BY capacity ORDER BY capacity""",
    "q187_nprobe_sweep" ->
      """WITH cents AS (SELECT vec_id AS ccid, embedding AS cv FROM embeddings WHERE vec_id < 4),
         q AS (SELECT vec_id AS qid, embedding AS qv,
             sqrt((SELECT SUM(CAST(y AS DOUBLE)*CAST(y AS DOUBLE)) FROM unnest(embedding) AS t(y))) AS qmag
           FROM embeddings WHERE vec_id IN (5, 6)),
         po AS (SELECT q.qid, c.ccid,
             ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
               (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
                FROM (SELECT unnest(c.cv) AS x, unnest(q.qv) AS y) z) DESC,
               c.ccid ASC) AS lrank
           FROM q, cents c),
         assign AS (SELECT e.vec_id, CAST((
             SELECT c.ccid FROM cents c
             ORDER BY (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
                       FROM (SELECT unnest(e.embedding) AS x, unnest(c.cv) AS y) z) DESC,
                      c.ccid ASC
             LIMIT 1) AS INT) AS ivf_list
           FROM embeddings e),
         sc AS (SELECT q.qid, e.vec_id AS id,
             (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
              FROM (SELECT unnest(e.embedding) AS x, unnest(q.qv) AS y) z) /
             (sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(e.embedding) AS t(x)))
              * q.qmag + 1e-12) AS c,
             a.ivf_list
           FROM embeddings e JOIN assign a USING (vec_id), q),
         ranked AS (SELECT sc.qid, sc.id, sc.c, po.lrank
           FROM sc JOIN po ON po.qid = sc.qid AND po.ccid = sc.ivf_list),
         exact AS (SELECT qid, id FROM (
             SELECT qid, id, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, id) AS r
             FROM ranked) WHERE r <= 10),
         np AS (SELECT unnest([1, 2, 3, 4]) AS nprobe),
         ap AS (SELECT r.qid, n.nprobe, r.id,
             ROW_NUMBER() OVER (PARTITION BY r.qid, n.nprobe ORDER BY r.c DESC, r.id) AS ar
           FROM ranked r, np n WHERE r.lrank <= n.nprobe),
         hits AS (SELECT a.qid, a.nprobe, COUNT(*) AS h
           FROM ap a JOIN exact e ON e.qid = a.qid AND e.id = a.id
           WHERE a.ar <= 10 GROUP BY 1, 2),
         grid AS (SELECT q.qid, np.nprobe FROM q, np)
         SELECT g.nprobe, COUNT(*) AS n_queries,
           ROUND(AVG(COALESCE(h, 0) / 10.0), 6) AS mean_recall,
           ROUND(g.nprobe / 4.0, 6) AS lists_frac
         FROM grid g LEFT JOIN hits ON hits.qid = g.qid AND hits.nprobe = g.nprobe
         GROUP BY g.nprobe ORDER BY g.nprobe""",
    "q186_curriculum" ->
      s"""WITH s AS (SELECT doc_id, $qualityScoreSql AS score FROM documents),
         c AS (SELECT quantile_cont(score, 0.25) AS c1, quantile_cont(score, 0.5) AS c2,
                      quantile_cont(score, 0.75) AS c3 FROM s),
         b AS (SELECT doc_id, score,
             CAST((CASE WHEN score >= c1 THEN 1 ELSE 0 END)
                + (CASE WHEN score >= c2 THEN 1 ELSE 0 END)
                + (CASE WHEN score >= c3 THEN 1 ELSE 0 END) AS INT) AS band,
             md5(CAST(doc_id AS VARCHAR) || ':ep0') AS shuffle_key
           FROM s, c)
         SELECT doc_id, score, band, shuffle_key,
           CAST(ROW_NUMBER() OVER (ORDER BY band, shuffle_key, doc_id) - 1 AS BIGINT)
             AS order_idx
         FROM b ORDER BY order_idx""",
    "q185_cluster_datasheet" ->
      s"""WITH cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 4),
         asg AS (SELECT e.vec_id AS id, CAST((
             SELECT c.cid FROM cents c
             ORDER BY (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
                       FROM (SELECT unnest(e.embedding) AS x, unnest(c.cv) AS y) z) DESC,
                      c.cid ASC
             LIMIT 1) AS INT) AS cluster
           FROM embeddings e),
         j AS (SELECT a.cluster, d.source, $toksSql AS tk
           FROM documents d JOIN asg a ON d.doc_id = a.id),
         stats AS (SELECT cluster, COUNT(*) AS n_docs,
           CAST(SUM(len(tk)) AS BIGINT) AS n_tokens FROM j GROUP BY 1),
         sc AS (SELECT cluster, source, COUNT(*) AS n FROM j GROUP BY 1, 2),
         ts AS (SELECT cluster, source,
           ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY n DESC, source) AS r
           FROM sc),
         tm AS (SELECT cluster, t.term, COUNT(*) AS tf
           FROM (SELECT cluster, unnest(tk) AS term FROM j) t
           WHERE t.term <> '' GROUP BY 1, 2),
         tt AS (SELECT cluster, term,
           ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY tf DESC, term) AS r
           FROM tm),
         agg AS (SELECT cluster, string_agg(term, ' ' ORDER BY r) AS top_terms
           FROM tt WHERE r <= 5 GROUP BY 1)
         SELECT s.cluster, s.n_docs, s.n_tokens, ts.source AS top_source, agg.top_terms
         FROM stats s
         JOIN ts ON ts.cluster = s.cluster AND ts.r = 1
         JOIN agg ON agg.cluster = s.cluster
         ORDER BY s.cluster""",
    "q183_tag_dictionary" ->
      s"""WITH dict(tag, phrase) AS (VALUES
           ('exec', 'hash'), ('exec', 'row scan'), ('exec', 'merge'),
           ('stream', 'stream batch'), ('stream', 'window'),
           ('storage', 'table part value'), ('storage', 'column')),
         t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         g AS (
           SELECT doc_id, tk[CAST(u.i + 1 AS INT)] AS gram
             FROM t, UNNEST(range(0, len(tk))) u(i)
           UNION ALL
           SELECT doc_id, tk[CAST(u.i + 1 AS INT)] || ' ' || tk[CAST(u.i + 2 AS INT)]
             FROM t, UNNEST(range(0, len(tk) - 1)) u(i)
           UNION ALL
           SELECT doc_id, tk[CAST(u.i + 1 AS INT)] || ' ' || tk[CAST(u.i + 2 AS INT)]
               || ' ' || tk[CAST(u.i + 3 AS INT)]
             FROM t, UNNEST(range(0, len(tk) - 2)) u(i))
         SELECT g.doc_id, d.tag, COUNT(*) AS n_matches
         FROM g JOIN dict d ON g.gram = d.phrase
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q184_shard_read" ->
      s"""WITH tc AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens FROM documents),
         cum AS (SELECT doc_id, n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before
           FROM tc),
         a AS (SELECT doc_id, n_tokens, tokens_before,
           tokens_before // 2048 AS p0,
           (tokens_before + n_tokens - 1) // 2048 AS p1
           FROM cum WHERE n_tokens > 0),
         sl AS (SELECT doc_id, CAST(u.p AS BIGINT) AS pack_id,
           GREATEST(CAST(0 AS BIGINT), u.p * 2048 - tokens_before) AS tok_start,
           LEAST(n_tokens, (u.p + 1) * 2048 - tokens_before) AS tok_end
           FROM a, UNNEST(range(p0, p1 + 1)) AS u(p)),
         t AS (SELECT doc_id, $toksSql AS tk FROM documents)
         SELECT CAST(pack_id // 4 AS BIGINT) AS shard, pack_id, sl.doc_id,
           tok_start, tok_end,
           array_to_string(tk[CAST(tok_start + 1 AS INT):CAST(tok_end AS INT)], ' ') AS piece,
           tok_end - tok_start AS n_tokens
         FROM sl JOIN t ON sl.doc_id = t.doc_id
         WHERE pack_id // 4 IN (0, 2)
         ORDER BY pack_id, tok_start""",
    "q182_shard_manifest" ->
      s"""WITH tc AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens FROM documents),
         cum AS (SELECT doc_id, n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before
           FROM tc),
         a AS (SELECT doc_id, n_tokens, tokens_before,
           tokens_before // 2048 AS p0,
           (tokens_before + n_tokens - 1) // 2048 AS p1
           FROM cum WHERE n_tokens > 0),
         sl AS (SELECT doc_id, CAST(u.p AS BIGINT) AS pack_id,
           GREATEST(CAST(0 AS BIGINT), u.p * 2048 - tokens_before) AS tok_start,
           LEAST(n_tokens, (u.p + 1) * 2048 - tokens_before) AS tok_end
           FROM a, UNNEST(range(p0, p1 + 1)) AS u(p))
         SELECT pack_id // 4 AS shard,
           COUNT(DISTINCT pack_id) AS n_packs,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_slices,
           CAST(SUM(tok_end - tok_start) AS BIGINT) AS n_tokens,
           CAST(SUM(CAST(CAST(concat('0x', substr(md5(
               CAST(doc_id AS VARCHAR) || ':' || CAST(pack_id AS VARCHAR) || ':' ||
               CAST(tok_start AS VARCHAR) || ':' || CAST(tok_end AS VARCHAR)), 1, 7))
             AS BIGINT) AS DECIMAL(38,0))) AS BIGINT) AS content_fp
         FROM sl GROUP BY shard ORDER BY shard""",
    "q181_ivf_retrain" ->
      s"""WITH cents0 AS (SELECT vec_id AS ccid, embedding AS cv FROM embeddings WHERE vec_id < 4),
         assign0 AS (SELECT e.vec_id, e.embedding, CAST((
             SELECT c.ccid FROM cents0 c
             ORDER BY (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
                       FROM (SELECT unnest(e.embedding) AS x, unnest(c.cv) AS y) z) DESC,
                      c.ccid ASC
             LIMIT 1) AS INT) AS cid
           FROM embeddings e),
         means AS (SELECT a.cid, CAST(t.i AS INT) AS dim,
             CAST(SUM(CAST(CAST(a.embedding[CAST(t.i + 1 AS INT)] AS DOUBLE)
                      AS DECIMAL(28,8))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS c
           FROM assign0 a, LATERAL UNNEST(range(len(a.embedding))) AS t(i)
           GROUP BY a.cid, dim),
         newc AS (SELECT cid AS ccid, list(CAST(c AS FLOAT) ORDER BY dim) AS cv
           FROM means GROUP BY cid),
         cents AS (SELECT c0.ccid, COALESCE(n.cv, c0.cv) AS cv
           FROM cents0 c0 LEFT JOIN newc n ON n.ccid = c0.ccid),
         ${ivfSearchTail("embeddings")}""",
    "q180_hybrid_search" -> hybridSearchSql,
    "q216_index_hybrid" -> hybridSearchSql,
    "q348_hybrid_maxsim" -> hybridMaxsimSql,
    "q179_bpe_tokenize" ->
      s"""WITH ${bpeVocabCtes(5)},
         seg AS (SELECT term, len(string_split(seq, ' ')) AS n_sym FROM v5),
         post AS (SELECT doc_id, unnest($toksSql) AS term FROM documents)
         SELECT p.doc_id, COUNT(*) AS n_words,
           CAST(SUM(s.n_sym) AS BIGINT) AS n_bpe_tokens
         FROM post p JOIN seg s USING (term)
         WHERE p.term <> ''
         GROUP BY p.doc_id ORDER BY p.doc_id""",
    "q178_decontaminate" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         g AS (SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
             substr(md5(${(1 to 8).map(j => s"tk[CAST(u.i+$j AS INT)]")
               .mkString(" || ' ' || ")}), 1, 16) AS h
           FROM t, UNNEST(range(0, len(tk) - 7)) u(i)),
         held AS (SELECT DISTINCT h FROM g WHERE doc_id % 10 = 3),
         m AS (SELECT g.doc_id, g.pos FROM g JOIN held USING (h)),
         s AS (SELECT doc_id, pos,
             CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
               THEN 0 ELSE 1 END AS nw
           FROM m),
         x AS (SELECT doc_id, pos,
             SUM(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
           FROM s),
         sp AS (SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 8 AS span_end
           FROM x GROUP BY doc_id, isl)
         SELECT doc_id, span_start, span_end,
           span_end - span_start AS n_tokens
         FROM sp ORDER BY doc_id, span_start""",
    "q176_crawl_pipeline" -> {
      val sigCols = (0 until 8).map(sd => s"${minhashSql(sd)} AS m$sd").mkString(", ")
      val bandSelects = (0 until 4).map(b =>
        s"""SELECT doc_id, '$b:' || md5(CAST(m${2 * b} AS VARCHAR) || '|' ||
            CAST(m${2 * b + 1} AS VARCHAR)) AS band FROM sig""")
        .mkString(" UNION ALL ")
      s"""WITH u AS ($syntheticUrlsSql),
         up AS (SELECT doc_id, url,
             lower(regexp_extract(trim(url),
               '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?([^/?#]*)', 1)) AS auth,
             regexp_extract(trim(url),
               '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?[^/?#]*([^?#]*)', 1) AS pth,
             regexp_extract(trim(url), '\\?([^#]*)', 1) AS qry
           FROM u),
         uh AS (SELECT doc_id, url, pth, qry,
             regexp_replace(regexp_replace(auth, ':[0-9]+$$', ''), '^www\\.', '') AS host0
           FROM up),
         un AS (SELECT doc_id, host0,
             CASE WHEN host0 = '' THEN url
               ELSE 'https://' || host0 ||
                 (CASE WHEN regexp_replace(pth, '/+$$', '') = '' THEN '/'
                   ELSE regexp_replace(pth, '/+$$', '') END) ||
                 (CASE WHEN len(kept) > 0
                   THEN '?' || array_to_string(kept, '&') ELSE '' END)
             END AS norm_url
           FROM (SELECT doc_id, url, host0, pth,
               list_sort(list_filter(string_split(qry, '&'), q -> q <> ''
                 AND NOT (lower(string_split(q, '=')[1]) IN ($trackingParamsSql)))) AS kept
             FROM uh)),
         s1 AS (SELECT MIN(doc_id) AS doc_id FROM un WHERE host0 <> '' GROUP BY norm_url),
         d1 AS (SELECT d.doc_id, d.text, d.source FROM documents d JOIN s1 USING (doc_id)),
         s2 AS (SELECT MIN(doc_id) AS doc_id
           FROM (SELECT doc_id, $normFpSql AS fp FROM d1) GROUP BY fp),
         d2 AS (SELECT d1.* FROM d1 JOIN s2 USING (doc_id)),
         sig AS (SELECT doc_id, $sigCols FROM d2),
         banded AS ($bandSelects),
         dropn AS (SELECT DISTINCT b.doc_id
           FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id),
         d3 AS (SELECT d2.* FROM d2 LEFT JOIN dropn ON d2.doc_id = dropn.doc_id
           WHERE dropn.doc_id IS NULL),
         gb AS (SELECT doc_id, $toksSql AS t, $shingle3Sql AS sh FROM d3),
         gm AS (SELECT doc_id, len(t) AS nt,
             CAST(COALESCE(list_aggregate(list_transform(t, x -> length(x)), 'sum'), 0)
               AS DOUBLE) / GREATEST(len(t), 1) AS atl,
             CASE WHEN len(sh) = 0 THEN 0.0
                  ELSE CAST(len(sh) - len(list_distinct(sh)) AS DOUBLE) / len(sh) END AS df,
             len(list_filter(list_distinct(t),
               x -> x IN ('the','a','of','and','to','in','is','for','on','with'))) AS sw
           FROM gb),
         d4 AS (SELECT d3.* FROM d3 JOIN gm ON d3.doc_id = gm.doc_id
           WHERE NOT (gm.nt < 20 OR gm.nt > 100000 OR gm.atl < 3.0
             OR gm.atl > 10.0 OR gm.df > 0.05 OR gm.sw < 2)),
         cal AS (SELECT doc_id,
             ROUND(percent_rank() OVER (PARTITION BY source ORDER BY score), 6) AS pr
           FROM (SELECT doc_id, source, $qualityScoreSql AS score FROM d4)),
         d5 AS (SELECT d4.* FROM d4 JOIN cal ON d4.doc_id = cal.doc_id
           WHERE cal.pr >= 0.2),
         mt AS (SELECT doc_id, source, CAST(len($toksSql) AS BIGINT) AS tokens,
             md5(CAST(doc_id AS VARCHAR) || ':' || 'mix0') AS sk
           FROM d5 WHERE source IN ('src0', 'src1', 'src2')),
         mc AS (SELECT doc_id, source, tokens,
             CAST(SUM(tokens) OVER (PARTITION BY source ORDER BY sk, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
           FROM mt),
         d6 AS (SELECT mc.doc_id, mc.tokens FROM mc
           JOIN (VALUES ('src0', 800), ('src1', 500), ('src2', 250)) b(bsrc, budget)
             ON mc.source = bsrc
           WHERE mc.cum_tokens <= budget),
         pk AS (SELECT doc_id, tokens,
             CAST(COALESCE(SUM(tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS tokens_before
           FROM d6),
         np AS (SELECT COALESCE(MAX(CASE WHEN tokens > 0
               THEN (tokens_before + tokens - 1) // 2048
               ELSE tokens_before // 2048 END) + 1, 0) AS n FROM pk)
         SELECT * FROM (
           SELECT CAST(0 AS INT) AS stage_no, 'input' AS stage,
             (SELECT COUNT(*) FROM documents) AS n
           UNION ALL SELECT 1, 'url_dedup', (SELECT COUNT(*) FROM d1)
           UNION ALL SELECT 2, 'exact_dedup', (SELECT COUNT(*) FROM d2)
           UNION ALL SELECT 3, 'near_dedup', (SELECT COUNT(*) FROM d3)
           UNION ALL SELECT 4, 'quality_gate', (SELECT COUNT(*) FROM d4)
           UNION ALL SELECT 5, 'calibrated', (SELECT COUNT(*) FROM d5)
           UNION ALL SELECT 6, 'mixed', (SELECT COUNT(*) FROM d6)
           UNION ALL SELECT 7, 'packs', (SELECT CAST(n AS BIGINT) FROM np)
         ) ORDER BY stage_no"""
    },
    "q89_ivfpq" ->
      """WITH cents AS (SELECT vec_id AS ccid, embedding AS cv FROM embeddings WHERE vec_id < 4),
         q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 5),
         probes AS (SELECT c.ccid FROM cents c, q
           ORDER BY (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
                     FROM (SELECT unnest(c.cv) AS x, unnest(q.qv) AS y) z) DESC,
                    c.ccid ASC
           LIMIT 2),
         assign AS (SELECT e.vec_id, CAST((
             SELECT c.ccid FROM cents c
             ORDER BY (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
                       FROM (SELECT unnest(e.embedding) AS x, unnest(c.cv) AS y) z) DESC,
                      c.ccid ASC
             LIMIT 1) AS INT) AS ivf_list
           FROM embeddings e),
         pruned AS (SELECT e.* FROM embeddings e JOIN assign a USING (vec_id)
           WHERE a.ivf_list IN (SELECT ccid FROM probes)),
         subs AS (
           SELECT t.j, e.vec_id AS c, e.embedding[CAST(t.j*16+1 AS INT) : CAST(t.j*16+16 AS INT)] AS cv
           FROM embeddings e, UNNEST(range(4)) AS t(j) WHERE e.vec_id < 4),
         lut AS (
           SELECT s.j, s.c,
             (SELECT SUM(z.d * z.d) FROM (
                SELECT CAST(x AS DOUBLE) - CAST(y AS DOUBLE) AS d
                FROM (SELECT unnest(q.qv[CAST(s.j*16+1 AS INT) : CAST(s.j*16+16 AS INT)]) AS x,
                             unnest(s.cv) AS y)) z) AS dist
           FROM subs s, q),
         codes AS (
           SELECT e.vec_id, t.j,
             (SELECT s.c FROM subs s WHERE s.j = t.j
              ORDER BY (SELECT SUM(z.d * z.d) FROM (
                  SELECT CAST(x AS DOUBLE) - CAST(y AS DOUBLE) AS d
                  FROM (SELECT unnest(e.embedding[CAST(t.j*16+1 AS INT) : CAST(t.j*16+16 AS INT)]) AS x,
                               unnest(s.cv) AS y)) z) ASC,
                s.c ASC
              LIMIT 1) AS code
           FROM pruned e, UNNEST(range(4)) AS t(j)),
         adc AS (
           SELECT c.vec_id, SUM(l.dist) AS adc_dist
           FROM codes c JOIN lut l ON l.j = c.j AND l.c = c.code
           GROUP BY c.vec_id)
         SELECT vec_id, ROUND(adc_dist, 6) AS adc_dist
         FROM adc ORDER BY adc_dist ASC, vec_id ASC LIMIT 10""",
    "q90_line_dedup" ->
      """WITH pages AS (
           SELECT doc_id // 5 AS page_id,
             'nav home about contact subscribe' || chr(10) ||
             string_agg(text || chr(10) || 'promo ' || source, chr(10) ORDER BY doc_id) AS text
           FROM documents GROUP BY 1),
         l AS (
           SELECT p.page_id, CAST(t.i AS BIGINT) AS pos, p.ls[CAST(t.i + 1 AS INT)] AS line
           FROM (SELECT page_id, string_split(text, chr(10)) AS ls FROM pages) p,
                UNNEST(range(0, len(p.ls))) AS t(i)),
         dup AS (
           SELECT substr(md5(line), 1, 16) AS lk FROM l
           WHERE strlen(line) >= 5
           GROUP BY 1 HAVING COUNT(DISTINCT page_id) >= 2)
         SELECT l.page_id,
           COUNT(*) AS n_lines,
           COUNT(d.lk) AS n_removed,
           COALESCE(string_agg(CASE WHEN d.lk IS NULL THEN l.line END,
             chr(10) ORDER BY l.pos), '') AS text_clean
         FROM l LEFT JOIN dup d ON substr(md5(l.line), 1, 16) = d.lk
         GROUP BY l.page_id ORDER BY l.page_id""",
    "q91_semantic_dedup" ->
      """WITH cents AS (SELECT vec_id AS ccid, embedding AS cv FROM embeddings WHERE vec_id < 4),
         assign AS (SELECT e.vec_id, e.embedding, CAST((
             SELECT c.ccid FROM cents c
             ORDER BY (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
                       FROM (SELECT unnest(e.embedding) AS x, unnest(c.cv) AS y) z) DESC,
                      c.ccid ASC
             LIMIT 1) AS INT) AS cluster
           FROM embeddings e),
         dups AS (SELECT DISTINCT b.vec_id FROM assign a JOIN assign b
           ON a.cluster = b.cluster AND a.vec_id < b.vec_id
           WHERE (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
                  FROM (SELECT unnest(a.embedding) AS x, unnest(b.embedding) AS y) z) /
                 (sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(a.embedding) AS t(x)))
                  * sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(b.embedding) AS t(x)))
                  + 1e-12) >= 0.40)
         SELECT a.vec_id, a.cluster, (d.vec_id IS NOT NULL) AS is_dup
         FROM assign a LEFT JOIN dups d ON a.vec_id = d.vec_id
         ORDER BY a.vec_id""",
    "q92_mixture_sample" ->
      s"""WITH t AS (SELECT doc_id, source, CAST(len($toksSql) AS BIGINT) AS tokens,
             md5(CAST(doc_id AS VARCHAR) || ':' || 'mix0') AS sk
           FROM documents WHERE source IN ('src0', 'src1', 'src2')),
         c AS (SELECT doc_id, source, tokens,
             CAST(SUM(tokens) OVER (PARTITION BY source ORDER BY sk, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
           FROM t)
         SELECT doc_id, source, tokens, cum_tokens FROM c
         JOIN (VALUES ('src0', 800), ('src1', 500), ('src2', 250)) b(bsrc, budget)
           ON source = bsrc
         WHERE cum_tokens <= budget ORDER BY doc_id""",
    "q93_quality_gate" ->
      s"""WITH b AS (SELECT doc_id, $toksSql AS t, $shingle3Sql AS sh
           FROM documents),
         m AS (SELECT doc_id, len(t) AS nt,
             CAST(COALESCE(list_aggregate(list_transform(t, x -> length(x)), 'sum'), 0)
               AS DOUBLE) / GREATEST(len(t), 1) AS atl,
             CASE WHEN len(sh) = 0 THEN 0.0
                  ELSE CAST(len(sh) - len(list_distinct(sh)) AS DOUBLE) / len(sh) END AS df,
             len(list_filter(list_distinct(t),
               x -> x IN ('the','a','of','and','to','in','is','for','on','with'))) AS sw
           FROM b)
         SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
           (reason IS NULL) AS keep, reason
         FROM (SELECT doc_id, nt,
             CASE WHEN nt < 20 THEN 'too_short'
                  WHEN nt > 100000 THEN 'too_long'
                  WHEN atl < 3.0 THEN 'word_len_low'
                  WHEN atl > 10.0 THEN 'word_len_high'
                  WHEN df > 0.05 THEN 'repetition'
                  WHEN sw < 2 THEN 'few_stopwords' END AS reason
           FROM m)
         ORDER BY doc_id""",
    "q94_novelty" ->
      s"""WITH p AS (SELECT DISTINCT doc_id, h FROM
             (SELECT doc_id, unnest($bases3Sql) AS h FROM documents)),
         g AS (SELECT h, COUNT(*) AS nd FROM p GROUP BY h)
         SELECT p.doc_id, COUNT(*) AS n_shingles,
           COUNT(CASE WHEN g.nd = 1 THEN 1 END) AS n_unique,
           ROUND(CAST(COUNT(CASE WHEN g.nd = 1 THEN 1 END) AS DOUBLE) / COUNT(*), 6)
             AS novelty
         FROM p JOIN g USING (h) GROUP BY p.doc_id ORDER BY p.doc_id""",
    "q95_bigram_table" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         bg AS (SELECT tk[CAST(u.i + 1 AS INT)] AS w1, tk[CAST(u.i + 2 AS INT)] AS w2
           FROM t, UNNEST(range(0, len(tk) - 1)) AS u(i)),
         f AS (SELECT w1, w2, COUNT(*) AS n FROM bg
           WHERE w1 <> '' AND w2 <> '' GROUP BY 1, 2),
         r AS (SELECT w1, w2, n,
             CAST(ROW_NUMBER() OVER (PARTITION BY w1 ORDER BY n DESC, w2 ASC) AS INT) AS rank
           FROM f)
         SELECT w1, w2, n, rank FROM r WHERE rank <= 3 ORDER BY w1, rank""",
    "q96_vocab_overlap" ->
      s"""WITH raw AS (SELECT source, unnest($toksSql) AS term FROM documents),
         p AS (SELECT DISTINCT source, term FROM raw WHERE term <> ''),
         s AS (SELECT source, COUNT(*) AS v FROM p GROUP BY 1),
         sh AS (SELECT a.source AS s1, b.source AS s2, COUNT(*) AS n_shared
           FROM p a JOIN p b ON a.term = b.term AND a.source < b.source
           GROUP BY 1, 2)
         SELECT s1, s2, v1.v AS v1, v2.v AS v2, n_shared,
           ROUND(CAST(n_shared AS DOUBLE) / CAST(v1.v + v2.v - n_shared AS DOUBLE), 6)
             AS jaccard
         FROM sh JOIN s v1 ON v1.source = s1 JOIN s v2 ON v2.source = s2
         ORDER BY s1, s2""",
    "q97_ivf_stats" ->
      """WITH cents AS (SELECT vec_id AS ccid, embedding AS cv FROM embeddings WHERE vec_id < 4),
         assign AS (SELECT e.vec_id, e.embedding, CAST((
             SELECT c.ccid FROM cents c
             ORDER BY (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
                       FROM (SELECT unnest(e.embedding) AS x, unnest(c.cv) AS y) z) DESC,
                      c.ccid ASC
             LIMIT 1) AS INT) AS ivf_list
           FROM embeddings e),
         scored AS (SELECT a.ivf_list, ROUND(
             (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
              FROM (SELECT unnest(a.embedding) AS x, unnest(c.cv) AS y) z) /
             (sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(a.embedding) AS t(x)))
              * sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(c.cv) AS t(x)))
              + 1e-12), 6) AS c
           FROM assign a JOIN cents c ON c.ccid = a.ivf_list)
         SELECT ivf_list, COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(c AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6) AS mean_cos
         FROM scored GROUP BY ivf_list ORDER BY ivf_list""",
    "q98_winnow_overlap" ->
      s"""WITH h AS (SELECT doc_id, $bases3Sql AS hs FROM documents),
         w AS (SELECT doc_id, list_distinct(list_transform(range(0, len(hs) - 3),
             i -> list_aggregate(hs[CAST(i + 1 AS INT) : CAST(i + 4 AS INT)], 'min'))) AS fps
           FROM h WHERE len(hs) >= 4),
         p AS (SELECT doc_id, unnest(fps) AS fp FROM w)
         SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS n_shared
         FROM p a JOIN p b ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q99_split_leakage" ->
      s"""WITH all_docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0),
         b AS (SELECT doc_id, substr(md5($mdNorm), 1, 16) AS fp,
             CAST(concat('0x', substr(md5('' || COALESCE(CAST(doc_id AS VARCHAR), '')), 1, 7)) AS BIGINT) % 10000 AS bucket
           FROM all_docs),
         s AS (SELECT doc_id, fp,
             CASE WHEN bucket < 8000 THEN 'train'
                  WHEN bucket < 9000 THEN 'val'
                  ELSE 'test' END AS split
           FROM b),
         tr AS (SELECT fp, MIN(doc_id) AS train_id FROM s
           WHERE split = 'train' GROUP BY fp)
         SELECT s.doc_id, s.split, tr.train_id
         FROM s JOIN tr USING (fp)
         WHERE s.split <> 'train' ORDER BY doc_id, train_id""",
    "q100_dedup_report" ->
      s"""WITH all_docs AS (
           SELECT doc_id, source, text FROM documents
           UNION ALL
           SELECT doc_id + 20000, source, text FROM documents WHERE doc_id % 13 = 0
           UNION ALL
           SELECT doc_id + 30000, 'mirror' AS source, text FROM documents WHERE doc_id % 7 = 0),
         f AS (SELECT source, doc_id, substr(md5($mdNorm), 1, 16) AS fp FROM all_docs),
         pk AS (SELECT source, fp, COUNT(*) AS n FROM f GROUP BY 1, 2),
         fk AS (SELECT fp, COUNT(*) AS nk FROM pk GROUP BY 1)
         SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs,
           COUNT(*) AS n_distinct_fp,
           CAST(SUM(n - 1) AS BIGINT) AS intra_dup_docs,
           COUNT(CASE WHEN fk.nk > 1 THEN 1 END) AS n_cross_fps
         FROM pk JOIN fk USING (fp)
         GROUP BY source ORDER BY source""",
    "q102_mean_pool" ->
      """WITH g AS (SELECT vec_id % 50 AS gid, vec_id, embedding FROM embeddings),
         a AS (SELECT gid, COUNT(*) AS n_chunks,
             list(embedding ORDER BY vec_id) AS vecs
           FROM g GROUP BY gid)
         SELECT gid, n_chunks, CAST(t.d AS INT) AS dim,
           ROUND(list_sum(list_transform(vecs, v -> CAST(v[CAST(t.d + 1 AS INT)] AS DOUBLE)))
             / n_chunks, 6) AS val
         FROM a, LATERAL UNNEST(range(64)) AS t(d)
         ORDER BY gid, dim""",
    "q103_matryoshka" ->
      """WITH m AS (SELECT vec_id, embedding[1:16] AS p,
           sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE))
                 FROM unnest(embedding[1:16]) AS t(x))) AS mag
           FROM embeddings)
         SELECT vec_id, CAST(t.d AS INT) AS dim,
           CAST(p[CAST(t.d + 1 AS INT)] AS DOUBLE) /
             (CASE WHEN mag = 0 THEN 1e-10 ELSE mag END) AS val
         FROM m, LATERAL UNNEST(range(16)) AS t(d)
         ORDER BY vec_id, dim""",
    "q104_matryoshka_search" ->
      s"""$mrlFunnelSql
         SELECT vec_id, ROUND(c, 6) AS cosine FROM rer
         ORDER BY c DESC, vec_id ASC LIMIT 10""",
    "q105_recall_at_k" ->
      s"""$mrlFunnelSql,
         approx AS (SELECT vec_id FROM rer ORDER BY c DESC, vec_id ASC LIMIT 10),
         exact AS (SELECT e.vec_id,
             (SELECT SUM(CAST(z.x AS DOUBLE)*CAST(z.y AS DOUBLE))
              FROM q, LATERAL (SELECT unnest(e.embedding) AS x, unnest(q.qv) AS y) z) /
             (sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(e.embedding) AS t(x)))
              * (SELECT fmag FROM q) + 1e-12) AS c
           FROM embeddings e
           ORDER BY c DESC, e.vec_id ASC LIMIT 10),
         hits AS (SELECT vec_id FROM exact INTERSECT SELECT vec_id FROM approx)
         SELECT COUNT(*) AS n_hits, ROUND(CAST(COUNT(*) AS DOUBLE) / 10, 6) AS recall
         FROM hits""")
}
