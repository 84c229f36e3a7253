package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.functions.VectorFunctions._
import graft.operators.{Ann, SearchEngine}
import graft.query.QueryCompiler
import graft.sources.{EmbeddingStore, IvfIndex, StoreCatalog}

/** The product benchmark: one workload, one seed, one closed-loop client.
  *
  * Usage: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> [--out <dir>]`, or `--digest <ops>` to print the SHA-256
  * of the generated corpus and first ops without starting Spark. The last
  * stdout line is the result object; the full result, and with `--trace 1`
  * the spans, go under `<out>/results` and `<out>/traces`. */
object Main {
  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val known = Set("workload", "seed", "seconds", "trace", "out", "digest")
    require(argv.length % 2 == 0 && opts.keySet.subsetOf(known),
      s"usage: --workload <name> --seed <n> --seconds <s> --trace <0|1> [--out <dir>] [--digest <ops>]")
    val w = Workloads(opts.getOrElse("workload", sys.error("--workload is required")))
    val seed = opts.getOrElse("seed", "1").toLong
    opts.get("digest") match {
      case Some(ops) => println(Gen.digest(w, seed, ops.toInt))
      case None =>
        val seconds = opts.getOrElse("seconds", "10").toInt
        require(seconds >= 1, s"--seconds must be >= 1, got $seconds")
        val trace = opts.getOrElse("trace", "0") match {
          case "0" => false
          case "1" => true
          case other => sys.error(s"--trace takes 0 or 1, got $other")
        }
        val out = Paths.get(opts.getOrElse("out", ".bench_build")).toAbsolutePath
        val run = new Run(w, seed, seconds, trace, out)
        try run.go() finally run.close()
    }
  }
}

final class Run(w: Workload, seed: Long, seconds: Int, trace: Boolean, out: Path) {
  private val cpus = Runtime.getRuntime.availableProcessors()
  private val dataRoot = out.resolve("data")
    .resolve(s"${w.name}-s$seed-${ProcessHandle.current().pid()}")

  val spark: SparkSession = graft.util.SessionTuning(SparkSession.builder())
    .master(s"local[$cpus]")
    .appName(s"perfbench-${w.name}")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", out.resolve("tmp").resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", out.resolve("tmp").resolve("warehouse").toString)
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  GraftFunctions.register(spark)
  import spark.implicits._

  private val tracer = new Tracer(trace, spark.sparkContext)

  private var gen: Gen = _
  private var store: EmbeddingStore = _
  private var index: IvfIndex = _
  private var posts: DataFrame = _
  private var meta: DataFrame = _
  private var ref: Ref = _
  private val storeDir = dataRoot.resolve("store")
  private val indexDir = dataRoot.resolve("ivf")

  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val recalls = mutable.ArrayBuffer.empty[Double]
  private val ivfRecalls = mutable.ArrayBuffer.empty[Double]
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0
  private var failed = 0
  private var lastIvfFrame: DataFrame = _

  private val born = System.nanoTime()
  /** Progress line on stderr (the run log), with seconds since start. */
  private def progress(what: String): Unit =
    System.err.println(f"perfbench: ${(System.nanoTime() - born) / 1e9}%7.1f s  $what")

  private def add(m: mutable.Map[String, mutable.ArrayBuffer[Double]], k: String, v: Double): Unit =
    m.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = body; (a, (System.nanoTime() - t0) / 1e6)
  }

  def close(): Unit = {
    spark.stop()
    deleteTree(dataRoot)
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists) finally s.close()
  }

  // ---- set-up ----------------------------------------------------------

  private def rawFrame(chunks: Seq[GenChunk]): DataFrame =
    chunks.map(c => (c.postId, c.seq, c.vector, "bench"))
      .toDF("post_id", "sequence_no", "vector", "vector_type")

  /** Generate the inputs, bulk-load the store, train centroids, build the
    * IVF index. Once, cold: it is the first Spark work of the JVM, as after
    * a deploy. Returns its wall milliseconds. */
  private def setup(): Double = {
    tracer.newOp()
    val (_, ms) = timed {
      gen = tracer.span("setup.generate")(new Gen(w, seed))
      val c = gen.corpus
      tracer.span("setup.tables") {
        c.posts.map(p => (p.id, p.postType, p.postStatus, p.postDate, p.postAuthor,
            p.postModified, p.commentCount))
          .toDF("ID", "post_type", "post_status", "post_date", "post_author",
            "post_modified", "comment_count")
          .write.parquet(dataRoot.resolve("posts").toString)
        c.posts.flatMap(p => p.meta.map { case (k, v) => (p.id, k, v) })
          .toDF("post_id", "meta_key", "meta_value")
          .write.parquet(dataRoot.resolve("postmeta").toString)
      }
      store = new EmbeddingStore(spark, storeDir.toString, w.storeBuckets)
      tracer.span("sources.bulk_load")(store.bulkLoad(rawFrame(c.chunks)))
      val cents = tracer.span("operators.train_centroids")(
        Ann.trainCentroids(store.read(), "vector", w.ivfLists, seed = seed, maxIter = 5))
      index = new IvfIndex(spark, indexDir.toString, w.ivfAssignBuckets)
      tracer.span("sources.ivf_build")(index.build(store.read(), "id", "vector", cents))
      posts = spark.read.parquet(dataRoot.resolve("posts").toString)
      meta = spark.read.parquet(dataRoot.resolve("postmeta").toString)
    }
    progress(f"setup took ${ms / 1000}%.1f s")
    ref = new Ref(gen.corpus, w.dims)
    val vectors = gen.corpus.chunks.map(c => (c.postId, c.seq) -> c.vector).toMap
    store.read().select("id", "post_id", "sequence_no").collect().foreach { r =>
      val k = (r.getLong(1), r.getInt(2))
      ref.put(r.getLong(0), k._1, k._2, vectors(k))
    }
    ref.setCentroids(index.centroids())
    new StoreCatalog(spark).registerIvfIndex("bench", indexDir.toString)
    ms
  }

  // ---- operations --------------------------------------------------------

  /** The flagship path as a plugin request runs it: read the store, compose
    * the plan, plan it, collect. */
  private def flagship(plan: DataFrame => DataFrame): Array[Row] = {
    val e = tracer.span("sources.store_read")(store.read())
    val df = tracer.span("operators.search.compose")(plan(e))
    tracer.span("operators.search.plan")(df.queryExecution.executedPlan)
    tracer.span("operators.search.exec")(df.collect())
  }

  private def floatArray(q: Array[Float]): String =
    q.map(v => s"CAST('$v' AS FLOAT)").mkString("array(", ", ", ")")

  /** The IVF probe as a SQL client runs it over the registered views: read
    * the centroids, pick the nprobe lists, score them with `vec_cosine`. */
  private def sqlIvf(q: Array[Float]): Array[Row] = {
    val cents = tracer.span("sources.sql_centroids")(
      spark.sql("SELECT cid, centroid FROM bench_centroids").collect())
    val probes = cents.map(r => (r.getInt(0), Ref.dot(r.getSeq[Float](1).toArray, q)))
      .sortBy { case (i, d) => (-d, i) }.take(w.nprobe).map(_._1)
    val qa = floatArray(q)
    tracer.span("sources.sql_lists")(spark.sql(
      s"""SELECT id, round(vec_cosine(vector, $qa), 6) AS cosine FROM bench_lists
         |WHERE ivf_list IN (${probes.mkString(", ")})
         |ORDER BY vec_cosine(vector, $qa) DESC, id ASC LIMIT ${w.n}""".stripMargin).collect())
  }

  private def listFiles(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> Files.size(p)).toMap
      finally s.close()
    }

  /** `EmbedPipeline.startWithIndex`'s fold for one claim batch: upsert, read
    * back the batch's ids, delete them from the index, append them. */
  private def ingest(b: Op.IngestBatch): Unit = {
    val raw = rawFrame(b.rows).persist()
    try {
      val before = if (trace) listFiles(storeDir) else Map.empty[String, Long]
      tracer.span("sources.upsert")(store.upsert(raw))
      if (trace) {
        val after = listFiles(storeDir)
        val fresh = after.filter { case (p, sz) => before.get(p).forall(_ != sz) && p.contains("part-") }
        add(layer, "sources.upsert.files_written", fresh.size)
        add(layer, "sources.upsert.buckets_touched",
          fresh.keys.map(p => Paths.get(p).getParent).toSet.size)
        add(layer, "sources.upsert.bytes_written_per_user_byte",
          fresh.values.sum.toDouble / (b.rows.size.toLong * w.dims * 4))
      }
      val keys = raw.select(col("post_id"), col("sequence_no")).distinct()
      val batchRows = store.read().join(keys, Seq("post_id", "sequence_no"), "left_semi")
        .select(col("id"), col("vector")).persist()
      try {
        tracer.span("sources.ivf_delete")(index.delete(batchRows.select(col("id"))))
        tracer.span("sources.ivf_append")(index.append(batchRows, "id", "vector"))
      } finally { batchRows.unpersist(); () }
    } finally { raw.unpersist(); () }
  }

  private def deletePost(ids: Seq[Long]): Unit = {
    tracer.span("sources.delete")(store.deleteMany(ids))
    tracer.span("sources.ivf_delete")(index.delete(ids.toDF("id")))
  }

  private def execute(op: Op, deleteIds: Seq[Long]): Array[Row] = op match {
    case Op.Search(q) => flagship(SearchEngine.search(_, posts, meta, q, w.n))
    case Op.SearchFiltered(q, b, _) => flagship(SearchEngine.search(_, posts, meta, q, w.n, b))
    case Op.SearchPosts(q) => flagship(SearchEngine.searchPosts(_, posts, meta, q, w.n))
    case Op.IvfSearch(q) => tracer.span("sources.ivf_search") {
      val df = index.search(q, w.n, w.nprobe); lastIvfFrame = df; df.collect()
    }
    case Op.SqlIvfSearch(q) => sqlIvf(q)
    case b: Op.IngestBatch => ingest(b); Array.empty
    case Op.DeletePost(_) => deletePost(deleteIds); Array.empty
  }

  // ---- the reference query ---------------------------------------------
  // On a shared machine, host speed drifts by a fifth over minutes. Each
  // timed read is followed by the same small plain-Spark query (list a
  // partitioned parquet table, top-10 sort, collect) in a session of its
  // own, so no engine code or engine setting is on its path. Latencies are
  // reported relative to its median in the same run, which cancels the drift.
  private lazy val refSession = spark.newSession()
  private val refDir = dataRoot.resolve("ref").toString

  private def writeRefTable(): Unit =
    refSession.range(w.chunks).selectExpr("id", "id % 2 AS b", "CAST(id * 7 % 1000 AS DOUBLE) AS x")
      .write.partitionBy("b").parquet(refDir)

  private def refQuery(): Double = timed(
    refSession.read.parquet(refDir).orderBy(col("x").desc, col("id")).limit(10).collect())._2

  // ---- checks ------------------------------------------------------------

  private def within(a: Double, b: Double, tol: Double): Boolean = math.abs(a - b) <= tol

  private def hits(rows: Array[Row]): Seq[(Long, Long, Int, Double)] =
    rows.toSeq.map(r => (r.getAs[Long]("id"), r.getAs[Long]("post_id"),
      r.getAs[Int]("hamming_distance"), r.getAs[Double]("cosine_similarity")))

  private def sameHits(got: Seq[(Long, Long, Int, Double)],
      exp: Seq[(Long, Long, Int, Double)]): Seq[String] =
    if (got.size != exp.size) Seq(s"${got.size} hits, expected ${exp.size}")
    else got.zip(exp).zipWithIndex.collect {
      case ((g, e), i) if g._1 != e._1 || g._2 != e._2 || g._3 != e._3 ||
          !within(g._4, e._4, 1e-12) => s"hit $i is $g, expected $e"
    }

  private def sameIvf(rows: Array[Row], exp: Seq[(Long, Double)]): Seq[String] = {
    val got = rows.toSeq.map(r => (r.getAs[Long]("id"), r.getAs[Double]("cosine")))
    if (got.size != exp.size) Seq(s"${got.size} hits, expected ${exp.size}")
    else got.zip(exp).collect {
      case (g, e) if g._1 != e._1 || !within(g._2, e._2, 1.5e-6) => s"hit $g, expected $e"
    }
  }

  private def noDeleted(ids: Seq[Long]): Seq[String] =
    ids.filter(ref.deleted).map(id => s"deleted id $id came back")

  private def recall(got: Seq[Long], exact: Seq[Long]): Double =
    got.count(exact.toSet).toDouble / exact.size

  /** Engine search for a vector; used by the write checks. */
  private def searchIds(v: Array[Float]): Seq[Long] =
    SearchEngine.search(store.read(), posts, meta, v, w.n).collect().toSeq.map(_.getAs[Long]("id"))

  private def countCheck(): Seq[String] = {
    val c = store.count()
    if (c != ref.size) Seq(s"store count $c, expected ${ref.size}") else Nil
  }

  private def check(op: Op, rows: Array[Row], deleteIds: Seq[Long], opNo: Int): Seq[String] = op match {
    case Op.Search(q) =>
      val got = hits(rows)
      recalls += recall(got.map(_._1), ref.exact(q, w.n))
      sameHits(got, ref.search(q, w.n)) ++ noDeleted(got.map(_._1))
    case Op.SearchFiltered(q, b, _) =>
      val got = hits(rows)
      val postsOf = got.map(h => (gen.corpus.postById(h._2), h._1))
      val unfit = postsOf.collect { case (p, id) if !Ref.passes(p, b) => s"hit $id fails its filter groups" }
      val order = if (Ref.inOrder(postsOf, b)) Nil else Seq("hits are not in sort order")
      unfit ++ order ++ sameHits(got, ref.filtered(q, w.n, b)) ++ noDeleted(got.map(_._1))
    case Op.SearchPosts(q) =>
      val got = rows.toSeq.map(r => (r.getAs[Long]("post_id"), r.getAs[Long]("best_chunk_id")))
      val exp = ref.searchPosts(q, w.n)
      (if (got != exp) Seq(s"posts $got, expected $exp") else Nil) ++ noDeleted(got.map(_._2))
    case Op.IvfSearch(q) =>
      val exp = ref.ivf(q, w.n, w.nprobe)
      ivfRecalls += recall(rows.toSeq.map(_.getAs[Long]("id")), ref.exact(q, w.n))
      sameIvf(rows, exp)
    case Op.SqlIvfSearch(q) =>
      // held to the same reference answer as ivf_search, so it is the same
      // probe and counts toward the same recall
      ivfRecalls += recall(rows.toSeq.map(_.getAs[Long]("id")), ref.exact(q, w.n))
      sameIvf(rows, ref.ivf(q, w.n, w.nprobe))
    case b: Op.IngestBatch =>
      val back = store.read()
        .join(b.rows.map(c => (c.postId, c.seq)).toDF("post_id", "sequence_no"),
          Seq("post_id", "sequence_no"), "left_semi")
        .select("id", "post_id", "sequence_no", "vector").collect()
        .map(r => (r.getLong(1), r.getInt(2)) -> (r.getLong(0), r.getSeq[Float](3).toArray)).toMap
      val errs = b.rows.flatMap { c =>
        back.get((c.postId, c.seq)) match {
          case None => Seq(s"chunk (${c.postId}, ${c.seq}) missing after upsert")
          case Some((id, v)) =>
            ref.put(id, c.postId, c.seq, c.vector)
            if (!java.util.Arrays.equals(v, c.vector)) Seq(s"chunk $id holds another vector") else Nil
        }
      }
      val probe = b.rows(opNo % b.rows.size)
      val own = searchIds(probe.vector)
      val found = ref.idOf(probe.postId, probe.seq).filter(own.contains) match {
        case None => Seq(s"chunk (${probe.postId}, ${probe.seq}) not returned for its own vector")
        case Some(_) => Nil
      }
      errs ++ countCheck() ++ found ++ noDeleted(own)
    case Op.DeletePost(_) =>
      // later reads are compared with a reference that lacks these ids
      deleteIds.foreach(ref.remove)
      countCheck()
  }

  // ---- trace-only layer probes ------------------------------------------

  private def filesRead(df: DataFrame): Long = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case other => other +: other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).collect { case s: FileSourceScanExec =>
      s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
  }

  private def median3(body: => Any): Double = {
    val ts = (0 until 3).map(_ => timed(body)._2).sorted
    ts(1)
  }

  private def afterOp(op: Op): Unit = if (trace) op match {
    case Op.SearchFiltered(_, b, _) =>
      val (ids, ms) = timed(tracer.span("query.candidate_posts")(
        QueryCompiler.candidatePosts(posts, meta, b).collect()))
      val set = ids.map(_.getLong(0)).toSet
      add(layer, "query.candidate_posts.ms", ms)
      add(layer, "query.candidate_posts.rows", set.size)
      add(layer, "query.candidates_per_result",
        ref.ids.count(id => set(ref.row(id).postId)).toDouble / w.n)
    case Op.IvfSearch(_) => add(layer, "sources.ivf_search.files_read", filesRead(lastIvfFrame))
    case _ =>
  }

  /** Kernel cost per row: a projection of the kernel over the cached store
    * rows joined with `reps` query vectors, forced by an aggregate. The
    * figure includes the join and the aggregate around the kernel. */
  private def probes(): Unit = {
    tracer.newOp()
    val base = store.read().select(col("binary_code"), col("vector")).persist()
    val rows = base.count()
    val reps = 20
    val qs = Iterator.continually(gen.corpus.centres.toSeq).flatten.take(reps).toSeq
      .map(q => (q, Ref.pack(q))).toDF("q", "q_bits")
    val big = base.crossJoin(broadcast(qs))
    // max, not sum: a sum of packed sign words overflows
    def perRow(name: String, e: Column): Unit =
      add(layer, s"functions.$name.ns_per_row",
        tracer.span(s"functions.$name")(median3(big.agg(max(e)).collect())) * 1e6 / (rows * reps))
    perRow("hamming_dist", hammingDist(col("binary_code"), col("q_bits")))
    perRow("vec_dot", vecDot(col("vector"), col("q")))
    perRow("pack_sign_bits", element_at(packSignBits(col("q")), 1))
    perRow("vec_magnitude", vecMagnitude(col("q")))
    // vecNormalize is a higher-order transform: too slow to repeat per query
    val normalize = base.select(element_at(vecNormalize(col("vector")), 1).as("x"))
    add(layer, "functions.vec_normalize.ns_per_row",
      tracer.span("functions.vec_normalize")(median3(normalize.agg(max(col("x"))).collect())) * 1e6 / rows)
    base.unpersist()
    val batch = rawFrame(gen.corpus.chunks.take(100))
    add(layer, "functions.derive.ms", tracer.span("functions.derive")(median3(
      store.withDerived(batch).agg(sum(col("magnitude")), sum(element_at(col("normalized_vector"), 1)),
        max(element_at(col("binary_code"), 1))).collect())))
    add(layer, "sources.store_scan.ms", tracer.span("sources.store_scan")(median3(
      store.read().agg(sum(size(col("vector")))).collect())))
    val lists = ref.probeSet(gen.corpus.centres(0), w.nprobe).mkString(", ")
    add(layer, "sources.sql_scan.ms", tracer.span("sources.sql_scan")(median3(
      spark.sql(s"SELECT sum(size(vector)) FROM bench_lists WHERE ivf_list IN ($lists)").collect())))
    add(layer, "sources.files_total",
      (listFiles(storeDir) ++ listFiles(indexDir).map { case (k, v) => ("ivf/" + k, v) })
        .keys.count(_.split('/').last.startsWith("part-")))
  }

  // ---- the run -----------------------------------------------------------

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum

  /** Run one op as the client sees it: timed, checked, and (traced) probed. */
  private def runOp(op: Op, opNo: Int): Double = {
    val ids = op match { case Op.DeletePost(p) => ref.idsOfPost(p); case _ => Nil }
    tracer.newOp()
    val (rows, ms) = timed(tracer.span("op." + op.kind)(execute(op, ids)))
    progress(f"${op.kind} $ms%.0f ms")
    record(op, check(op, rows, ids, opNo))
    afterOp(op)
    ms
  }

  /** One claim batch folded into store and index, the index maintenance
    * pass the maintained pipeline runs after a fold, then one post delete.
    * Returns the busy milliseconds. */
  private def writePhase(count: Boolean): Double =
    gen.writeOps().zipWithIndex.map { case (op, i) =>
      val ms = runOp(op, i)
      if (count) add(samples, op.kind, ms)
      val maintainMs = op match {
        case _: Op.IngestBatch =>
          val (_, mt) = timed(tracer.span("sources.ivf_maintain")(index.maintain()))
          add(layer, "sources.ivf_maintain.ms", mt)
          mt
        case _ => 0.0
      }
      ms + maintainMs
    }.sum

  def go(): Unit = {
    val setupMs = setup()
    writeRefTable()
    (0 until 5).foreach(_ => refQuery())

    // warm up for half the timed read time: the first reads of a fresh JVM
    // run far slower than later ones
    var warmMs = 0.0
    while (warmMs < seconds * 500.0 || !gen.warmAtBlockEnd) {
      val op = gen.warmRead()
      tracer.newOp()
      val (rows, ms) = timed(tracer.span("warmup." + op.kind)(execute(op, Nil)))
      warmMs += ms
      record(op, check(op, rows, Nil, 0))
    }
    progress("warmup done")

    val gc0 = gcMs()
    var busyMs = if (w.writes) writePhase(count = true) else 0.0
    var readMs = 0.0
    var opNo = samples.valuesIterator.map(_.size).sum
    // whole blocks only, so every run's reads hold the same mix
    while (readMs < seconds * 1000.0 || !gen.readsAtBlockEnd) {
      val op = gen.nextRead()
      opNo += 1
      val ms = runOp(op, opNo)
      add(samples, op.kind, ms)
      add(samples, "ref_query", refQuery())
      readMs += ms
    }
    busyMs += readMs
    val gcTimed = gcMs() - gc0
    progress("timed phase done")

    val raw = mutable.LinkedHashMap.empty[String, (Double, String)]
    Op.readKinds.foreach(k => raw(s"${k}_p50_ms") = (Stats.median(samples(k)), "ms"))
    Seq("ingest_batch", "delete", "ref_query").filter(samples.contains)
      .foreach(k => raw(s"${k}_p50_ms") = (Stats.median(samples(k)), "ms"))
    raw("ops_per_s") = (opNo / (busyMs / 1000), "1/s")
    val refMs = raw("ref_query_p50_ms")._1

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    metrics("setup_s") = (setupMs / 1000, "s")
    Op.readKinds.foreach(k => metrics(s"${k}_p50_rel") = (raw(s"${k}_p50_ms")._1 / refMs, "ratio"))
    metrics("throughput_rel") = (opNo / busyMs * refMs, "ratio")
    metrics("recall_at_10") = (recalls.sum / recalls.size, "ratio")
    metrics("ivf_recall_at_10") = (ivfRecalls.sum / ivfRecalls.size, "ratio")
    metrics("store_bytes_per_user_byte") =
      ((listFiles(storeDir).values.sum + listFiles(indexDir).values.sum).toDouble / ref.rawBytes, "ratio")
    metrics("peak_rss_mb") = (Stats.peakRssMb(), "MB")

    if (trace) {
      // a read-only workload still reports the write layers when traced
      if (!w.writes) writePhase(count = false)
      probes()
      progress("probes done")
    }

    val env = Stats.environment(spark, cpus, gcMs(), gcTimed)
    println("env " + Json(env))
    println("raw " + Json(raw.map { case (k, (v, u)) => k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }))
    val spans = if (trace) {
      tracer.drain()
      layerMetrics(gcTimed)
      tracer.write(out.resolve("traces").resolve(s"${w.name}-seed$seed.json"))
      printLayerTable()
      tracer.all.size
    } else 0

    val reported =
      if (trace) layer.map { case (k, v) => k -> (Stats.median(v), Units.of(k)) }
      else metrics
    val result = mutable.LinkedHashMap[String, Any](
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> reported.map { case (k, (v, u)) => k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) })
    val detail = mutable.LinkedHashMap[String, Any](
      "workload" -> w.name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "params" -> w.productElementNames.zip(w.productIterator).toSeq,
      "env" -> env,
      "end_to_end" -> metrics.map { case (k, (v, u)) => k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) },
      "raw" -> raw.map { case (k, (v, u)) => k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) },
      "per_layer" -> layer.map { case (k, v) => k -> Stats.median(v) },
      "samples_ms" -> samples,
      "search_samples" -> samples("search").size,
      "ops" -> opNo, "busy_ms" -> busyMs, "spans" -> spans,
      "failures" -> failures, "result" -> result)
    val file = out.resolve("results").resolve(s"${w.name}-seed$seed-trace${if (trace) 1 else 0}.json")
    Files.createDirectories(file.getParent)
    Files.write(file, Json(detail).getBytes("UTF-8"))
    failures.take(20).foreach(f => System.err.println("check failed: " + f))
    println(Json(result))
  }

  private def record(op: Op, errs: Seq[String]): Unit = {
    attempted += 1
    if (errs.nonEmpty) { failed += 1; failures ++= errs.take(3).map(e => s"${op.kind}: $e") }
  }

  /** Per-op Spark counters and per-call layer times, from spans and jobs. */
  private def layerMetrics(gcTimed: Long): Unit = {
    val spans = tracer.all
    val roots = spans.filter(s => s.parent < 0 && s.name.startsWith("op."))
    val opName = roots.map(s => s.op -> s.name.stripPrefix("op.")).toMap
    roots.foreach { r =>
      val k = r.name.stripPrefix("op.")
      val js = tracer.jobsUnder(r)
      add(layer, s"spark.$k.jobs", js.size)
      add(layer, s"spark.$k.stages", js.map(_.stages.size).sum)
      add(layer, s"spark.$k.tasks", js.map(_.tasks).sum)
      add(layer, s"spark.$k.task_cpu_ms", js.map(_.cpuNs).sum / 1e6)
      add(layer, s"spark.$k.driver_gap_ms", tracer.driverGapMs(r))
      if (k == "search") add(layer, "spark.search.input_bytes", js.map(_.inputBytes).sum)
      if (k == "ingest_batch") {
        add(layer, "spark.ingest_batch.shuffle_write_bytes", js.map(_.shuffleWriteBytes).sum)
        add(layer, "spark.ingest_batch.output_bytes", js.map(_.outputBytes).sum)
      }
      if (k == "delete") add(layer, "spark.delete.output_bytes", js.map(_.outputBytes).sum)
    }
    def byName(name: String, metric: String, only: Option[String] = None): Unit =
      spans.filter(s => s.name == name && only.forall(o => opName.get(s.op).contains(o)))
        .foreach(s => add(layer, metric, s.ms))
    byName("operators.search.compose", "operators.search.compose_ms", Some("search"))
    byName("operators.search.plan", "operators.search.plan_ms", Some("search"))
    byName("operators.search.exec", "operators.search.exec_ms", Some("search"))
    byName("sources.store_read", "sources.store_read.ms", Some("search"))
    byName("sources.upsert", "sources.upsert.ms")
    byName("sources.ivf_delete", "sources.ivf_delete.ms")
    byName("sources.ivf_append", "sources.ivf_append.ms")
    byName("sources.delete", "sources.delete.ms")
    byName("sources.bulk_load", "sources.bulk_load.ms")
    byName("operators.train_centroids", "operators.train_centroids.ms")
    byName("sources.ivf_build", "sources.ivf_build.ms")
    spans.filter(_.name == "sources.upsert").foreach(s => add(layer, "sources.upsert.jobs", tracer.jobsUnder(s).size))
    spans.filter(_.name == "sources.delete").foreach(s => add(layer, "sources.delete.jobs", tracer.jobsUnder(s).size))
    add(layer, "jvm.gc_ms", gcTimed)
    samples("ref_query").foreach(add(layer, "host.ref_query.ms", _))
  }

  /** Per span name: calls, total, self time; then self time per layer. */
  private def printLayerTable(): Unit = {
    val spans = tracer.all
    val rows = spans.groupBy(_.name).toSeq.map { case (n, ss) =>
      (n, ss.size, ss.map(_.ms).sum, ss.map(tracer.selfMs).sum)
    }.sortBy(-_._4)
    println(f"${"span"}%-32s ${"calls"}%6s ${"total_ms"}%11s ${"self_ms"}%11s")
    rows.foreach { case (n, c, t, s) => println(f"$n%-32s $c%6d $t%11.1f $s%11.1f") }
    println(f"${"layer"}%-32s ${"self_ms"}%11s")
    rows.groupBy(_._1.takeWhile(_ != '.')).toSeq.map { case (l, rs) => (l, rs.map(_._4).sum) }
      .sortBy(-_._2).foreach { case (l, s) => println(f"$l%-32s $s%11.1f") }
  }
}

object Units {
  def of(metric: String): String = metric.split('.').last match {
    case m if m.endsWith("_ms") || m == "ms" => "ms"
    case "ns_per_row" => "ns"
    case m if m.endsWith("_bytes") => "bytes"
    case "bytes_written_per_user_byte" | "candidates_per_result" => "ratio"
    case _ => "count"
  }
}

object Stats {
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toSeq.sorted
    require(s.nonEmpty, "median of no samples")
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(sys.error("no VmHWM in /proc/self/status"))

  private def meminfoGb(): Map[String, Double] =
    scala.util.Try(scala.io.Source.fromFile("/proc/meminfo").getLines().toSeq.flatMap { l =>
      l.split("[:\\s]+") match {
        case Array(k, v, "kB") => Some(k -> v.toDouble / (1024 * 1024))
        case _ => None
      }
    }.toMap).getOrElse(Map.empty)

  /** What the host looked like during the run: separates host drift from
    * code effects when two result sets disagree. */
  def environment(spark: SparkSession, cpus: Int, gcTotal: Long, gcTimed: Long): Seq[(String, Any)] = {
    val mem = meminfoGb()
    val xmx = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .find(_.startsWith("-Xmx")).getOrElse(s"(default) ${Runtime.getRuntime.maxMemory() >> 20}m")
    def gb(k: String): Any = mem.get(k).map(v => math.round(v * 10) / 10.0).orNull
    Seq("nproc" -> cpus, "master" -> s"local[$cpus]", "xmx" -> xmx,
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
      "mem_total_gb" -> gb("MemTotal"), "mem_free_gb" -> gb("MemFree"),
      "mem_available_gb" -> gb("MemAvailable"), "page_cache_gb" -> gb("Cached"),
      "buffers_gb" -> gb("Buffers"), "gc_ms_total" -> gcTotal, "gc_ms_timed_loop" -> gcTimed,
      "loadavg" -> scala.util.Try(scala.io.Source.fromFile("/proc/loadavg").mkString.trim).getOrElse(""))
  }
}

/** Minimal JSON writer for the result and trace files. */
object Json {
  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case ps: Seq[_] if ps.nonEmpty && ps.forall(_.isInstanceOf[(_, _)]) =>
      ps.map { case (k, x) => quote(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }
}
