package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class IngestCatalogSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The parquet scans of `df`'s physical plan whose root is `dir`. */
  private def layoutScans(df: org.apache.spark.sql.DataFrame, dir: String) =
    df.queryExecution.sparkPlan
      .collect { case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s.scan }
      .collect { case s: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
        if s.fileIndex.rootPaths.exists(_.getName == dir) => s }

  /** Files a parquet scan will open, over all its packed splits. */
  private def plannedFiles(s: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan) =
    s.planInputPartitions().flatMap(_.asInstanceOf[
      org.apache.spark.sql.execution.datasources.FilePartition].files.map(_.filePath)).distinct.length

  test("V7: JSON-lines ingest parses the reference wire format; egress round-trips") {
    val dir = Files.createTempDirectory("graft_ingest").toString
    val lines = Seq(
      """{"post_id":1,"sequence_no":0,"vector":"[0.5,-1.25,3.0]","vector_type":"m1"}""",
      """{"post_id":2,"sequence_no":0,"vector":"not json","vector_type":"m1"}""")
    Files.write(java.nio.file.Paths.get(s"$dir/req.jsonl"),
      lines.mkString("\n").getBytes("UTF-8"))

    val parsed = VectorIngest.readJsonLines(spark, s"$dir/req.jsonl")
    val byId = parsed.collect().map(r => r.getAs[Long]("post_id") -> r).toMap
    assert(byId(1L).getSeq[Float](byId(1L).fieldIndex("vector")) == Seq(0.5f, -1.25f, 3f))
    assert(byId(2L).isNullAt(byId(2L).fieldIndex("vector")),
      "malformed JSON -> null vector, load does not fail")

    val roundtrip = VectorIngest.toJsonVector(parsed.filter($"post_id" === 1L))
      .select("vector_json").head().getString(0)
    assert(roundtrip == "[0.5,-1.25,3.0]")
  }

  test("S11: catalog create / exists / drop over a store path") {
    val dir = Files.createTempDirectory("graft_cat").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$dir/t")
    val cat = new StoreCatalog(spark)
    val name = "graft_cat_test_table"
    try {
      assert(!cat.tableExists(name))
      cat.createTable(name, s"$dir/t")
      assert(cat.tableExists(name))
      assert(spark.table(name).count() == 2, "registered table is queryable via the catalog")
      assert(spark.sql(s"SELECT MAX(id) FROM $name").head().getLong(0) == 2L)
      intercept[IllegalArgumentException](cat.createTable("bad name; drop", s"$dir/t"))
    } finally cat.dropTable(name)
    assert(!cat.tableExists(name))
  }

  test("X189: SQL-registered inverted index serves phrase/vocab ≡ the Scala path, pruned") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "merge sort beats bubble sort"),
      (2L, "sort merge join strategy"),
      (3L, "unrelated text entirely"),
      (4L, "another sort merge document")).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft_cat_inv").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    idx.build(docs, "doc_id", col("text"))
    idx.delete(Seq(4L).toDF("doc_id")) // views must serve the LIVE set
    val cat = new StoreCatalog(spark)
    val views = cat.registerInvertedIndex("catsql", s"$dir/inv")
    assert(views === Seq("catsql_postings", "catsql_doclens", "catsql_vocab"))
    def bucketSql(term: String) =
      s"CAST(pmod(CAST(conv(substring(md5('$term'), 1, 7), 16, 10) AS BIGINT), " +
        s"${idx.bucketCount}) AS INT)"
    val sqlPhrase = spark.sql(
      s"""SELECT a.doc_id, COUNT(*) AS n_matches
          FROM (SELECT doc_id, pos FROM catsql_postings
                WHERE term = 'sort' AND tbucket = ${bucketSql("sort")}) a
          JOIN (SELECT doc_id, pos - 1 AS pos FROM catsql_postings
                WHERE term = 'merge' AND tbucket = ${bucketSql("merge")}) b
            ON a.doc_id = b.doc_id AND a.pos = b.pos
          GROUP BY a.doc_id ORDER BY a.doc_id""")
    val viaScala = TextAnalysis.phraseMatch(
        idx.termPostings(Seq("sort", "merge")), Seq("sort", "merge"))
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(sqlPhrase.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      === viaScala, "SQL phrase over the views must equal the Scala serving path")
    // the bucket predicate constant-folds into the parquet scan's
    // PartitionFilters: each postings scan plans only the one queried
    // bucket's files
    val scans = layoutScans(sqlPhrase, "postings")
    assert(scans.nonEmpty, "postings must read through Spark's parquet scan")
    val allBuckets = new java.io.File(s"$dir/inv/postings").listFiles()
      .count(_.getName.startsWith("tbucket="))
    scans.foreach { s =>
      assert(s.partitionFilters.nonEmpty, s"no PartitionFilters on ${s.description()}")
      val planned = plannedFiles(s)
      assert(planned < allBuckets,
        s"bucket pruning must cut the listing: planned $planned files " +
          s"vs $allBuckets bucket dirs (${s.description()})")
    }
    // vocab view = census-served live vocabulary
    assert(spark.sql("SELECT term, df FROM catsql_vocab ORDER BY term")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
      idx.vocab().orderBy(col("term")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq)
    assert(spark.sql("SELECT COUNT(*) FROM catsql_doclens").head().getLong(0)
      === 3L, "tombstoned doc 4 must be masked in the doclens view")
  }

  test("X200: registered views are LIVE — delete, vacuum and append visible with NO re-registration") {
    val docs = Seq(
      (1L, "merge sort beats bubble sort"),
      (2L, "sort merge join strategy"),
      (3L, "unrelated text entirely"),
      (4L, "another sort merge document")).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft_cat_live").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    idx.build(docs, "doc_id", col("text"))
    val cat = new StoreCatalog(spark)
    cat.registerInvertedIndex("catlive", s"$dir/inv")
    def docIds() = spark.sql("SELECT DISTINCT doc_id FROM catlive_doclens")
      .collect().map(_.getLong(0)).toSet
    def sortDf() = spark.sql("SELECT df FROM catlive_vocab WHERE term = 'sort'")
      .collect().map(_.getLong(0)).toSeq
    assert(docIds() == Set(1L, 2L, 3L, 4L))
    assert(sortDf() == Seq(3L)) // docs 1, 2, 4
    // delete AFTER registration: the very next SQL statement must see it
    idx.delete(Seq(4L).toDF("doc_id"))
    assert(docIds() == Set(1L, 2L, 3L), "tombstone invisible through the view")
    assert(sortDf() == Seq(2L), "vocab must subtract the tombstoned doc live")
    assert(spark.sql(
      "SELECT COUNT(*) FROM catlive_postings WHERE doc_id = 4").head().getLong(0)
      == 0L, "postings of a deleted doc must be masked live")
    // vacuum: physical rewrite, same answers, no resurrection
    idx.vacuum()
    assert(docIds() == Set(1L, 2L, 3L))
    assert(sortDf() == Seq(2L))
    // append: new files visible at the next scan's re-listing
    idx.append(Seq((5L, "sort everything")).toDF("doc_id", "text"),
      "doc_id", col("text"))
    assert(docIds() == Set(1L, 2L, 3L, 5L), "appended files invisible to the view")
    assert(sortDf() == Seq(3L), "census append must reach the vocab view")
    // parity with the Scala serving path after the full mutation walk
    val sqlVocab = spark.sql("SELECT term, df FROM catlive_vocab ORDER BY term")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val scalaVocab = idx.vocab().orderBy(col("term")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(sqlVocab === scalaVocab)
  }

  test("tombstone gate on the SQL surface: views mask via plan-level anti-join, no collected Set; masked=true refuses over-threshold") {
    val docs = Seq(
      (1L, "merge sort beats bubble sort"),
      (2L, "sort merge join strategy"),
      (3L, "unrelated text entirely")).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft_cat_gate").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    idx.build(docs, "doc_id", col("text"))
    idx.delete(Seq(3L).toDF("doc_id"))
    val cat = new StoreCatalog(spark)
    cat.registerInvertedIndex("catgate", s"$dir/inv")
    def live() = spark.sql("SELECT doc_id FROM catgate_doclens")
    val want = live().collect().map(_.getLong(0)).toSet
    assert(want == Set(1L, 2L))
    // plan audit: the registered view masks through a LEFT ANTI join of
    // two live V2 scans — never a per-task collected Set (a Set-masked
    // scan advertises its tombstone count in the scan description)
    val plan = live().queryExecution.optimizedPlan.toString
    assert(plan.contains("LeftAnti"), s"expected an anti-join mask in:\n$plan")
    assert(!"\\d+ tombstones".r.findFirstIn(
        live().queryExecution.executedPlan.toString).isDefined,
      "no V2 scan may carry a collected tombstone set")
    // over-threshold: the VIEW keeps answering identically (anti-join
    // scales); the provider itself never masks, so the removed masked
    // option is refused rather than silently serving tombstoned rows
    spark.conf.set(Tombstones.MaskBroadcastKey, "0")
    try {
      assert(live().collect().map(_.getLong(0)).toSet == want,
        "anti-join view must be unaffected by the gate")
      val e = intercept[IllegalArgumentException](spark.read
        .format(classOf[graft.sources.v2.GraftLayoutSource].getName)
        .option("path", s"$dir/inv").option("table", "doclens")
        .option("masked", "true").load())
      assert(e.getMessage.contains("<name>_postings") && e.getMessage.contains("<name>_doclens"),
        s"the refusal must name the anti-join views: ${e.getMessage}")
    } finally spark.conf.unset(Tombstones.MaskBroadcastKey)
  }

  test("unmasked V2 scans read COLUMNAR (vectorized batches); results ≡ spark.read.parquet") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "merge sort beats bubble sort"),
      (2L, "sort merge join strategy"),
      (3L, "unrelated text entirely")).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft_cat_vec").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    idx.build(docs, "doc_id", col("text"))
    new StoreCatalog(spark).registerInvertedIndex("catvec", s"$dir/inv")
    // wide bulk scan through the registered raw view: columnar route
    val wide = spark.sql(
      "SELECT doc_id, pos, term, tbucket FROM catvec__postings_raw")
    assert(wide.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      s"the raw view scan must be vectorized:\n${wide.queryExecution.executedPlan}")
    assert(layoutScans(wide, "postings").nonEmpty,
      s"the raw view must read through Spark's parquet scan:\n${wide.queryExecution.executedPlan}")
    val viaV2 = wide.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3))).toSet
    val viaParquet = spark.read.parquet(s"$dir/inv/postings")
      .select("doc_id", "pos", "term", "tbucket").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3))).toSet
    assert(viaV2 === viaParquet, "columnar route must decode identically")
    // pruned slice through the same route stays correct
    val b = idx.bucketOf("sort", 8)
    assert(spark.sql(
      s"SELECT COUNT(*) FROM catvec__postings_raw WHERE tbucket = $b AND term = 'sort'")
      .head().getLong(0) ==
      TextAnalysis.positionalPostings(docs, "doc_id", col("text"))
        .filter(col("term") === "sort").count())
  }

  test("registering a fresh, never-built layout serves the canonical empty schema") {
    val dir = Files.createTempDirectory("graft_cat_fresh").toString
    // no build() — the layout root does not even exist yet
    val cat = new StoreCatalog(spark)
    cat.registerInvertedIndex("catfresh", s"$dir/inv")
    assert(spark.sql("SELECT * FROM catfresh_postings").columns.toSeq ==
      Seq("doc_id", "pos", "term", "tbucket"))
    assert(spark.sql("SELECT COUNT(*) FROM catfresh_doclens").head().getLong(0) == 0L)
    assert(spark.sql("SELECT * FROM catfresh_vocab").collect().isEmpty)
    // files appearing later (canonical id type) serve without re-registration
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    idx.build(Seq((1L, "hello world")).toDF("doc_id", "text"), "doc_id", col("text"))
    assert(spark.sql("SELECT COUNT(*) FROM catfresh_doclens").head().getLong(0) == 1L)
  }

  test("a never-built partitioned layout scans empty, partition column included") {
    val dir = Files.createTempDirectory("graft_cat_fresh_scan").toString
    new StoreCatalog(spark).registerIvfIndex("catfreshivf", s"$dir/ivf")
    assert(spark.sql("SELECT * FROM catfreshivf_lists").collect().isEmpty)
    assert(spark.sql(
      "SELECT id FROM catfreshivf_lists WHERE ivf_list IN (0, 1)").collect().isEmpty)
  }

  test("X200: IVF views are LIVE — physical delete and append visible with NO re-registration") {
    graft.functions.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(13)
    val vecs = (1L to 16L).map(i => i -> Array.fill(8)(rnd.nextFloat() * 2f - 1f))
    val embs = vecs.toDF("vec_id", "embedding")
    val dir = Files.createTempDirectory("graft_cat_ivflive").toString
    val idx = new IvfIndex(spark, s"$dir/ivf")
    idx.build(embs, "vec_id", "embedding", vecs.take(2).map(_._2))
    val cat = new StoreCatalog(spark)
    cat.registerIvfIndex("cativl", s"$dir/ivf")
    def ids() = spark.sql("SELECT id FROM cativl_lists")
      .collect().map(_.getLong(0)).toSet
    assert(ids() == (1L to 16L).toSet)
    idx.delete(Seq(3L, 7L).toDF("id"))
    assert(ids() == (1L to 16L).toSet -- Set(3L, 7L),
      "a physical IVF delete must be visible at the next scan")
    idx.append(Seq(99L -> Array.fill(8)(0.5f)).toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    assert(ids() == (1L to 16L).toSet -- Set(3L, 7L) + 99L,
      "an IVF append must be visible at the next scan")
  }

  test("X189: SQL-registered IVF lists serve a probe ≡ the Scala search, vec_cosine kernel") {
    graft.functions.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(11)
    val vecs = (1L to 32L).map(i => i -> Array.fill(8)(rnd.nextFloat() * 2f - 1f))
    val embs = vecs.toDF("vec_id", "embedding")
    val cents = vecs.take(4).map(_._2)
    val dir = Files.createTempDirectory("graft_cat_ivf").toString
    val idx = new IvfIndex(spark, s"$dir/ivf")
    idx.build(embs, "vec_id", "embedding", cents)
    val cat = new StoreCatalog(spark)
    assert(cat.registerIvfIndex("cativf", s"$dir/ivf")
      === Seq("cativf_lists", "cativf_centroids"))
    val qv = Array.fill(8)(0.5f)
    val arr = "array(" + qv.map(f => s"CAST($f AS FLOAT)").mkString(", ") + ")"
    val sqlTop = spark.sql(
      s"""SELECT id, round(vec_cosine(vector, $arr), 6) AS cosine
          FROM cativf_lists WHERE ivf_list IN (0, 1, 2, 3)
          ORDER BY vec_cosine(vector, $arr) DESC, id ASC LIMIT 10""")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaScala = idx.search(qv, k = 10, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(sqlTop === viaScala,
      "the SQL probe with the vec_cosine kernel must equal the Scala search")
    assert(spark.sql("SELECT COUNT(*) FROM cativf_centroids").head().getLong(0) === 4L)
  }
}
