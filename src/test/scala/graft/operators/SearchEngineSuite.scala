package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.VectorFunctions._
import graft.model.SearchConfig
import graft.query._

/** Golden end-to-end tests for the 4-stage search pipeline
  * (SURVEY.md §5 item 3): expected results computed independently in
  * plain Scala, exact id sequences asserted, including the stage-4 sort
  * branch and the deterministic stage-1 cap. */
class SearchEngineSuite extends AnyFunSuite {
  import SearchEngineSuite.Reference
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val vecs: Seq[(Long, Array[Float])] = Seq(
    1L -> Array(1f, 1f, 0f, 0f),
    2L -> Array(0.9f, 1.1f, 0.1f, -0.1f),
    3L -> Array(-1f, -1f, 1f, 1f),
    4L -> Array(0f, 0f, 1f, 1f),
    5L -> Array(1f, 0f, 0f, 0f),
    6L -> Array(0.5f, 0.5f, 0.5f, 0.5f),
    7L -> Array(-0.2f, 1f, -1f, 0.3f),
    8L -> Array(2f, 2f, 0.1f, 0f))

  private val query = Array(1f, 1f, 0f, 0f)

  private lazy val embs: DataFrame = vecs.toDF("id", "vector")
    .withColumn("post_id", col("id"))
    .withColumn("vector", col("vector").cast(ArrayType(FloatType)))
    .withColumn("binary_code", packSignBits(col("vector")))
    .withColumn("magnitude", vecMagnitude(col("vector")))

  // posts: even ids are 'en'; views descend with id except post 2 on top
  private lazy val posts: DataFrame = Seq(
    (1L, "en", 10L), (2L, "en", 999L), (3L, "fr", 80L), (4L, "en", 70L),
    (5L, "fr", 60L), (6L, "en", 50L), (7L, "en", 40L), (8L, "de", 30L)
  ).toDF("ID", "lang", "views")

  private lazy val meta: DataFrame = Seq(
    (1L, "rank", "5"), (2L, "rank", "40"), (4L, "rank", "9"),
    (6L, "rank", "100"), (7L, "rank", "7"), (8L, "rank", "1")
  ).toDF("post_id", "meta_key", "meta_value")

  // independent reference implementation of the staged pipeline
  private def expectedIds(candidates: Seq[(Long, Array[Float])], n: Int): Seq[Long] = {
    def ham(a: Array[Float], b: Array[Float]) =
      a.zip(b).count { case (x, y) => (x > 0f) != (y > 0f) }
    def cos(a: Array[Float], b: Array[Float]) = {
      val dot = a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x.toDouble * y.toDouble }
      val ma = math.sqrt(a.foldLeft(0.0)((s, x) => s + x.toDouble * x))
      val mb = math.sqrt(b.foldLeft(0.0)((s, x) => s + x.toDouble * x))
      dot / (ma * mb + 1e-12)
    }
    val stage2 = candidates.sortBy { case (id, v) => (ham(v, query), id) }.take(10 * n)
    val stage3 = stage2.sortBy { case (id, v) => (-cos(v, query), id) }.take(5 * n)
    stage3.take(n).map(_._1)
  }

  private def run(n: Int, qb: QueryBuilder = QueryBuilder(),
      cfg: SearchConfig = SearchConfig()): Seq[Long] =
    SearchEngine.search(embs, posts, meta, query, n, qb, cfg)
      .select("id").collect().map(_.getLong(0)).toSeq

  test("unfiltered search returns top-n by cosine after hamming prefilter, id tiebreak") {
    assert(run(2) == expectedIds(vecs, 2))
    assert(run(3) == expectedIds(vecs, 3))
  }

  test("stage-1 relational filter restricts candidates (J2 semi join)") {
    val qb = QueryBuilder().withGroup(Filter("lang", FilterOp.Eq, FilterValue.S("en")))
    val enIds = Set(1L, 2L, 4L, 6L, 7L)
    val got = run(3, qb)
    assert(got == expectedIds(vecs.filter(v => enIds(v._1)), 3))
    assert(got.toSet.subsetOf(enIds))
  }

  test("stage-4 sort branch orders the cosine survivors by the posts attribute") {
    val qb = QueryBuilder()
      .withGroup(Filter("lang", FilterOp.Eq, FilterValue.S("en")))
      .withSort(Sort("views", SortDir.Desc))
    val n = 2
    // survivors: stage 3 keeps 5n=10 best cosine among en candidates (= all 5)
    val enIds = Set(1L, 2L, 4L, 6L, 7L)
    val viewsOf = Map(1L -> 10L, 2L -> 999L, 4L -> 70L, 6L -> 50L, 7L -> 40L)
    val expected = enIds.toSeq.sortBy(id => (-viewsOf(id), id)).take(n)
    assert(run(n, qb) == expected)
  }

  test("stage-4 meta sort with AsDecimal cast sorts numerically (Sort.php:44)") {
    val qb = QueryBuilder()
      .withGroup(Filter("lang", FilterOp.Eq, FilterValue.S("en")))
      .withSort(Sort("rank", SortDir.Desc, Some(MetaCast.AsDecimal)))
    // en posts ranks: 1->5, 2->40, 4->9, 6->100, 7->7; numeric desc
    assert(run(3, qb) == Seq(6L, 2L, 4L))
  }

  test("deterministic stage-1 cap keeps the LOWEST ids (divergence from reference documented)") {
    val got = run(2, cfg = SearchConfig(stage1Limit = Some(3L)))
    assert(got == expectedIds(vecs.filter(_._1 <= 3L), 2))
  }

  test("output columns carry both distances, ordered by the output contract") {
    val rows = SearchEngine.search(embs, posts, meta, query, 3).collect()
    val cosines = rows.map(_.getAs[Double]("cosine_similarity")).toSeq
    assert(cosines == cosines.sorted.reverse, "cosine desc when no sorts")
    rows.foreach { r =>
      assert(r.getAs[Int]("hamming_distance") >= 0)
      assert(r.getAs[Double]("cosine_similarity") <= 1.0 + 1e-9)
    }
  }

  test("searchPosts: chunks collapse to posts, best chunk wins, each post once") {
    // pair chunks onto posts: ids (1,2)->post 1, (3,4)->2, (5,6)->3, (7,8)->4
    val byPost = embs.withColumn("post_id", ((col("id") + 1) / 2).cast("long"))
    val got = SearchEngine.searchPosts(byPost, posts, meta, query, nPosts = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // independent model: cosine per chunk, best chunk per post, top posts
    def cosL(v: Array[Float]) = {
      val dot = v.zip(query).foldLeft(0.0) { case (s, (x, y)) => s + x.toDouble * y.toDouble }
      val mv = math.sqrt(v.foldLeft(0.0)((s, x) => s + x.toDouble * x))
      val mq = math.sqrt(query.foldLeft(0.0)((s, x) => s + x.toDouble * x))
      dot / (mv * mq + 1e-12)
    }
    val expect = vecs.map { case (id, v) => ((id + 1) / 2, id, cosL(v)) }
      .groupBy(_._1).view.mapValues(_.minBy(x => (-x._3, x._2))).values.toSeq
      .sortBy(x => (-x._3, x._1)).take(3).map(x => (x._1, x._2))
    assert(got.toSeq == expect, s"got ${got.toSeq} want $expect")
    assert(got.map(_._1).distinct.length == got.length, "a post appeared twice")
  }

  test("searchPosts rejects attribute sorts — post relevance is the output order") {
    val qb = QueryBuilder().withSort(graft.query.Sort("views", SortDir.Desc, None))
    val e = intercept[IllegalArgumentException] {
      SearchEngine.searchPosts(embs, posts, meta, query, nPosts = 2, builder = qb)
    }
    assert(e.getMessage.contains("sorts"))
  }

  test("searchSqlText: the pure-SQL recipe is value-identical to search() on the fixtures") {
    graft.functions.GraftFunctions.register(spark)
    embs.createOrReplaceTempView("graft_search_sql_embs")
    try {
      for (n <- Seq(1, 3, 5)) {
        val sql = spark.sql(SearchEngine.searchSqlText(query, n, "graft_search_sql_embs"))
          .collect().map(r => (r.getLong(0), r.getLong(1),
            r.getAs[Int]("hamming_distance"), r.getAs[Double]("cosine_similarity"))).toSeq
        val scala = SearchEngine.search(embs, posts, meta, query, n)
          .collect().map(r => (r.getLong(0), r.getLong(1),
            r.getAs[Int]("hamming_distance"), r.getAs[Double]("cosine_similarity"))).toSeq
        assert(sql == scala, s"SQL recipe diverged from the Column pipeline at n=$n")
        assert(sql.map(_._1) == expectedIds(vecs, n), s"both diverged from the model at n=$n")
      }
    } finally spark.catalog.dropTempView("graft_search_sql_embs")
  }

  test("facetCounts: per-key top-m with (count desc, value asc) ties; hits-only; bad args") {
    val meta = Seq(
      (1L, "lang", "en"), (2L, "lang", "en"), (3L, "lang", "de"),
      (4L, "lang", "fr"), (5L, "lang", "de"),
      (1L, "source", "web"), (2L, "source", "wiki"), (3L, "source", "web"),
      (1L, "year", "2021")).toDF("post_id", "meta_key", "meta_value")
    val hits = Seq(1L, 2L, 3L, 3L).toDF("doc_id") // dup hit ids collapse
    val out = SearchEngine.facetCounts(hits, "doc_id", meta,
        Seq("lang", "source"), topM = 2)
      .orderBy(col("meta_key"), col("rank")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))
    // hits {1,2,3}: lang en×2 de×1; source web×2 wiki×1
    assert(out.toSeq === Seq(
      ("lang", "en", 2L, 1), ("lang", "de", 1L, 2),
      ("source", "web", 2L, 1), ("source", "wiki", 1L, 2)))
    // posts 4,5 are not hits; 'year' was not requested
    assert(!out.exists(_._1 == "year"))
    intercept[IllegalArgumentException](
      SearchEngine.facetCounts(hits, "doc_id", meta, Nil, 2))
    intercept[IllegalArgumentException](
      SearchEngine.facetCounts(hits, "doc_id", meta, Seq("a", "a"), 2))
    intercept[IllegalArgumentException](
      SearchEngine.facetCounts(hits, "doc_id", meta, Seq("lang"), 0))
  }

  test("dedupHits: one survivor per content fingerprint, best rank wins, re-cut to k") {
    val docs = Seq(
      (1L, "sort merge x"),
      (2L, "  Sort   MERGE x "), // normalizes to doc 1's fingerprint
      (3L, "sort only"),
      (4L, "merge other")).toDF("doc_id", "text")
    val hits = Seq((2L, 5.0), (1L, 5.0), (3L, 2.0), (4L, 1.0))
      .toDF("doc_id", "score")
    val out = SearchEngine.dedupHits(hits, docs, "doc_id", col("text"), k = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // docs 1 and 2 share a fingerprint at equal score: doc 1 wins the
    // tie; doc 3 fills the k=2 cut, doc 4 falls off
    assert(out === Seq((1L, 5.0), (3L, 2.0)))
    intercept[IllegalArgumentException](
      SearchEngine.dedupHits(hits, docs, "doc_id", col("text"), 0))
  }

  test("fieldValueFactor: stored-signal multiply, unrounded order, modifier set (X259)") {
    import spark.implicits._
    val hits = Seq((1L, 2.0), (2L, 1.0), (3L, 3.0)).toDF("doc_id", "score")
    val docs = Seq((1L, 100L), (2L, 10000L), (3L, 1L)).toDF("doc_id", "n")
    val got = SearchEngine.fieldValueFactor(hits, docs, "doc_id",
        col("n"), factor = 1.0, modifier = "log1p", k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def r6(v: Double) = BigDecimal(v).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    // 2·ln(101)=9.23, 1·ln(10001)=9.21, 3·ln(2)=2.08 — the boost
    // reorders doc 2 above doc 3
    assert(got === Seq(
      (1L, r6(2.0 * math.log(101.0))),
      (2L, r6(1.0 * math.log(10001.0))),
      (3L, r6(3.0 * math.log(2.0)))))
    // sqrt and none modifiers; rejections
    assert(SearchEngine.fieldValueFactor(hits, docs, "doc_id", col("n"),
      1.0, "sqrt", 1).head().getLong(0) === 2L)
    assert(SearchEngine.fieldValueFactor(hits, docs, "doc_id", col("n"),
      1.0, "none", 1).head().getLong(0) === 2L)
    intercept[IllegalArgumentException](SearchEngine.fieldValueFactor(
      hits, docs, "doc_id", col("n"), 1.0, "log2p", 1))
    intercept[IllegalArgumentException](SearchEngine.fieldValueFactor(
      hits, docs, "doc_id", col("n"), 0.0, "none", 1))
  }

  test("randomScore: seeded md5 jitter — deterministic, uniform range, seed-sensitive (X260)") {
    import spark.implicits._
    val docs = (1L to 200L).toDF("doc_id")
    val a = SearchEngine.randomScore(docs, "doc_id", "s1")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = SearchEngine.randomScore(docs, "doc_id", "s1")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a === b, "same seed must reproduce bit-identical scores")
    assert(a.values.forall(v => v >= 0.0 && v < 1.0))
    val c = SearchEngine.randomScore(docs, "doc_id", "s2")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a.count { case (k, v) => c(k) != v } > 150,
      "a different seed must reshuffle nearly everything")
    // crude uniformity: the mean of 200 uniforms sits well inside (0.3, 0.7)
    val mean = a.values.sum / a.size
    assert(mean > 0.3 && mean < 0.7, s"suspicious mean $mean")
  }

  test("topHitsPerBucket: per-bucket top-n with doc_count; WindowGroupLimit, no global window (X247)") {
    import spark.implicits._
    val hits = Seq(
      (1L, 9.0), (2L, 8.0), (3L, 7.0), (4L, 6.0), // lang A: 4 hits
      (5L, 5.0), (6L, 4.0),                       // lang B: 2 hits
      (7L, 3.0)                                   // lang C: singleton
    ).toDF("doc_id", "score")
    val docs = Seq(
      (1L, "A"), (2L, "A"), (3L, "A"), (4L, "A"), (5L, "B"), (6L, "B"),
      (7L, "C"), (8L, "C") // doc 8 not in the hit set -> not counted
    ).toDF("doc_id", "lang")
    val out = SearchEngine.topHitsPerBucket(hits, docs, "doc_id",
        col("lang"), n = 2)
      .orderBy(col("field_value"), col("rank")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(out === Seq(
      ("A", 4L, 1, 1L, 9.0), ("A", 4L, 2, 2L, 8.0),
      ("B", 2L, 1, 5L, 5.0), ("B", 2L, 2, 6L, 4.0),
      ("C", 1L, 1, 7L, 3.0)),
      "per-bucket cut with the bucket's full doc_count")
    // score tie inside a bucket: doc_id asc breaks it deterministically
    val tied = SearchEngine.topHitsPerBucket(
        Seq((2L, 5.0), (1L, 5.0)).toDF("doc_id", "score"),
        Seq((1L, "A"), (2L, "A")).toDF("doc_id", "lang"),
        "doc_id", col("lang"), n = 1).collect().head
    assert(tied.getLong(3) == 1L)
    intercept[IllegalArgumentException](SearchEngine.topHitsPerBucket(
      hits, docs, "doc_id", col("lang"), 0))
    // plan audit: the rank window rewrites to a per-partition group
    // limit (the n-heap runs BEFORE the exchange) and nothing in the
    // plan is a global single-partition window
    val plan = SearchEngine.topHitsPerBucket(hits, docs, "doc_id",
      col("lang"), n = 2).queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"the per-bucket cut must compile to WindowGroupLimit:\n$plan")
  }

  test("collapseByField: one representative per group, ordered inner hits, k cuts groups") {
    import spark.implicits._
    val hits = Seq(
      (1L, 9.0), (2L, 8.0), (3L, 7.0),  // source A: rep 1, inner [2, 3]
      (4L, 6.0), (5L, 5.0), (6L, 4.0),  // source B: rep 4, inner [5, 6]
      (7L, 3.0)                          // source C: singleton
    ).toDF("doc_id", "score")
    val docs = Seq(
      (1L, "A"), (2L, "A"), (3L, "A"), (4L, "B"), (5L, "B"), (6L, "B"),
      (7L, "C"), (8L, "C") // doc 8 not in the hit list -> invisible
    ).toDF("doc_id", "src")
    val got = SearchEngine.collapseByField(hits, docs, "doc_id", col("src"),
        k = 10, innerHits = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getLong(4), r.getString(5))).toSeq
    assert(got === Seq(
      (1, "A", 1L, 3L, "2,3"),
      (2, "B", 4L, 3L, "5,6"),
      (3, "C", 7L, 1L, "")))
    // innerHits truncates the tail; k cuts whole GROUPS
    val cut = SearchEngine.collapseByField(hits, docs, "doc_id", col("src"),
        k = 2, innerHits = 1)
      .collect().map(r => (r.getString(1), r.getString(5))).toSeq
    assert(cut === Seq(("A", "2"), ("B", "5")))
    // score ties inside a group: doc_id asc picks the representative
    val tied = Seq((1L, 5.0), (2L, 5.0)).toDF("doc_id", "score")
    val rep = SearchEngine.collapseByField(tied,
        Seq((1L, "A"), (2L, "A")).toDF("doc_id", "src"),
        "doc_id", col("src"), 5).collect().head
    assert(rep.getLong(2) == 1L && rep.getString(5) == "2")
    intercept[IllegalArgumentException](SearchEngine.collapseByField(
      hits, docs, "doc_id", col("src"), 0))
    intercept[IllegalArgumentException](SearchEngine.collapseByField(
      hits, docs, "doc_id", col("src"), 5, -1))
    // plan audit: the k-cut is a bounded heap, not a global-window sort
    // over every group (the rank window runs over the already-cut rows)
    val plan = SearchEngine.collapseByField(hits, docs, "doc_id",
      col("src"), k = 2).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"the group cut must compile to a top-k heap:\n$plan")
  }

  test("rescoreWindow: window recombines, below-window untouched, weak rescore sinks (X242)") {
    import spark.implicits._
    val hits = Seq((1L, 4.0), (2L, 3.0), (3L, 2.0), (4L, 1.0))
      .toDF("doc_id", "score")
    val res = Seq((2L, 10.0), (4L, 99.0)).toDF("doc_id", "rscore")
    def got(r: org.apache.spark.sql.DataFrame) =
      SearchEngine.rescoreWindow(hits, r, windowSize = 2, k = 10)
        .collect().map(x => (x.getLong(0), x.getBoolean(2), x.getDouble(3))).toSeq
    // window = docs 1, 2; doc 4's rescore is OUTSIDE the window and
    // must not apply; doc 1 has no rescore -> keeps wq*score
    assert(got(res) === Seq((2L, true, 13.0), (1L, true, 4.0),
      (3L, false, 2.0), (4L, false, 1.0)))
    // a negative rescore sinks a window doc below unrescored ones
    val neg = Seq((2L, -5.0)).toDF("doc_id", "rscore")
    assert(got(neg) === Seq((1L, true, 4.0), (3L, false, 2.0),
      (4L, false, 1.0), (2L, true, -2.0)))
    intercept[IllegalArgumentException](
      SearchEngine.rescoreWindow(hits, res, 0, 5))
    intercept[IllegalArgumentException](
      SearchEngine.rescoreWindow(hits, res, 2, 0))
  }

  test("disMax: best leg wins, tieBreaker credits corroboration, tie=0 is pure max (X230)") {
    import spark.implicits._
    // doc 1: one strong match (5.0); doc 2: two weak matches (3.0, 3.0)
    val l1 = Seq((1L, 5.0), (2L, 3.0)).toDF("doc_id", "score")
    val l2 = Seq((2L, 3.0), (3L, 1.0)).toDF("doc_id", "score")
    def got(tie: Double) = SearchEngine.disMax(Seq(l1, l2), k = 10, tie)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getDouble(3))).toSeq
    // pure max: strong single match beats weak corroboration
    assert(got(0.0) === Seq((1L, 5.0, 1L, 5.0), (2L, 3.0, 2L, 3.0),
      (3L, 1.0, 1L, 1.0)))
    // tie=1.0 degenerates to the sum: corroboration wins
    assert(got(1.0).head === ((2L, 3.0, 2L, 6.0)))
    // tie=0.5: doc2 = 3 + 0.5*3 = 4.5 still below doc1's 5.0
    assert(got(0.5).map(_._1) === Seq(1L, 2L, 3L))
    assert(got(0.5)(1)._4 === 4.5)
    intercept[IllegalArgumentException](SearchEngine.disMax(Nil, 5))
    intercept[IllegalArgumentException](SearchEngine.disMax(Seq(l1), 0))
    intercept[IllegalArgumentException](SearchEngine.disMax(Seq(l1), 5, 1.5))
  }

  test("boostingQuery: negative matches demote, never exclude; order flips; contract (X231)") {
    import spark.implicits._
    val hits = Seq((1L, 2.0), (2L, 1.5), (3L, 1.0)).toDF("doc_id", "score")
    val neg = Seq(1L, 1L, 9L).toDF("doc_id") // dup ids + a non-hit id
    val got = SearchEngine.boostingQuery(hits, neg, k = 10, negativeBoost = 0.5)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSeq
    // doc 1 demoted to 1.0, ties doc 3 — doc_id asc puts 1 first
    assert(got === Seq((2L, 1.5, false), (1L, 1.0, true), (3L, 1.0, false)))
    // boost 0 floors the demoted doc but keeps it visible
    val zero = SearchEngine.boostingQuery(hits, neg, 10, 0.0)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(zero === Seq((2L, 1.5), (3L, 1.0), (1L, 0.0)))
    intercept[IllegalArgumentException](
      SearchEngine.boostingQuery(hits, neg, 0, 0.5))
    intercept[IllegalArgumentException](
      SearchEngine.boostingQuery(hits, neg, 5, 1.0))
  }

  test("fieldValueBoost: modifiers and boost modes, re-rank flips, negative factor errors") {
    import spark.implicits._
    val hits = Seq((1L, 2.0), (2L, 1.5), (3L, 1.0)).toDF("doc_id", "score")
    val docs = Seq((1L, 0L), (2L, 100L), (3L, 1000L), (4L, 5L))
      .toDF("doc_id", "n")
    // multiply + log1p: doc 1's ln(1+0)=0 zeroes it to the bottom; doc
    // 2: 1.5·ln(101)=6.923; doc 3: 1.0·ln(1001)=6.909 — the boost flips
    // the relevance order
    val got = SearchEngine.fieldValueBoost(hits, docs, "doc_id", col("n"), k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(got.map(_._1) === Seq(2L, 3L, 1L))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.toMap === Map(
      1L -> 0.0,
      2L -> r6(1.5 * math.log(1.0 + 100.0)),
      3L -> r6(1.0 * math.log(1.0 + 1000.0))))
    // sum + none + weight: score + 0.5·n
    val sum = SearchEngine.fieldValueBoost(hits, docs, "doc_id", col("n"),
        k = 1, weight = 0.5, modifier = "none", boostMode = "sum")
      .collect().head
    assert(sum.getLong(0) == 3L && sum.getDouble(2) == 501.0)
    // sqrt modifier
    val sq = SearchEngine.fieldValueBoost(hits, docs, "doc_id", col("n"),
        k = 1, modifier = "sqrt").collect().head
    assert(sq.getLong(0) == 3L && sq.getDouble(2) == r6(math.sqrt(1000.0)))
    // a negative factor is a DATA error, not a sort key
    val neg = Seq((1L, -1L)).toDF("doc_id", "n")
    val e = intercept[Exception](SearchEngine.fieldValueBoost(
      hits, neg, "doc_id", col("n"), 3).collect())
    assert(e.getMessage != null)
    intercept[IllegalArgumentException](SearchEngine.fieldValueBoost(
      hits, docs, "doc_id", col("n"), 3, modifier = "exp"))
    intercept[IllegalArgumentException](SearchEngine.fieldValueBoost(
      hits, docs, "doc_id", col("n"), 3, boostMode = "avg"))
    intercept[IllegalArgumentException](SearchEngine.fieldValueBoost(
      hits, docs, "doc_id", col("n"), 0))
  }

  // ---- equivalence with the flag-and-aggregate formulation ---------------

  private val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
  private def day(d: Int) = new Timestamp(t0.getTime + d * 86400000L)
  private val langs = Seq("en", "de", "fr")
  private val ratings = Seq("7", "10", "3.5", "abc", "2026-02-03")

  /** Seeded corpus over parquet: 90 chunks on posts 1..45, where posts
    * 41..45 are missing from posts; posts 46..50 have no chunks; IDs 5 and
    * 12 appear twice and one posts row has a NULL ID; postmeta repeats keys
    * per post, has NULL post_ids and a NULL value, and rows for post 60. */
  private lazy val eq: (DataFrame, DataFrame, DataFrame) = {
    val r = new scala.util.Random(7)
    val dir = java.nio.file.Files.createTempDirectory("graft_search_eq").toString
    (1L to 90L).map { id =>
      (id, 1L + r.nextInt(45), Array.fill(8)((math.round(r.nextGaussian() * 10) / 10.0).toFloat))
    }.toDF("id", "post_id", "vector")
      .withColumn("binary_code", packSignBits(col("vector")))
      .withColumn("magnitude", vecMagnitude(col("vector")))
      .write.parquet(s"$dir/emb")
    val types = Seq("post", "page", "attachment")
    val statuses = Seq("publish", "draft", "private")
    def post(id: Option[Long]) = (id, types(r.nextInt(3)), statuses(r.nextInt(3)),
      if (r.nextInt(6) == 0) None else Some(r.nextInt(200).toLong),
      r.nextInt(9) - 4.0, day(r.nextInt(30)))
    val postRows = ((1L to 40L) ++ (46L to 50L) ++ Seq(5L, 12L)).map(i => post(Some(i))) :+ post(None)
    postRows.toDF("ID", "post_type", "post_status", "comment_count", "score", "created")
      .write.parquet(s"$dir/posts")
    val metaRows = ((1L to 50L) :+ 60L).flatMap { p =>
      Seq.fill(1 + r.nextInt(2))((Option(p), "lang", Option(langs(r.nextInt(3))))) ++
        Seq.fill(r.nextInt(3))((Option(p), "rating", Option(ratings(r.nextInt(5))))) ++
        (if (r.nextInt(4) == 0) Seq((Option(p), "featured", Option("yes"))) else Nil)
    } ++ Seq((None, "lang", Some("en")), (None, "rating", Some("99")), (Some(3L), "rating", None))
    metaRows.toDF("post_id", "meta_key", "meta_value").write.parquet(s"$dir/meta")
    (spark.read.parquet(s"$dir/emb"), spark.read.parquet(s"$dir/posts"),
      spark.read.parquet(s"$dir/meta"))
  }

  private val ops = Seq(FilterOp.Eq, FilterOp.Ne, FilterOp.Gt, FilterOp.Lt, FilterOp.Ge,
    FilterOp.Le, FilterOp.In, FilterOp.NotIn, FilterOp.Like, FilterOp.NotLike)

  /** One random AND-of-OR builder over the [[eq]] corpus: meta and posts
    * predicates mixed within groups, every operator, literals typed to
    * their column (Like/NotLike on strings only), optional sorts. */
  private def randomBuilder(r: scala.util.Random, sorted: Boolean): QueryBuilder = {
    def pick[A](xs: Seq[A]): A = xs(r.nextInt(xs.size))
    def list(v: => FilterValue) = FilterValue.L(Seq.fill(r.nextInt(3))(v))
    def filter(): Filter = {
      val op = pick(ops)
      def typed(v: => FilterValue) =
        if (op == FilterOp.In || op == FilterOp.NotIn) list(v) else v
      if (r.nextInt(5) < 2) {
        val (key, values) = pick(Seq("lang" -> langs, "rating" -> ratings, "featured" -> Seq("yes")))
        Filter(key, op, typed(FilterValue.S(pick(values))), meta = true)
      } else {
        val textOnly = op == FilterOp.Like || op == FilterOp.NotLike
        pick(if (textOnly) Seq(0, 1) else Seq(0, 1, 2, 3, 4)) match {
          case 0 => Filter("post_type", op, typed(FilterValue.S(pick(Seq("post", "page", "age")))))
          case 1 => Filter("post_status", op, typed(FilterValue.S(pick(Seq("publish", "draft")))))
          case 2 => Filter("comment_count", op, typed(FilterValue.I(r.nextInt(200).toLong)))
          case 3 => Filter("score", op, typed(FilterValue.F(r.nextInt(9) - 4.0)))
          case _ => Filter("created", op, typed(FilterValue.T(day(r.nextInt(30)))))
        }
      }
    }
    def sort(): graft.query.Sort = {
      val dir = if (r.nextBoolean()) SortDir.Asc else SortDir.Desc
      pick(Seq(
        () => graft.query.Sort("rating", dir, Some(pick(Seq(MetaCast.AsDecimal, MetaCast.AsText, MetaCast.AsDate)))),
        () => graft.query.Sort("lang", dir, Some(MetaCast.AsText)),
        () => graft.query.Sort("featured", dir, Some(MetaCast.AsText)),
        () => graft.query.Sort(pick(Seq("comment_count", "score", "post_type")), dir)))()
    }
    QueryBuilder(
      Seq.fill(1 + r.nextInt(3))(Seq.fill(1 + r.nextInt(3))(filter())),
      if (sorted) Seq.fill(1 + r.nextInt(2))(sort()) else Nil)
  }

  private def bits(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq.map {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case v => v
  })

  test("filtered search equals the flag-and-aggregate formulation on seeded random builders") {
    val (emb, posts, meta) = eq
    val noMeta = meta.limit(0)
    val r = new scala.util.Random(20261017)
    val q = Array.fill(8)(r.nextGaussian().toFloat)
    val builders = (0 until 24).map(i => randomBuilder(r, sorted = i % 4 < 2))
    val filters = builders.flatMap(_.groups.flatten)
    assert(filters.map(_.op).toSet == ops.toSet, "every operator is exercised")
    assert(filters.map(_.value.getClass).toSet.size == 5, "every literal type is exercised")
    assert(filters.exists(_.meta) && filters.exists(!_.meta))
    builders.zipWithIndex.foreach { case (b, i) =>
      val pm = if (i % 5 == 4) noMeta else meta
      val cfg = if (i % 2 == 1) SearchConfig(stage1Limit = Some(40L)) else SearchConfig()
      val n = 2 + i % 3
      val clue = s"builder $i: $b, cfg $cfg, empty postmeta ${i % 5 == 4}"
      assert(QueryCompiler.candidatePosts(posts, pm, b).collect().toSet ==
        Reference.candidatePosts(posts, pm, b).collect().toSet, clue)
      assert(bits(SearchEngine.search(emb, posts, pm, q, n, b, cfg)) ==
        bits(Reference.search(emb, posts, pm, q, n, b, cfg)), clue)
      if (i % 3 == 0) {
        val unsorted = b.copy(sorts = Nil)
        assert(bits(SearchEngine.searchPosts(emb, posts, pm, q, n, unsorted, cfg)) ==
          bits(Reference.searchPosts(Reference.search(emb, posts, pm, q, 5 * n, unsorted, cfg), n)),
          s"searchPosts, $clue")
      }
    }
  }

  test("meta sort keys carry every column bit for bit and MAX-collapse per key on the cut frame") {
    val cut = Seq((1L, 10L, 3, -0.0), (2L, 11L, 1, 0.5), (3L, 99L, 2, Double.NaN))
      .toDF("id", "post_id", "hamming_distance", "cosine_similarity")
    val pm = Seq((10L, "k", "9"), (10L, "k", "10"), (10L, "j", "a"), (11L, "j", "b"))
      .toDF("post_id", "meta_key", "meta_value")
    val out = QueryCompiler.withMetaSortKeys(cut, pm, Seq("k", "j"))
    assert(out.columns.toSeq == cut.columns.toSeq ++ Seq("__meta_sort_k", "__meta_sort_j"))
    val got = out.collect().map(r => r.getLong(0) -> r).toMap
    assert(java.lang.Double.doubleToRawLongBits(got(1L).getDouble(3)) ==
      java.lang.Double.doubleToRawLongBits(-0.0), "-0.0 passes through")
    assert(got(3L).getDouble(3).isNaN)
    assert((got(1L).getString(4), got(1L).getString(5)) == (("9", "a")), "string MAX per key")
    assert((got(2L).getString(4), got(2L).getString(5)) == ((null, "b")))
    assert((got(3L).getString(4), got(3L).getString(5)) == ((null, null)), "no meta rows")
  }
}

object SearchEngineSuite {
  /** The search as formulated before stage 1 moved into the hamming scan
    * and stage 4 onto the cut frame: candidate posts through one left-joined
    * flag column per meta predicate and a distinct, semi-joined to the
    * store; meta sort keys aggregated per post over all of postmeta, then
    * joined to the top-5n frame after the posts attributes; the rerank
    * refetches the survivors' vectors by a join, a second store scan.
    * The one-scan search must answer the same, bit for bit. */
  private[graft] object Reference {
    def candidatePosts(posts: DataFrame, postmeta: DataFrame, qb: QueryBuilder): DataFrame = {
      val flagOf = qb.metaFilters.zipWithIndex.toMap
      val flagged = flagOf.foldLeft(posts) { case (acc, (f, i)) =>
        val matching = postmeta
          .filter(col("meta_key") === f.field && QueryCompiler.predicate(f, _ => col("meta_value")))
          .select(col("post_id").as("__mf_post_id")).distinct()
          .withColumn(s"__flag_$i", lit(true))
        acc.join(matching, acc("ID") === col("__mf_post_id"), "left").drop("__mf_post_id")
          .withColumn(s"__flag_$i", coalesce(col(s"__flag_$i"), lit(false)))
      }
      val groups = qb.groups.filter(_.nonEmpty).map(_.map { f =>
        if (f.meta) col(s"__flag_${flagOf(f)}") else QueryCompiler.predicate(f, flagged.apply)
      }.reduce(_ || _))
      flagged.filter(groups.foldLeft(lit(true))(_ && _))
        .select(col("ID").as("post_id")).distinct()
    }

    def search(emb: DataFrame, posts: DataFrame, postmeta: DataFrame, q: Array[Float],
        n: Int, qb: QueryBuilder, cfg: SearchConfig): DataFrame = {
      val candidates =
        if (qb.hasFilters)
          emb.join(broadcast(candidatePosts(posts, postmeta, qb)), Seq("post_id"), "left_semi")
        else emb
      val staged = cfg.stage1Limit.fold(candidates)(cap =>
        candidates.orderBy(col("id").asc).limit(cap.toInt))
      val hamming = staged
        .withColumn("hamming_distance",
          hammingDist(col("binary_code"), lit(SearchEngine.packQuery(q))))
        .orderBy(col("hamming_distance").asc, col("id").asc)
        .limit(cfg.stage2Factor * n)
        .select(col("id"), col("post_id"), col("hamming_distance"))
      val cosine = emb.select(col("id").as("__rid"), col("vector"), col("magnitude"))
        .join(broadcast(hamming), col("__rid") === hamming("id"))
        .withColumn("cosine_similarity",
          vecDot(col("vector"), lit(q).cast(ArrayType(FloatType))) /
            (col("magnitude") * lit(SearchEngine.magnitudeOf(q)) + lit(CosineEps)))
        .orderBy(col("cosine_similarity").desc, col("id").asc)
        .limit(cfg.stage3Factor * n)
        .select(col("id"), col("post_id"), col("hamming_distance"), col("cosine_similarity"))
      val sorted =
        if (qb.hasSorts) {
          val joined = cosine.join(broadcast(posts.withColumnRenamed("ID", "__post_ID")),
            cosine("post_id") === col("__post_ID"), "left").drop("__post_ID")
          val withMeta = qb.metaSortKeys.foldLeft(joined) { (acc, k) =>
            val agg = postmeta.filter(col("meta_key") === k)
              .groupBy(col("post_id").as("__ms_post_id"))
              .agg(max(col("meta_value")).as(s"__meta_sort_$k"))
            acc.join(agg, acc("post_id") === col("__ms_post_id"), "left").drop("__ms_post_id")
          }
          withMeta.orderBy(QueryCompiler.sortColumns(qb, withMeta.apply) :+ col("id").asc: _*)
            .select(col("id"), col("post_id"), col("hamming_distance"), col("cosine_similarity"))
        } else cosine.orderBy(col("cosine_similarity").desc, col("id").asc)
      sorted.limit(n)
    }

    def searchPosts(pool: DataFrame, nPosts: Int): DataFrame =
      pool.withColumn("__rk", row_number().over(Window.partitionBy(col("post_id"))
          .orderBy(col("cosine_similarity").desc, col("id").asc)))
        .filter(col("__rk") === 1)
        .select(col("post_id"), col("id").as("best_chunk_id"),
          col("hamming_distance"), col("cosine_similarity"))
        .orderBy(col("cosine_similarity").desc, col("post_id").asc)
        .limit(nPosts)
  }
}
