package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Micro-fixtures for the QueryBuilder -> Column compiler (SURVEY.md §5
  * item 2): empty-IN degeneration (Filter.php:87-93), LIKE wrapping
  * (Filter.php:111), AND-of-OR groups (QueryBuilder.php:108-116), the EAV
  * meta path (Filter.php:96-100) including its raw-string (lexicographic)
  * comparison, and the meta-sort MAX-collapse (VectorTable.php:203). */
class QueryCompilerSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // posts: ID, category, views
  private lazy val posts: DataFrame = Seq(
    (1L, "news", 10L),
    (2L, "blog", 250L),
    (3L, "news", 31L),
    (4L, "docs", 5L),
    (5L, "blogroll", 99L)
  ).toDF("ID", "category", "views")

  // postmeta EAV: duplicated keys on purpose (MAX-collapse), numeric strings
  // that order differently lexicographically vs numerically
  private lazy val meta: DataFrame = Seq(
    (1L, "score", "9"),
    (1L, "score", "10"), // duplicate key -> MAX("10","9") = "9" lexicographic
    (2L, "score", "10"),
    (3L, "score", "200"),
    (4L, "color", "red"),
    (5L, "score", "50")
  ).toDF("post_id", "meta_key", "meta_value")

  private def candidates(qb: QueryBuilder): Set[Long] =
    QueryCompiler.candidatePosts(posts, meta, qb).collect().map(_.getLong(0)).toSet

  test("P4: empty IN list degenerates to always-true (Filter.php:87-93)") {
    val qb = QueryBuilder().withGroup(Filter("category", FilterOp.In, FilterValue.L(Nil)))
    assert(candidates(qb) == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("P4: empty NOT IN is vacuously true as well") {
    val qb = QueryBuilder().withGroup(Filter("category", FilterOp.NotIn, FilterValue.L(Nil)))
    assert(candidates(qb) == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("P3: IN / NOT IN membership") {
    val in = QueryBuilder().withGroup(Filter("category", FilterOp.In,
      FilterValue.L(Seq(FilterValue.S("news"), FilterValue.S("docs")))))
    assert(candidates(in) == Set(1L, 3L, 4L))
    val notIn = QueryBuilder().withGroup(Filter("category", FilterOp.NotIn,
      FilterValue.L(Seq(FilterValue.S("news")))))
    assert(candidates(notIn) == Set(2L, 4L, 5L))
  }

  test("P5: LIKE auto-wraps %v% -> substring containment (Filter.php:111)") {
    val qb = QueryBuilder().withGroup(Filter("category", FilterOp.Like, FilterValue.S("blog")))
    assert(candidates(qb) == Set(2L, 5L), "blog AND blogroll both contain 'blog'")
    val not = QueryBuilder().withGroup(Filter("category", FilterOp.NotLike, FilterValue.S("blog")))
    assert(candidates(not) == Set(1L, 3L, 4L))
  }

  test("P8: members OR inside a group, groups AND together (QueryBuilder.php:108-116)") {
    val qb = QueryBuilder()
      .withGroup( // news OR docs
        Filter("category", FilterOp.Eq, FilterValue.S("news")),
        Filter("category", FilterOp.Eq, FilterValue.S("docs")))
      .withGroup( // AND views > 8
        Filter("views", FilterOp.Gt, FilterValue.I(8)))
    assert(candidates(qb) == Set(1L, 3L))
  }

  test("P7: meta predicate = EXISTS over postmeta (Filter.php:96-100)") {
    val qb = QueryBuilder().withGroup(
      Filter("color", FilterOp.Eq, FilterValue.S("red"), meta = true))
    assert(candidates(qb) == Set(4L))
  }

  test("P7: meta compare is RAW STRING - lexicographic, not numeric (Filter.php:97)") {
    // '50' > '200' lexicographically ('5' > '2'); numerically it is not.
    // post 1: '9' > '200'; post 2: '10' < '200'; post 3: '200' == '200'.
    val qb = QueryBuilder().withGroup(
      Filter("score", FilterOp.Gt, FilterValue.S("200"), meta = true))
    val got = candidates(qb)
    assert(got == Set(1L, 5L), s"got $got")
  }

  test("P7+P8: meta predicate mixed into an OR group with a posts predicate") {
    val qb = QueryBuilder().withGroup(
      Filter("color", FilterOp.Eq, FilterValue.S("red"), meta = true),
      Filter("category", FilterOp.Eq, FilterValue.S("blog")))
    assert(candidates(qb) == Set(2L, 4L))
  }

  test("meta-sort MAX-collapse picks MAX(meta_value) per post (VectorTable.php:203)") {
    val out = QueryCompiler.withMetaSortKeys(posts, meta, Seq("score"), postIdCol = "ID", rowKey = "ID")
    val scores = out.select($"ID", $"__meta_sort_score").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(scores(1L) == Some("9"), "MAX('9','10') is lexicographic -> '9'")
    assert(scores(2L) == Some("10"))
    assert(scores(4L) == None, "no score key -> null")
  }

  test("T3/F5: AsDecimal cast makes meta sort numeric; AsText stays lexicographic") {
    val qb = QueryBuilder().withSort(Sort("score", SortDir.Desc, Some(MetaCast.AsDecimal)))
    val frame = QueryCompiler.withMetaSortKeys(posts, meta, Seq("score"), postIdCol = "ID", rowKey = "ID")
    val ordered = frame
      .orderBy(QueryCompiler.sortColumns(qb, frame.apply) :+ $"ID".asc: _*)
      .select($"ID").collect().map(_.getLong(0)).toSeq
    // numeric desc: 200 (post 3), 50 (post 5), 10 (post 2), 9 (post 1), null last (post 4)
    assert(ordered == Seq(3L, 5L, 2L, 1L, 4L))

    val text = QueryBuilder().withSort(Sort("score", SortDir.Desc, Some(MetaCast.AsText)))
    val orderedText = frame
      .orderBy(QueryCompiler.sortColumns(text, frame.apply) :+ $"ID".asc: _*)
      .select($"ID").collect().map(_.getLong(0)).toSeq
    // lexicographic desc: '9' > '50' > '200' > '10'
    assert(orderedText == Seq(1L, 5L, 3L, 2L, 4L))
  }

  test("P6/F4: typed Timestamp literal compares as a real timestamp (Filter.php:122)") {
    import java.sql.Timestamp
    val p = Seq(
      (1L, Timestamp.valueOf("2026-01-01 00:00:00")),
      (2L, Timestamp.valueOf("2026-02-01 12:30:00")),
      (3L, Timestamp.valueOf("2026-03-01 00:00:00"))
    ).toDF("ID", "created")
    val qb = QueryBuilder().withGroup(
      Filter("created", FilterOp.Ge, FilterValue.T(Timestamp.valueOf("2026-02-01 12:30:00"))))
    val got = QueryCompiler.candidatePosts(p, meta.limit(0), qb)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(2L, 3L), "boundary instant included by >=")
  }

  test("F5: AsDate cast on garbage meta yields null (documented MySQL divergence)") {
    val m = Seq((1L, "when", "2026-01-02"), (2L, "when", "not a date"))
      .toDF("post_id", "meta_key", "meta_value")
    val frame = QueryCompiler.withMetaSortKeys(posts, m, Seq("when"), postIdCol = "ID", rowKey = "ID")
    val cast = frame.select($"ID",
      QueryCompiler.castMeta($"__meta_sort_when", MetaCast.AsDate).as("d")).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(cast(1L).isDefined)
    assert(cast(2L).isEmpty)
  }
}
