package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Compiles the [[QueryBuilder]] AST into a Spark plan.
  *
  * The reference concatenates SQL strings and lets MySQL plan them
  * (`src/query/QueryBuilder.php:108-129`); here every predicate becomes a
  * `Column` so Catalyst gets a fully declarative plan — predicate pushdown,
  * column pruning and join planning are automatic.
  *
  * EAV meta predicates (`src/query/parts/Filter.php:96-100`:
  * `pm.meta_key = f AND pm.meta_value <op> v` over the joined fan-out, then
  * `DISTINCT p.ID` — i.e. EXISTS semantics) are compiled to IN subqueries
  * over postmeta, filtered by `meta_key` and value at the scan. Catalyst
  * rewrites each into a semi join, or into an existence join when it sits
  * under an OR with posts predicates — so meta and posts predicates mix
  * freely in one AND-of-OR condition, and neither join can duplicate rows.
  */
object QueryCompiler {

  /** Literal -> Column (Filter.php:106-131 typed literal handling). */
  def literal(v: FilterValue): Column = v match {
    case FilterValue.I(x)  => lit(x)
    case FilterValue.F(x)  => lit(x)
    case FilterValue.S(x)  => lit(x)
    case FilterValue.T(x)  => lit(x)
    case FilterValue.L(xs) => lit(xs.map(raw).toArray)
  }

  private def raw(v: FilterValue): Any = v match {
    case FilterValue.I(x)  => x
    case FilterValue.F(x)  => x
    case FilterValue.S(x)  => x
    case FilterValue.T(x)  => x
    case FilterValue.L(xs) => xs.map(raw)
  }

  /** One non-meta predicate over a resolvable column.
    * LIKE wraps '%v%' like the reference (Filter.php:111) => contains.
    * Empty IN-lists degenerate to literal true (Filter.php:87-93) — for
    * NOT IN too, matching the reference's (vacuously-true) behavior. */
  def predicate(f: Filter, resolve: String => Column): Column = {
    val c = resolve(f.field)
    f.op match {
      case FilterOp.Eq => c === literal(f.value)
      case FilterOp.Ne => c =!= literal(f.value)
      case FilterOp.Gt => c > literal(f.value)
      case FilterOp.Lt => c < literal(f.value)
      case FilterOp.Ge => c >= literal(f.value)
      case FilterOp.Le => c <= literal(f.value)
      case FilterOp.In =>
        f.value match {
          case FilterValue.L(xs) if xs.isEmpty => lit(true) // Filter.php:87-93
          case FilterValue.L(xs)               => c.isin(xs.map(raw): _*)
          case other                           => c === literal(other)
        }
      case FilterOp.NotIn =>
        f.value match {
          case FilterValue.L(xs) if xs.isEmpty => lit(true) // vacuous NOT IN ()
          case FilterValue.L(xs)               => !c.isin(xs.map(raw): _*)
          case other                           => c =!= literal(other)
        }
      case FilterOp.Like =>
        f.value match { case FilterValue.S(s) => c.contains(s); case v => c.contains(literal(v)) }
      case FilterOp.NotLike =>
        f.value match { case FilterValue.S(s) => !c.contains(s); case v => !c.contains(literal(v)) }
    }
  }

  /** One meta predicate as an IN subquery over postmeta: `postId IN (SELECT
    * post_id FROM postmeta WHERE meta_key = f AND meta_value <op> v AND
    * post_id IS NOT NULL)`. NB the reference compares `meta_value` as a raw
    * string (Filter.php:97) — lexicographic for numbers — replicated here
    * on purpose; see SURVEY.md §7 "EAV semantics". The NULL-id guard keeps
    * the IN two-valued: orphan meta rows can never turn a miss into NULL. */
  private def metaPredicate(f: Filter, postmeta: DataFrame, postId: Column): Column =
    postId.isin(postmeta
      .filter(col("meta_key") === f.field && predicate(f, _ => col("meta_value")) &&
        col("post_id").isNotNull)
      .select(col("post_id")))

  /** Full AND-of-OR condition (QueryBuilder.php:108-116). Posts predicates
    * resolve through `resolve`; each distinct meta predicate is compiled
    * once, as an IN subquery keyed on `postId`. */
  def condition(qb: QueryBuilder, postmeta: DataFrame, postId: Column,
      resolve: String => Column): Column = {
    val meta = qb.metaFilters.map(f => f -> metaPredicate(f, postmeta, postId)).toMap
    val groups = qb.groups.filter(_.nonEmpty).map { g =>
      g.map(f => if (f.meta) meta(f) else predicate(f, resolve)).reduce(_ || _)
    }
    if (groups.isEmpty) lit(true) else groups.reduce(_ && _)
  }

  /** Candidate post ids satisfying the builder's filters — the Spark form of
    * the reference's stage-1 subquery (`src/VectorTable.php:104-114`).
    * Returns a single-column `post_id` frame, deduplicated. */
  def candidatePosts(posts: DataFrame, postmeta: DataFrame, qb: QueryBuilder): DataFrame =
    posts.filter(condition(qb, postmeta, posts("ID"), posts.apply))
      .select(col("ID").as("post_id"))
      .distinct()

  /** Meta sort-key casts (Sort.php:42-49). MySQL's bare `CAST(x AS DECIMAL)`
    * is DECIMAL(10,0); we keep fractional precision intentionally
    * (documented divergence — MySQL truncates to integer). `try_cast`, not
    * `cast`: EAV meta values are arbitrary user strings, and MySQL casts
    * garbage leniently (-> 0/NULL) where ANSI Spark would fail the whole
    * query; garbage here sorts as NULL. */
  def castMeta(c: Column, cast: MetaCast): Column = cast match {
    case MetaCast.AsText    => c
    case MetaCast.AsDecimal => c.try_cast(DecimalType(38, 10))
    case MetaCast.AsDate    => c.try_cast(DateType)
  }

  /** Attach one `__meta_sort_<key>` column per meta sort key: MAX(meta_value)
    * per post per key — the MAX-collapse at `VectorTable.php:203`, an
    * aggregated rewrite of the reference's N-way postmeta self-join
    * (`src/VectorTable.php:198-205`). `df` must be unique on `rowKey`. One
    * broadcast left join against the sort keys' postmeta rows, then one
    * aggregate grouped by `rowKey` alone, every other column carried
    * through `first`: no value is re-normalized by grouping (a double
    * grouping key would turn -0.0 into 0.0). Over a single-partition frame
    * (the search's top-5n cut) the aggregate plans no exchange. */
  def withMetaSortKeys(df: DataFrame, postmeta: DataFrame, keys: Seq[String],
      postIdCol: String = "post_id", rowKey: String = "id"): DataFrame =
    if (keys.isEmpty) df
    else {
      val rows = postmeta.filter(col("meta_key").isin(keys: _*))
        .select(col("post_id").as("__ms_post_id"), col("meta_key").as("__ms_key"),
          col("meta_value").as("__ms_value"))
      val aggs = df.columns.toSeq.filter(_ != rowKey).map(c => first(col(c)).as(c)) ++
        keys.map(k => max(when(col("__ms_key") === k, col("__ms_value"))).as(s"__meta_sort_$k"))
      df.join(broadcast(rows), df(postIdCol) === col("__ms_post_id"), "left")
        .groupBy(col(rowKey))
        .agg(aggs.head, aggs.tail: _*)
        .select((df.columns.toSeq ++ keys.map(k => s"__meta_sort_$k")).map(col): _*)
    }

  /** Sort expressions (Sort.php:39-53 + QueryBuilder.php:123-129). */
  def sortColumns(qb: QueryBuilder, resolve: String => Column): Seq[Column] =
    qb.sorts.map { s =>
      val base = s.meta match {
        case Some(c) => castMeta(col(s"__meta_sort_${s.field}"), c)
        case None    => resolve(s.field)
      }
      s.dir match { case SortDir.Asc => base.asc; case SortDir.Desc => base.desc }
    }
}
