package perfbench

import scala.collection.mutable

import graft.query._

/** The store's expected content, kept by the benchmark alongside the engine,
  * and plain-Scala reference answers computed from it. Arithmetic follows
  * the engine's kernels term by term (float products summed in double, in
  * index order), so exact answers compare equal, not just close. */
final class Ref(corpus: Corpus, dims: Int) {
  final case class Row(id: Long, postId: Long, seq: Int, vector: Array[Float],
      code: Array[Long], magnitude: Double)

  private val live = mutable.LinkedHashMap.empty[Long, Row]
  private val byKey = mutable.HashMap.empty[(Long, Int), Long]
  val deleted = mutable.HashSet.empty[Long]
  private var centroids: Array[Array[Float]] = Array.empty
  private val listOf = mutable.HashMap.empty[Long, Int]

  def size: Int = live.size
  def ids: Iterable[Long] = live.keys
  def idsOfPost(p: Long): Seq[Long] = live.valuesIterator.filter(_.postId == p).map(_.id).toSeq
  def row(id: Long): Row = live(id)

  /** Record rows the engine holds under the ids it assigned. */
  def put(id: Long, postId: Long, seq: Int, v: Array[Float]): Unit = {
    byKey.get((postId, seq)).filter(_ != id).foreach(live.remove)
    val r = Row(id, postId, seq, v, Ref.pack(v), math.sqrt(Ref.dot(v, v)))
    live(id) = r; byKey((postId, seq)) = id
    if (centroids.nonEmpty) listOf(id) = assign(v)
  }

  def remove(id: Long): Unit = live.remove(id).foreach { r =>
    byKey.remove((r.postId, r.seq)); listOf.remove(id); deleted += id
  }

  def idOf(postId: Long, seq: Int): Option[Long] = byKey.get((postId, seq))

  def setCentroids(cs: Seq[Array[Float]]): Unit = {
    centroids = cs.toArray
    listOf.clear()
    live.valuesIterator.foreach(r => listOf(r.id) = assign(r.vector))
  }

  /** `Ann.ivfAssign`: argmax dot, lowest centroid id on ties. */
  private def assign(v: Array[Float]): Int = {
    var best = 0; var bestS = Double.NegativeInfinity; var i = 0
    while (i < centroids.length) {
      val s = Ref.dot(v, centroids(i)); if (s > bestS) { bestS = s; best = i }; i += 1
    }
    best
  }

  private def cosine(r: Row, q: Array[Float], qMag: Double): Double =
    Ref.dot(r.vector, q) / (r.magnitude * qMag + Ref.CosineEps)

  /** Two-phase reference: Hamming top-10n by (distance, id), cosine top-5n
    * by (cosine desc, id asc), then the first n (or an attribute sort).
    * Returns (id, post_id, hamming, cosine). */
  def twoPhase(q: Array[Float], n: Int, allow: Long => Boolean = _ => true)
      : Seq[(Long, Long, Int, Double)] = {
    val qc = Ref.pack(q); val qMag = math.sqrt(Ref.dot(q, q))
    val ham = live.valuesIterator.filter(r => allow(r.postId))
      .map(r => (r, Ref.hamming(r.code, qc))).toSeq
      .sortBy { case (r, d) => (d, r.id) }.take(10 * n)
    ham.map { case (r, d) => (r.id, r.postId, d, cosine(r, q, qMag)) }
      .sortBy(t => (-t._4, t._1)).take(5 * n)
  }

  def search(q: Array[Float], n: Int): Seq[(Long, Long, Int, Double)] = twoPhase(q, n).take(n)

  /** `searchPosts`: best chunk per post over the n = 5·nPosts chunk pool. */
  def searchPosts(q: Array[Float], nPosts: Int): Seq[(Long, Long)] = {
    val pool = twoPhase(q, 5 * nPosts).take(5 * nPosts)
    pool.groupBy(_._2).values.map(_.minBy(t => (-t._4, t._1))).toSeq
      .sortBy(t => (-t._4, t._2)).take(nPosts).map(t => (t._2, t._1))
  }

  def filtered(q: Array[Float], n: Int, b: QueryBuilder): Seq[(Long, Long, Int, Double)] =
    twoPhase(q, n, p => Ref.passes(corpus.postById(p), b))
      .sortWith((x, y) => Ref.sortsBefore(corpus.postById(x._2), x._1,
        corpus.postById(y._2), y._1, b))
      .take(n)

  /** Exact cosine top-k over every live chunk (the recall yardstick). */
  def exact(q: Array[Float], k: Int): Seq[Long] = {
    val qMag = math.sqrt(Ref.dot(q, q))
    live.valuesIterator.map(r => (r.id, cosine(r, q, qMag))).toSeq
      .sortBy(t => (-t._2, t._1)).take(k).map(_._1)
  }

  /** `IvfIndex.search`: exact cosine top-k within the nprobe lists whose
    * centroids have the largest dot with the query. (id, rounded cosine). */
  def ivf(q: Array[Float], k: Int, nprobe: Int): Seq[(Long, Double)] = {
    val probes = probeSet(q, nprobe).toSet
    val qMag = math.sqrt(Ref.dot(q, q))
    live.valuesIterator.filter(r => probes(listOf(r.id)))
      .map(r => (r.id, cosine(r, q, qMag))).toSeq
      .sortBy(t => (-t._2, t._1)).take(k)
      .map { case (id, c) => (id, BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
  }

  def probeSet(q: Array[Float], nprobe: Int): Seq[Int] =
    centroids.indices.map(i => (i, Ref.dot(centroids(i), q)))
      .sortBy { case (i, d) => (-d, i) }.take(nprobe).map(_._1)

  def rawBytes: Long = live.size.toLong * dims * 4
}

object Ref {
  val CosineEps: Double = graft.functions.VectorFunctions.CosineEps

  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0; val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  def pack(v: Array[Float]): Array[Long] = {
    val w = new Array[Long]((v.length + 63) / 64); var i = 0
    while (i < v.length) { if (v(i) > 0f) w(i >> 6) |= (1L << (i & 63)); i += 1 }
    w
  }

  def hamming(a: Array[Long], b: Array[Long]): Int = {
    var d = 0; var i = 0
    while (i < math.min(a.length, b.length)) { d += java.lang.Long.bitCount(a(i) ^ b(i)); i += 1 }
    d
  }

  private def column(p: GenPost, field: String): Any = field match {
    case "post_type" => p.postType
    case "post_status" => p.postStatus
    case "post_author" => p.postAuthor
    case "comment_count" => p.commentCount
    case other => throw new IllegalArgumentException(s"no reference for posts.$other")
  }

  private def value(v: FilterValue): Any = v match {
    case FilterValue.I(x) => x
    case FilterValue.S(x) => x
    case FilterValue.L(xs) => xs.map(value)
    case other => throw new IllegalArgumentException(s"no reference for $other")
  }

  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: String, y: String) => x.compareTo(y)
    case _ => throw new IllegalArgumentException(s"incomparable $a, $b")
  }

  /** One predicate; meta predicates compare the raw string (EXISTS over the
    * post's rows with that key), as `QueryCompiler` does. */
  def holds(p: GenPost, f: Filter): Boolean = {
    def test(x: Any): Boolean = f.op match {
      case FilterOp.Eq => cmp(x, value(f.value)) == 0
      case FilterOp.Ne => cmp(x, value(f.value)) != 0
      case FilterOp.Gt => cmp(x, value(f.value)) > 0
      case FilterOp.Lt => cmp(x, value(f.value)) < 0
      case FilterOp.Ge => cmp(x, value(f.value)) >= 0
      case FilterOp.Le => cmp(x, value(f.value)) <= 0
      case FilterOp.In => value(f.value).asInstanceOf[Seq[Any]].exists(cmp(x, _) == 0)
      case other => throw new IllegalArgumentException(s"no reference for $other")
    }
    if (f.meta) p.meta.exists { case (k, v) => k == f.field && test(v) }
    else test(column(p, f.field))
  }

  def passes(p: GenPost, b: QueryBuilder): Boolean =
    b.groups.filter(_.nonEmpty).forall(_.exists(holds(p, _)))

  /** Sort key of one `Sort` for a post: meta sorts take the string MAX of
    * the key's values, then `try_cast` (non-numeric -> null). */
  private def key(p: GenPost, s: Sort): Option[BigDecimal] = s.meta match {
    case Some(MetaCast.AsDecimal) =>
      val vs = p.meta.collect { case (k, v) if k == s.field => v }
      if (vs.isEmpty) None else scala.util.Try(BigDecimal(vs.max)).toOption
    case None => Some(BigDecimal(column(p, s.field).asInstanceOf[Long]))
    case other => throw new IllegalArgumentException(s"no reference for $other")
  }

  /** Spark's order: ASC puts nulls first, DESC puts them last; id breaks ties. */
  def sortsBefore(a: GenPost, aId: Long, b: GenPost, bId: Long, qb: QueryBuilder): Boolean = {
    val it = qb.sorts.iterator
    while (it.hasNext) {
      val s = it.next()
      val c = (key(a, s), key(b, s)) match {
        case (None, None) => 0
        case (None, _) => if (s.dir.asc) -1 else 1
        case (_, None) => if (s.dir.asc) 1 else -1
        case (Some(x), Some(y)) => if (s.dir.asc) x.compare(y) else y.compare(x)
      }
      if (c != 0) return c < 0
    }
    aId < bId
  }

  /** Keys of a hit list in the builder's order, for the sort-order check. */
  def inOrder(hits: Seq[(GenPost, Long)], qb: QueryBuilder): Boolean =
    hits.sliding(2).forall {
      case Seq((a, ai), (b, bi)) => !sortsBefore(b, bi, a, ai, qb)
      case _ => true
    }
}
