package perfbench

import java.security.MessageDigest
import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable

import graft.query._

/** One WordPress post as the generator made it: the `posts` columns the
  * engine filters and sorts on, its EAV `postmeta` rows, and its topic. */
final case class GenPost(
    id: Long,
    postType: String,
    postStatus: String,
    postDate: Timestamp,
    postAuthor: Long,
    postModified: Timestamp,
    commentCount: Long,
    meta: Seq[(String, String)],
    topic: Int)

/** One embedded chunk: the raw `(post_id, sequence_no, vector)` row the
  * store receives. Ids are assigned by the engine, never by the generator. */
final case class GenChunk(postId: Long, seq: Int, vector: Array[Float])

/** `posts` holds the `loaded` posts whose chunks are in `chunks`, then the
  * rows of posts that claim batches add later. */
final case class Corpus(
    centres: Array[Array[Float]],
    posts: IndexedSeq[GenPost],
    loaded: Int,
    chunks: IndexedSeq[GenChunk]) {
  lazy val postById: Map[Long, GenPost] = posts.map(p => p.id -> p).toMap
}

/** The operations a client sends. Reads carry their query; writes carry the
  * rows a claim batch embeds, or the post a delete removes. */
sealed trait Op { def kind: String }
object Op {
  final case class Search(q: Array[Float]) extends Op { def kind = "search" }
  final case class SearchFiltered(q: Array[Float], builder: QueryBuilder, level: String)
      extends Op { def kind = "search_filtered" }
  final case class SearchPosts(q: Array[Float]) extends Op { def kind = "search_posts" }
  final case class IvfSearch(q: Array[Float]) extends Op { def kind = "ivf_search" }
  final case class SqlIvfSearch(q: Array[Float]) extends Op { def kind = "sql_ivf_search" }
  /** One claim batch: new posts and re-embeds of live posts, upserted
    * and then folded into the IVF index. */
  final case class IngestBatch(rows: IndexedSeq[GenChunk], newPosts: Int)
      extends Op { def kind = "ingest_batch" }
  final case class DeletePost(postId: Long) extends Op { def kind = "delete" }

  val readKinds: Seq[String] =
    Seq("search", "search_filtered", "search_posts", "ivf_search", "sql_ivf_search")
}

/** Workload shape. Both workloads share the corpus shape; `writes` puts a
  * write phase (one claim batch, one post delete) before the timed reads. */
final case class Workload(
    name: String,
    writes: Boolean,
    chunks: Int = 2250,
    maxChunks: Int = 8,
    dims: Int = 256,
    clusters: Int = 16,
    ivfLists: Int = 8,
    nprobe: Int = 2,
    ivfAssignBuckets: Int = 4,
    storeBuckets: Int = 2,
    n: Int = 10,
    claimPosts: Int = 25,
    newShare: Double = 0.6,
    /** Post rows generated beyond the corpus, for the posts claim batches add. */
    reservePosts: Int = 100)

object Workloads {
  val all: Map[String, Workload] = Seq(
    Workload("serve-small", writes = false),
    Workload("ingest-mixed", writes = true)
  ).map(w => w.name -> w).toMap

  def apply(name: String): Workload = all.getOrElse(name,
    throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.keys.toSeq.sorted.mkString(", ")})"))
}

/** Seeded generator. Vectors are clustered Gaussians (uniform random vectors
  * would make the sign sketch and IVF recall meaningless); queries fall near
  * cluster centres with a Zipf skew over clusters; each post has 1 to
  * `maxChunks` chunks; postmeta is EAV with duplicate keys, numeric strings
  * and a few non-numeric values. The same seed gives the same bytes. */
final class Gen(w: Workload, seed: Long) {
  private val PostSpread = 0.45
  private val ChunkSpread = 0.55
  private val QuerySpread = 0.6
  private val Epoch = 1546300800000L // 2019-01-01T00:00:00Z, whatever the JVM's time zone

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller on the splittable stream: java.util.Random#nextGaussian
    // is not available on SplittableRandom
    val u1 = 1.0 - r.nextDouble(); val u2 = r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  private def near(r: SplittableRandom, c: Array[Float], spread: Double): Array[Float] =
    Array.tabulate(c.length)(i => (c(i) + spread * gauss(r)).toFloat)

  /** The corpus, the reads, the warm-up reads and the writes each draw
    * from their own split of the seed, so none shifts another. */
  private val root = new SplittableRandom(seed)
  private val corpusRng = root.split()
  private val opRng = root.split()
  private val warmRng = root.split()
  private val writeRng = root.split()

  /** Exactly `w.chunks` chunks, so every seed loads the same amount. */
  val corpus: Corpus = {
    val r = corpusRng
    val centres = Array.fill(w.clusters)(Array.fill(w.dims)(gauss(r).toFloat))
    val posts = mutable.ArrayBuffer.empty[GenPost]
    val chunks = mutable.ArrayBuffer.empty[GenChunk]
    while (chunks.size < w.chunks) {
      val p = genPost(r, posts.size + 1L)
      posts += p
      chunks ++= genChunks(r, p, centres,
        math.min(1 + r.nextInt(w.maxChunks), w.chunks - chunks.size))
    }
    val loaded = posts.size
    while (posts.size < loaded + w.reservePosts) posts += genPost(r, posts.size + 1L)
    Corpus(centres, posts.toIndexedSeq, loaded, chunks.toIndexedSeq)
  }

  private def genPost(r: SplittableRandom, id: Long): GenPost = {
    val u = r.nextDouble()
    val postType = if (u < 0.7) "post" else if (u < 0.9) "page" else "attachment"
    val s = r.nextDouble()
    val status = if (s < 0.85) "publish" else if (s < 0.95) "draft" else "private"
    val date = Epoch + r.nextLong(1500L * 86400000L)
    val modified = date + r.nextLong(100L * 86400000L)
    val comments = (math.exp(r.nextDouble() * 5.3) - 1.0).toLong
    val meta = mutable.ArrayBuffer.empty[(String, String)]
    if (r.nextDouble() < 0.7) {
      meta += "rating" -> (if (r.nextDouble() < 0.03) "n/a" else (1 + r.nextInt(10)).toString)
      if (r.nextDouble() < 0.1) meta += "rating" -> (1 + r.nextInt(10)).toString
    }
    val langs = Array("en", "de", "fr", "es")
    def lang(): String = {
      val l = r.nextDouble()
      langs(if (l < 0.6) 0 else if (l < 0.8) 1 else if (l < 0.9) 2 else 3)
    }
    meta += "lang" -> lang()
    if (r.nextDouble() < 0.05) meta += "lang" -> lang()
    if (r.nextDouble() < 0.06) meta += "featured" -> "yes"
    if (r.nextDouble() < 0.4) meta += "price" -> "%.2f".formatLocal(java.util.Locale.ROOT, r.nextDouble() * 200)
    GenPost(id, postType, status, new Timestamp(date), 1L + r.nextInt(20),
      new Timestamp(modified), comments, meta.toSeq, r.nextInt(w.clusters))
  }

  private def genChunks(r: SplittableRandom, p: GenPost, centres: Array[Array[Float]],
      k: Int): IndexedSeq[GenChunk] = {
    val postCentre = near(r, centres(p.topic), PostSpread)
    (0 until k).map(s => GenChunk(p.id, s, near(r, postCentre, ChunkSpread)))
  }

  /** Zipf(1.1) over a seeded permutation of the clusters. */
  private val clusterOrder: Array[Int] = {
    val a = Array.range(0, w.clusters)
    var i = a.length - 1
    while (i > 0) { val j = opRng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a
  }
  private val zipfCdf: Array[Double] = {
    val ws = (1 to w.clusters).map(k => 1.0 / math.pow(k, 1.1))
    ws.scanLeft(0.0)(_ + _).tail.map(_ / ws.sum).toArray
  }
  private def query(r: SplittableRandom): Array[Float] = {
    val u = r.nextDouble()
    val rank = zipfCdf.indexWhere(_ >= u) max 0
    near(r, corpus.centres(clusterOrder(rank)), QuerySpread)
  }

  /** One stream of reads. Reads come in shuffled blocks holding each read
    * kind once and `search` twice, so every kind appears early and `search`
    * has the most samples. About 50% of posts pass the `half` filter and
    * about 5% the `narrow` one; both sort by a meta value cast to decimal,
    * then by an attribute. The levels alternate, so streams of equal length
    * hold the same mix. */
  private final class Reads(r: SplittableRandom) {
    private var block: List[String] = Nil
    private var filteredOps = 0

    private def filtered(): Op.SearchFiltered = {
      val sorts = Seq(Sort("rating", SortDir.Desc, Some(MetaCast.AsDecimal)),
        Sort("comment_count", SortDir.Desc))
      filteredOps += 1
      val (groups, level) =
        if (filteredOps % 2 == 1)
          (Seq(Seq(Filter("lang", FilterOp.Eq, FilterValue.S("en"), meta = true),
               Filter("comment_count", FilterOp.Gt, FilterValue.I(100))),
             Seq(Filter("post_status", FilterOp.Eq, FilterValue.S("publish")))), "half")
        else
          (Seq(Seq(Filter("featured", FilterOp.Eq, FilterValue.S("yes"), meta = true)),
             Seq(Filter("post_status", FilterOp.Eq, FilterValue.S("publish")),
               Filter("post_type", FilterOp.In,
                 FilterValue.L(Seq(FilterValue.S("page")))))), "narrow")
      Op.SearchFiltered(query(r), QueryBuilder(groups, sorts), level)
    }

    /** True between blocks: a phase that ends here holds whole blocks. */
    def atBlockEnd: Boolean = block.isEmpty

    def next(): Op = {
      if (block.isEmpty) {
        val a = ("search" +: Op.readKinds).toArray
        var i = a.length - 1
        while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
        block = a.toList
      }
      val k = block.head
      block = block.tail
      k match {
        case "search" => Op.Search(query(r))
        case "search_filtered" => filtered()
        case "search_posts" => Op.SearchPosts(query(r))
        case "ivf_search" => Op.IvfSearch(query(r))
        case "sql_ivf_search" => Op.SqlIvfSearch(query(r))
      }
    }
  }

  private val reads = new Reads(opRng)
  private val warmReads = new Reads(warmRng)

  /** The next measured read. */
  def nextRead(): Op = reads.next()
  def readsAtBlockEnd: Boolean = reads.atBlockEnd

  /** The next warm-up read, from a stream of its own: warming up the JVM
    * and Spark's caches leaves the measured sequence untouched. */
  def warmRead(): Op = warmReads.next()
  def warmAtBlockEnd: Boolean = warmReads.atBlockEnd

  // write-stream bookkeeping: which posts are live and how many chunks
  // each has, so re-embeds and deletes target real posts without asking
  // the engine (the sequence must not depend on timing or engine output)
  private val liveChunks = mutable.LinkedHashMap.empty[Long, Int]
  corpus.chunks.groupBy(_.postId).toSeq.sortBy(_._1)
    .foreach { case (p, cs) => liveChunks(p) = cs.size }
  private var nextPost = corpus.loaded + 1

  private def pickLive(): Long = {
    val keys = liveChunks.keysIterator.toIndexedSeq
    keys(writeRng.nextInt(keys.size))
  }

  private def ingestBatch(): Op.IngestBatch = {
    require(nextPost + w.claimPosts <= corpus.posts.size,
      "op stream ran past the reserved post rows; raise reservePosts")
    val nNew = math.round(w.claimPosts * w.newShare).toInt
    val fresh = (0 until nNew).map { _ =>
      val p = corpus.posts(nextPost - 1); nextPost += 1; p
    }
    val reembed = Iterator.continually(pickLive()).distinct.take(w.claimPosts - nNew).toSeq
    val rows = fresh.flatMap(p => genChunks(writeRng, p, corpus.centres,
        1 + writeRng.nextInt(w.maxChunks))) ++
      reembed.flatMap(id => genChunks(writeRng, corpus.postById(id), corpus.centres, liveChunks(id)))
    rows.groupBy(_.postId).foreach { case (p, cs) => liveChunks(p) = cs.size }
    Op.IngestBatch(rows, nNew)
  }

  private def deletePost(): Op.DeletePost = {
    val p = pickLive(); liveChunks.remove(p); Op.DeletePost(p)
  }

  /** The write phase: one claim batch of `claimPosts` posts, then the
    * delete of one live post. */
  def writeOps(): Seq[Op] = Seq(ingestBatch(), deletePost())
}

object Gen {
  /** SHA-256 over a canonical byte encoding of the corpus, the write phase
    * and the first `ops` reads. */
  def digest(w: Workload, seed: Long, ops: Int): String = {
    val g = new Gen(w, seed)
    val md = MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8)
    def long(v: Long): Unit = { buf.clear(); buf.putLong(v); md.update(buf.array()) }
    def str(s: String): Unit = { val b = s.getBytes("UTF-8"); long(b.length); md.update(b) }
    def vec(v: Array[Float]): Unit = { long(v.length); v.foreach(f => long(java.lang.Float.floatToIntBits(f).toLong)) }
    def chunk(c: GenChunk): Unit = { long(c.postId); long(c.seq); vec(c.vector) }
    g.corpus.centres.foreach(vec)
    long(g.corpus.loaded)
    g.corpus.posts.foreach { p =>
      long(p.id); str(p.postType); str(p.postStatus); long(p.postDate.getTime)
      long(p.postAuthor); long(p.postModified.getTime); long(p.commentCount); long(p.topic)
      p.meta.foreach { case (k, v) => str(k); str(v) }
    }
    g.corpus.chunks.foreach(chunk)
    (g.writeOps() ++ Seq.fill(ops)(g.nextRead())).foreach {
      case Op.Search(q) => str("search"); vec(q)
      case Op.SearchFiltered(q, b, l) => str("search_filtered"); vec(q); str(l); str(b.toString)
      case Op.SearchPosts(q) => str("search_posts"); vec(q)
      case Op.IvfSearch(q) => str("ivf_search"); vec(q)
      case Op.SqlIvfSearch(q) => str("sql_ivf_search"); vec(q)
      case Op.IngestBatch(rows, nNew) => str("ingest_batch"); long(nNew); rows.foreach(chunk)
      case Op.DeletePost(p) => str("delete"); long(p)
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
