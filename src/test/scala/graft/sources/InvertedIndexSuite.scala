package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.TextAnalysis

/** The persisted inverted index must be a pure I/O optimization:
  * bit-identical phrase results to the in-memory postings path, with the
  * term buckets reaching the file listing as partition filters. */
class InvertedIndexSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docsA = Seq(
    (1L, "merge sort beats bubble sort"),
    (2L, "sort merge join strategy"),
    (3L, "unrelated text entirely")).toDF("doc_id", "text")
  private val docsB = Seq(
    (4L, "another sort merge document"),
    (5L, "no match here")).toDF("doc_id", "text")

  private def rootOf(idx: InvertedIndex) = new org.apache.hadoop.fs.Path(idx.indexPath)
  private def fsOf(idx: InvertedIndex) =
    rootOf(idx).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Whether the index root holds batch staging and a committed marker. */
  private def hasBatch(idx: InvertedIndex): (Boolean, Boolean) =
    (new java.io.File(s"${idx.indexPath}/.commit").exists(),
      new java.io.File(s"${idx.indexPath}/.committed").exists())

  /** Move the directory `from` to a batch's staging path — the state a
    * mutation that crashed after staging leaves behind. */
  private def stageDir(fs: org.apache.hadoop.fs.FileSystem, from: String)(
      staged: org.apache.hadoop.fs.Path): Unit = {
    fs.mkdirs(staged.getParent)
    assert(fs.rename(new org.apache.hadoop.fs.Path(from), staged), s"test setup: stage $from")
  }

  private def phrase(idx: InvertedIndex, terms: Seq[String]) =
    TextAnalysis.phraseMatch(idx.termPostings(terms), terms)
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("phrase over the persisted index is bit-identical to the in-memory path") {
    val dir = Files.createTempDirectory("graft_inv").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    idx.build(docsA, "doc_id", col("text"))
    val want = TextAnalysis.phraseMatch(
        TextAnalysis.positionalPostings(docsA, "doc_id", col("text")),
        Seq("sort", "merge"))
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(phrase(idx, Seq("sort", "merge")) === want)
    intercept[IllegalArgumentException](idx.termPostings(Nil))
    intercept[IllegalArgumentException](idx.termPostings(Seq("ok", "")))
  }

  test("append: build(A) + append(B) answers like build(A ∪ B)") {
    val dir = Files.createTempDirectory("graft_inv_app").toString
    val inc = new InvertedIndex(spark, s"$dir/inc", buckets = 8)
    inc.build(docsA, "doc_id", col("text"))
    inc.append(docsB, "doc_id", col("text"))
    val full = new InvertedIndex(spark, s"$dir/full", buckets = 8)
    full.build(docsA.union(docsB), "doc_id", col("text"))
    assert(phrase(inc, Seq("sort", "merge")) === phrase(full, Seq("sort", "merge")))
  }

  test("bm25 over the index is bit-identical to the tokenize path; append keeps stats honest") {
    val dir = Files.createTempDirectory("graft_inv_bm25").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    idx.build(docsA, "doc_id", col("text"))
    idx.append(docsB, "doc_id", col("text"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val want = rows(TextAnalysis.bm25TopK(docsA.union(docsB), "doc_id",
      col("text"), Seq("sort", "merge"), k = 10))
    val got = rows(idx.bm25(Seq("sort", "merge"), k = 10))
    assert(got === want, "index path must reproduce the tokenize path exactly")
    intercept[IllegalArgumentException](idx.bm25(Nil, 5))
    intercept[IllegalArgumentException](idx.bm25(Seq("a", "a"), 5))
    intercept[IllegalArgumentException](idx.bm25(Seq("a"), 0))
  }

  test("bm25Synonyms: index serve ≡ tokenize path; delete keeps group stats live (X215)") {
    val dir = Files.createTempDirectory("graft_inv_syn").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    idx.build(docsA.union(docsB), "doc_id", col("text"))
    val groups = Seq(Seq("sort", "merge"), Seq("spark"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows(idx.bm25Synonyms(groups, k = 10)) ===
      rows(TextAnalysis.bm25SynTopK(docsA.union(docsB), "doc_id",
        col("text"), groups, k = 10)),
      "index path must reproduce the tokenize path exactly")
    // group df/tf must track the LIVE corpus through a tombstone delete
    val dropId = docsB.select("doc_id").head().getLong(0)
    idx.delete(Seq(dropId).toDF("doc_id"))
    val live = docsA.union(docsB).filter(col("doc_id") =!= dropId)
    assert(rows(idx.bm25Synonyms(groups, k = 10)) ===
      rows(TextAnalysis.bm25SynTopK(live, "doc_id", col("text"), groups, k = 10)))
    intercept[IllegalArgumentException](idx.bm25Synonyms(Seq(Seq("a"), Seq("a")), 5))
    intercept[IllegalArgumentException](idx.bm25Synonyms(Seq.empty, 5))
    intercept[IllegalArgumentException](idx.bm25Synonyms(groups, 0))
  }

  test("bm25fTopK: fielded sidecar serve ≡ tokenize path; pruned, text-free, delete-live (X225)") {
    val dir = Files.createTempDirectory("graft_inv_bm25f").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    val all = docsA.union(docsB)
    idx.build(all, "doc_id", col("text"))
    // serving before buildFielded is a clear contract error
    val noSidecar = intercept[IllegalArgumentException](
      idx.bm25fTopK(Seq("sort"), k = 5))
    assert(noSidecar.getMessage.contains("buildFielded"))
    idx.buildFielded(headLen = 2)
    assert(idx.fieldedHeadLen === 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val want = rows(TextAnalysis.bm25fTopK(all, "doc_id", col("text"),
      headLen = 2, Seq("sort", "merge"), k = 10))
    val served = idx.bm25fTopK(Seq("sort", "merge"), k = 10)
    assert(rows(served) === want,
      "index path must reproduce the tokenize path exactly")
    // plan audit: every file scan is sidecar I/O (fielded postings with
    // the tbucket partition filter, fielded doclens) — text never read
    val scans = served.queryExecution.sparkPlan
      .collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty)
    assert(scans.forall(_.relation.location.rootPaths.forall(
        _.toString.contains("/fielded"))),
      s"a non-sidecar scan leaked into the serve:\n${scans.mkString("\n")}")
    val partFilters = scans.map(_.metadata("PartitionFilters")).mkString
    assert(partFilters.contains("tbucket"),
      s"the term buckets must prune at the file listing: $partFilters")
    // a tombstone delete takes effect immediately (stats and hits)
    idx.delete(Seq(1L).toDF("doc_id"))
    val live = all.filter(col("doc_id") =!= 1L)
    assert(rows(idx.bm25fTopK(Seq("sort", "merge"), k = 10)) ===
      rows(TextAnalysis.bm25fTopK(live, "doc_id", col("text"),
        headLen = 2, Seq("sort", "merge"), k = 10)))
    intercept[IllegalArgumentException](idx.bm25fTopK(Nil, 5))
    intercept[IllegalArgumentException](idx.bm25fTopK(Seq("a", "a"), 5))
    intercept[IllegalArgumentException](idx.bm25fTopK(Seq("a"), 0))
    intercept[IllegalArgumentException](idx.buildFielded(0))
  }

  test("wildcardSearch: census expansion, blended scoring, maxExpansions cut (X219)") {
    val dir = Files.createTempDirectory("graft_inv_wc").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    idx.build(docsA.union(docsB), "doc_id", col("text"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // 's*' matches {sort(df 3), strategy(1), sorts? no} -> expansion =
    // the blended group over the matches; must equal an explicit
    // SynonymQuery over the same terms
    assert(rows(idx.wildcardSearch("s*", k = 10)) ===
      rows(idx.bm25Synonyms(Seq(Seq("sort", "strategy")), k = 10)))
    // '?ort' single-char wildcard matches only 'sort'
    assert(rows(idx.wildcardSearch("?ort", k = 10)) ===
      rows(idx.bm25(Seq("sort"), k = 10)))
    // maxExpansions=1 keeps only the highest-df match (sort)
    assert(rows(idx.wildcardSearch("s*", k = 10, maxExpansions = 1)) ===
      rows(idx.bm25(Seq("sort"), k = 10)))
    // no match -> empty frame, not an error
    assert(idx.wildcardSearch("zzz*", k = 5).collect().isEmpty)
    // regex metacharacters in the literal part must stay literal
    assert(idx.wildcardSearch("s.rt", k = 5).collect().isEmpty)
    intercept[IllegalArgumentException](idx.wildcardSearch("", 5))
    intercept[IllegalArgumentException](idx.wildcardSearch("*", 5))
    intercept[IllegalArgumentException](idx.wildcardSearch("s*", 0))
    intercept[IllegalArgumentException](idx.wildcardSearch("s*", 5, 0))
  }

  test("tombstone delete: reads are bit-identical to an index rebuilt without the docs") {
    val dir = Files.createTempDirectory("graft_inv_del").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    idx.build(docsA.union(docsB), "doc_id", col("text"))
    idx.delete(Seq(2L, 4L).toDF("doc_id"))
    val ref = new InvertedIndex(spark, s"$dir/ref", buckets = 8)
    ref.build(docsA.union(docsB).filter(!col("doc_id").isin(2L, 4L)),
      "doc_id", col("text"))
    assert(phrase(idx, Seq("sort", "merge")) === phrase(ref, Seq("sort", "merge")))
    def bm(i: InvertedIndex) = i.bm25(Seq("sort", "merge"), k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(bm(idx) === bm(ref),
      "corpus stats (N, avgdl, df) must shrink with the deletion")
    // deleting an absent id is a no-op
    idx.delete(Seq(99L).toDF("doc_id"))
    assert(bm(idx) === bm(ref))
    intercept[IllegalArgumentException](idx.delete(Seq(1L).toDF("id")))
  }

  test("vacuum: physical removal, same answers, tombstones cleared, crash-safe") {
    val dir = Files.createTempDirectory("graft_inv_vac").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    idx.build(docsA.union(docsB), "doc_id", col("text"))
    idx.delete(Seq(2L, 4L).toDF("doc_id"))
    val before = phrase(idx, Seq("sort", "merge"))
    idx.vacuum()
    assert(phrase(idx, Seq("sort", "merge")) === before)
    val raw = spark.read.parquet(s"$dir/inv/postings")
    assert(raw.filter(col("doc_id").isin(2L, 4L)).count() === 0,
      "vacuum must physically remove tombstoned postings")
    assert(spark.read.parquet(s"$dir/inv/doclens")
      .filter(col("doc_id").isin(2L, 4L)).count() === 0)
    assert(!new java.io.File(s"$dir/inv/tombstones").exists(),
      "vacuum must clear the tombstone table")
    idx.vacuum() // idempotent on a clean index
    assert(phrase(idx, Seq("sort", "merge")) === before)
    // crash simulation: the publish swap's first rename happened, the
    // second did not — live dir gone, backup visible, the batch
    // committed; the next read must roll it forward
    CrashStates.midSwap(fsOf(idx), rootOf(idx), "postings")
    assert(phrase(idx, Seq("sort", "merge")) === before,
      "recover() must finish a half-done swap before reading")
    assert(!new java.io.File(s"$dir/inv/.postings.bak").exists())
  }

  test("vacuum after deleting every doc leaves a readable empty index") {
    val dir = Files.createTempDirectory("graft_inv_empty").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 4)
    idx.build(docsA, "doc_id", col("text"))
    idx.delete(Seq(1L, 2L, 3L).toDF("doc_id"))
    idx.vacuum()
    assert(phrase(idx, Seq("sort", "merge")) === Seq(),
      "schema-carrying empty layout must still answer queries")
    assert(idx.bm25(Seq("sort"), k = 5).count() === 0)
  }

  test("build after tombstones starts fresh (no masking of rebuilt docs)") {
    val dir = Files.createTempDirectory("graft_inv_fresh").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 4)
    idx.build(docsA, "doc_id", col("text"))
    idx.delete(Seq(1L).toDF("doc_id"))
    idx.build(docsA, "doc_id", col("text")) // full rebuild, same path
    val want = TextAnalysis.phraseMatch(
        TextAnalysis.positionalPostings(docsA, "doc_id", col("text")),
        Seq("sort", "merge"))
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(phrase(idx, Seq("sort", "merge")) === want,
      "a rebuild must clear stale tombstones")
  }

  test("compact: one file per term bucket, bit-identical answers, crash-safe") {
    val dir = Files.createTempDirectory("graft_inv_cpt").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 4)
    idx.build(docsA, "doc_id", col("text"))
    idx.append(docsB, "doc_id", col("text"))
    idx.append(Seq((6L, "sort merge again")).toDF("doc_id", "text"),
      "doc_id", col("text"))
    def partFiles(sub: String) = {
      val d = new java.io.File(s"$dir/inv/postings/$sub")
      if (!d.exists()) 0
      else d.listFiles().count(_.getName.startsWith("part-"))
    }
    val grown = (0 until 4).map(n => partFiles(s"tbucket=$n"))
    assert(grown.exists(_ > 1), s"appends must accrete files, got $grown")
    val before = phrase(idx, Seq("sort", "merge"))
    val bmBefore = idx.bm25(Seq("sort", "merge"), k = 10).collect().toSeq
    idx.compact()
    assert((0 until 4).filter(n =>
        new java.io.File(s"$dir/inv/postings/tbucket=$n").exists())
      .forall(n => partFiles(s"tbucket=$n") == 1),
      "compact leaves one file per bucket directory")
    assert(phrase(idx, Seq("sort", "merge")) === before)
    assert(idx.bm25(Seq("sort", "merge"), k = 10).collect().toSeq === bmBefore)
    // crash between doclens' two publish renames: backup visible, live
    // missing, the batch committed
    CrashStates.midSwap(fsOf(idx), rootOf(idx), "doclens")
    assert(idx.bm25(Seq("sort", "merge"), k = 10).collect().toSeq === bmBefore,
      "recover() must finish a half-swapped doclens")
    intercept[IllegalArgumentException](idx.compact(doclensFiles = 0))
  }

  test("bm25 msm: gate restricts docs without touching idf; AND at |terms|; bad msm") {
    val dir = Files.createTempDirectory("graft_inv_msm").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    idx.build(docsA.union(docsB), "doc_id", col("text"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val or = rows(idx.bm25(Seq("sort", "merge", "strategy"), k = 10))
    val msm2 = rows(idx.bm25(Seq("sort", "merge", "strategy"), k = 10, msm = 2))
    assert(msm2.map(_._1).toSet.subsetOf(or.map(_._1).toSet))
    // survivors keep their OR-query scores bit-for-bit: stats stay corpus-wide
    val orScores = or.toMap
    assert(msm2.forall { case (id, s) => orScores(id) == s },
      "msm must not perturb idf/avgdl — identical scores for survivors")
    // docs 1,2,4 have sort+merge; only doc 2 has strategy
    assert(msm2.map(_._1).toSet === Set(1L, 2L, 4L))
    val and = rows(idx.bm25(Seq("sort", "merge", "strategy"), k = 10, msm = 3))
    assert(and.map(_._1) === Seq(2L), "msm = |terms| is pure AND")
    intercept[IllegalArgumentException](
      idx.bm25(Seq("sort", "merge"), k = 5, msm = 0))
    intercept[IllegalArgumentException](
      idx.bm25(Seq("sort", "merge"), k = 5, msm = 3))
  }

  test("stats census sees only live docs; fileStats tracks the compaction debt") {
    val dir = Files.createTempDirectory("graft_inv_stats").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 4)
    idx.build(docsA, "doc_id", col("text"))
    idx.append(docsB, "doc_id", col("text"))
    def totals() = idx.stats().agg(
        sum(col("n_postings")), sum(col("n_docs"))).head()
    val allTokens = docsA.union(docsB)
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("t"))
      .filter(col("t") =!= "").count()
    assert(totals().getLong(0) === allTokens,
      "per-bucket postings must sum to the corpus token count")
    idx.delete(Seq(1L).toDF("doc_id"))
    val live = totals()
    assert(live.getLong(0) === allTokens - 5,
      "doc 1's five postings leave the census at delete time, pre-vacuum")
    val files = idx.fileStats()
    assert(files.agg(max(col("n_files"))).head().getInt(0) > 1,
      "append accretes files the policy surface must report")
    idx.vacuum(); idx.compact()
    assert(idx.fileStats().collect().forall(_.getInt(1) == 1),
      "after compact every bucket holds one file")
    assert(totals().getLong(0) === live.getLong(0),
      "vacuum+compact must not change the live census")
  }

  private def expectedVocab(docs: org.apache.spark.sql.DataFrame) =
    TextAnalysis.positionalPostings(docs, "doc_id", col("text"))
      .groupBy(col("term")).agg(count_distinct(col("doc_id")).as("df"))
      .orderBy(col("term")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq

  private def vocabRows(idx: InvertedIndex) =
    idx.vocab().orderBy(col("term")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq

  test("census sidecar ≡ recomputed vocab across build/append/delete/vacuum/compact") {
    val dir = Files.createTempDirectory("graft_inv_census").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    idx.build(docsA, "doc_id", col("text"))
    assert(vocabRows(idx) === expectedVocab(docsA))
    idx.append(docsB, "doc_id", col("text"))
    assert(vocabRows(idx) === expectedVocab(docsA.union(docsB)))
    idx.delete(Seq(2L).toDF("doc_id"))
    val survivors = docsA.union(docsB).filter(col("doc_id") =!= 2L)
    assert(vocabRows(idx) === expectedVocab(survivors),
      "pending tombstones must subtract from the served census")
    idx.vacuum()
    assert(vocabRows(idx) === expectedVocab(survivors),
      "vacuum's census swap must bake the subtraction in")
    assert(new java.io.File(s"$dir/inv/census").list().toSet === Set("base"),
      "the census holds its base alone")
    assert(hasBatch(idx) === ((false, false)), "the vacuum's batch published whole")
    idx.compact()
    assert(vocabRows(idx) === expectedVocab(survivors))
    val prefixDirs = new java.io.File(s"$dir/inv/census/base").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("tprefix="))
    assert(prefixDirs.nonEmpty, "census base must be tprefix-partitioned")
    assert(prefixDirs.forall(
        _.listFiles().count(_.getName.startsWith("part-")) === 1),
      "compact merge-sums the census base to one file per tprefix dir")
  }

  test("vocab serves from the census without opening the postings layout") {
    val dir = Files.createTempDirectory("graft_inv_cplan").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    idx.build(docsA, "doc_id", col("text"))
    idx.append(docsB, "doc_id", col("text"))
    val scans = idx.vocab().queryExecution.sparkPlan
      .collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    assert(scans.forall(_.relation.location.rootPaths
        .forall(!_.toString.contains("/postings"))),
      "no-tombstone vocab must be a pure census read")
    // the fuzzy-suggest serve path inherits the census-only scan
    val fz = TextAnalysis.fuzzySuggestVocab(idx.vocab(), Seq("sorrt"), 3)
    val fzScans = fz.queryExecution.sparkPlan
      .collect { case s: FileSourceScanExec => s }
    assert(fzScans.forall(_.relation.location.rootPaths
      .forall(!_.toString.contains("/postings"))))
  }

  test("vocabForPrefixes: tprefix partitions prune at the file listing; parity incl. tombstones (X226)") {
    val dir = Files.createTempDirectory("graft_inv_vpfx").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    idx.build(docsA.union(docsB), "doc_id", col("text"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("term")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
    // the slice is a superset of the startswith matches and a subset of
    // the census restricted to the prefixes' first-char buckets
    val slice = idx.vocabForPrefixes(Seq("so", "str"))
    val full = rows(idx.vocab())
    assert(rows(slice).toSet.subsetOf(full.toSet))
    assert(rows(slice.filter(col("term").startsWith("so"))) ===
      full.filter(_._1.startsWith("so")))
    // plan audit: the census read lists ONLY the matching tprefix dirs
    val scans = slice.queryExecution.sparkPlan
      .collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    assert(scans.map(_.metadata("PartitionFilters")).mkString.contains("tprefix"),
      "the first-char buckets must reach the file listing")
    val wantBuckets = Seq("so", "str").map(idx.tprefixOf).distinct
    val pf = scans.map(_.metadata("PartitionFilters")).mkString
    assert(wantBuckets.forall(b => pf.contains(b.toString)),
      s"every queried first-char bucket must appear in the filter: $pf")
    // wildcard expansion with a literal leading character serves from
    // the pruned slice: same expansion, same blended ranking as the
    // full-vocab expansion the X219 suite pins
    val viaPruned = idx.wildcardSearch("so*t", k = 10).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val fullExp = idx.vocab()
      .filter(col("term").rlike(idx.wildcardRegex("so*t")))
      .orderBy(col("df").desc, col("term").asc).limit(50)
      .select(col("term")).collect().map(_.getString(0)).toSeq
    val viaFull = idx.bm25Synonyms(Seq(fullExp), k = 10).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(viaPruned === viaFull,
      "prefix-pruned expansion must reproduce the full-vocab expansion")
    // tombstone masking carries into the pruned slice
    idx.delete(Seq(1L).toDF("doc_id"))
    val live = docsA.union(docsB).filter(col("doc_id") =!= 1L)
    val wantLive = TextAnalysis.positionalPostings(live, "doc_id", col("text"))
      .groupBy(col("term")).agg(count_distinct(col("doc_id")).as("df"))
    assert(rows(idx.vocabForPrefixes(Seq("so"))
        .filter(col("term").startsWith("so"))) ===
      rows(wantLive.filter(col("term").startsWith("so"))))
    intercept[IllegalArgumentException](idx.vocabForPrefixes(Nil))
    intercept[IllegalArgumentException](idx.vocabForPrefixes(Seq("")))
  }

  test("census crash windows: stored delta preferred, reused by vacuum, post-swap exact") {
    val dir = Files.createTempDirectory("graft_inv_cwin").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    idx.build(docsA.union(docsB), "doc_id", col("text"))
    idx.delete(Seq(2L).toDF("doc_id"))
    val survivors = docsA.union(docsB).filter(col("doc_id") =!= 2L)
    // a vacuum that committed its batch: the vacuumed postings, doclens
    // and census (a sibling index built over the survivors) staged, the
    // tombstones' drop listed
    val ref = new InvertedIndex(spark, s"$dir/ref", buckets = 8)
    ref.build(survivors, "doc_id", col("text"))
    val want = phrase(ref, Seq("sort", "merge"))
    val fs = fsOf(idx)
    val batch = LayoutFs.batch(fs, rootOf(idx))
    batch.stage("census")(stageDir(fs, s"$dir/ref/census"))
    batch.stage("postings")(stageDir(fs, s"$dir/ref/postings"))
    batch.stage("doclens")(stageDir(fs, s"$dir/ref/doclens"))
    batch.drop("tombstones")
    assert(batch.markCommitted())
    // crash window: the publish swapped the census, not yet the postings
    // — the read must finish the batch, never subtract the tombstones
    // twice
    LayoutFs.swap(fs, batch.staged("census"), new org.apache.hadoop.fs.Path(s"$dir/inv/census"))
    assert(vocabRows(idx) === expectedVocab(survivors),
      "a read rolls the committed vacuum forward: census exact")
    assert(hasBatch(idx) === ((false, false)))
    assert(!new java.io.File(s"$dir/inv/tombstones").exists())
    assert(phrase(idx, Seq("sort", "merge")) === want)
    // window after the census swap, before the tombstone delete: base
    // already adjusted, tombstones visible, postings clean — the live
    // delta reads 0 and the census must come out exact, not doubly cut
    Seq(2L).toDF("doc_id").write.parquet(s"$dir/inv/tombstones")
    assert(vocabRows(idx) === expectedVocab(survivors),
      "an already-vacuumed tombstone set must be a census no-op")
    idx.vacuum()
    assert(vocabRows(idx) === expectedVocab(survivors))
  }

  test("append is atomic: marker rolls the staged batch forward, no marker discards it") {
    val dir = Files.createTempDirectory("graft_inv_atomic").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    idx.build(docsA, "doc_id", col("text"))
    val before = phrase(idx, Seq("sort", "merge"))
    val fs = fsOf(idx)
    // an uncommitted batch (the crash hit before the commit): reads
    // answer unchanged and leave it alone
    LayoutFs.batch(fs, rootOf(idx)).add("doclens")(d =>
      Seq((99L, 1L)).toDF("doc_id", "dl").write.parquet(d.toString))
    assert(phrase(idx, Seq("sort", "merge")) === before)
    assert(idx.appendedIds.filter(col("doc_id") === 99L).count() === 0)
    assert(hasBatch(idx) === ((true, false)), "a read never deletes a writer's staging")
    // the next batch discards it, then stages docsB's layout (a sibling
    // index with the same bucket count) as an append's moves and commits
    // without publishing: the crash right after the commit point
    val batch = LayoutFs.batch(fs, rootOf(idx))
    assert(!new java.io.File(s"$dir/inv/.commit/doclens").exists(),
      "the next mutation discards the uncommitted batch")
    val tmp = new InvertedIndex(spark, s"$dir/stage_src", buckets = 8)
    tmp.build(docsB, "doc_id", col("text"))
    batch.add("postings")(stageDir(fs, s"$dir/stage_src/postings"))
    batch.add("census/base")(stageDir(fs, s"$dir/stage_src/census/base"))
    batch.add("doclens")(stageDir(fs, s"$dir/stage_src/doclens"))
    assert(batch.markCommitted())
    // the next read rolls the batch forward: docsB fully visible
    val full = new InvertedIndex(spark, s"$dir/full", buckets = 8)
    full.build(docsA.union(docsB), "doc_id", col("text"))
    assert(phrase(idx, Seq("sort", "merge")) === phrase(full, Seq("sort", "merge")))
    assert(vocabRows(idx) === vocabRows(full),
      "the staged census rows must commit with the batch")
    assert(hasBatch(idx) === ((false, false)))
  }

  test("delete casts ids to the stored id type (no mixed tombstone schemas)") {
    val dir = Files.createTempDirectory("graft_inv_idtype").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    idx.build(docsA.union(docsB), "doc_id", col("text"))
    idx.delete(Seq(2).toDF("doc_id")) // IntegerType frame
    idx.delete(Seq(4L).toDF("doc_id")) // LongType frame
    val ts = spark.read.parquet(s"$dir/inv/tombstones")
    assert(ts.schema("doc_id").dataType ===
      org.apache.spark.sql.types.LongType,
      "tombstones must carry ONE schema — the stored doclens id type")
    val ref = new InvertedIndex(spark, s"$dir/want", buckets = 8)
    ref.build(docsA.union(docsB).filter(!col("doc_id").isin(2L, 4L)),
      "doc_id", col("text"))
    assert(phrase(idx, Seq("sort", "merge")) === phrase(ref, Seq("sort", "merge")))
  }

  test("qlTopK: candidate restriction, OOV-term skip, deterministic order") {
    val dir = Files.createTempDirectory("graft_inv_ql").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    idx.build(docsA.union(docsB), "doc_id", col("text"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val base = rows(idx.qlTopK(Seq("sort", "merge"), k = 10))
    // only docs containing at least one query term rank
    assert(base.map(_._1).toSet === Set(1L, 2L, 4L))
    // scores are a total order (desc), well-defined and negative (log-probs)
    assert(base.map(_._2) === base.map(_._2).sorted.reverse)
    assert(base.forall(_._2 < 0.0))
    // an out-of-corpus term carries no information: identical ranking
    assert(rows(idx.qlTopK(Seq("sort", "merge", "zzz"), k = 10)) === base)
    // docs 2 and 4 have identical (tf, dl): equal scores, id tiebreak
    val byId = base.toMap
    assert(byId(2L) === byId(4L))
    assert(base.indexWhere(_._1 == 2L) < base.indexWhere(_._1 == 4L))
    intercept[IllegalArgumentException](idx.qlTopK(Seq("sort"), k = 0))
    intercept[IllegalArgumentException](idx.qlTopK(Seq("sort"), k = 5, mu = 0.0))
    intercept[IllegalArgumentException](idx.qlTopK(Nil, k = 5))
  }

  test("bm25Batch: per-query parity with the single-query path; msm gate; contract checks") {
    val dir = Files.createTempDirectory("graft_inv_batch").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    idx.build(docsA.union(docsB), "doc_id", col("text"))
    val queries = Seq(
      ("qa", "sort"), ("qa", "merge"),
      ("qb", "strategy"), ("qb", "merge"), ("qb", "merge"), // dup dropped
      ("qc", "zzz")).toDF("query_id", "term")
    val batch = idx.bm25Batch(queries, k = 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    // each query's rows equal its single-query ranking (score parity)
    for ((qid, ts) <- Seq("qa" -> Seq("sort", "merge"),
        "qb" -> Seq("strategy", "merge"))) {
      val single = idx.bm25(ts, k = 10).collect()
        .map(r => (r.getLong(0), r.getDouble(2))).toSeq
      val got = batch.filter(_._1 == qid).sortBy(_._4).map(t => (t._2, t._3)).toSeq
      assert(got === single, s"batch diverged from single-query bm25 for $qid")
    }
    assert(!batch.exists(_._1 == "qc"), "a no-match query emits no rows")
    // msm = 2: only docs matching both of qa's terms survive
    val strict = idx.bm25Batch(queries.filter(col("query_id") === "qa"),
      k = 10, msm = 2).collect().map(_.getLong(1)).toSet
    val or = batch.filter(_._1 == "qa").map(_._2).toSet
    assert(strict.subsetOf(or) && strict === Set(1L, 2L, 4L))
    intercept[IllegalArgumentException](
      idx.bm25Batch(queries.toDF("a", "b"), 5))
    intercept[IllegalArgumentException](idx.bm25Batch(queries, 0))
  }

  test("bm25Page: chained pages walk the full ranking exactly; per-page heap, no offset discard") {
    val dir = Files.createTempDirectory("graft_inv_page").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    idx.build(docsA.union(docsB), "doc_id", col("text"))
    val terms = Seq("sort", "merge", "strategy")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val full = rows(idx.bm25Page(terms, 100)) // covers every scored doc
    assert(full.size >= 3, "fixture must rank at least three docs")
    // chain pages of 1 and re-assemble the exact full order
    val chained = full.indices.foldLeft(
        (Seq.empty[(Long, Long, Double)], Option.empty[(Double, Long)])) {
      case ((acc, cursor), _) =>
        val page = rows(idx.bm25Page(terms, 1, cursor))
        (acc ++ page, page.lastOption.map(p => (p._3, p._1)))
    }._1
    assert(chained === full,
      "chained keyset pages must equal the one-shot ranking")
    // past the end: an empty page, not an error
    val lastCursor = Some((full.last._3, full.last._1))
    assert(rows(idx.bm25Page(terms, 5, lastCursor)) === Seq())
    // the per-page plan is a bounded heap, not a global sort
    val plan = idx.bm25Page(terms, 1, Some((full.head._3, full.head._1)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"page must compile to a top-n heap:\n$plan")
  }

  test("maintain: below thresholds = no-op report; crossed thresholds act and report") {
    val dir = Files.createTempDirectory("graft_inv_maint").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 4)
    idx.build(docsA, "doc_id", col("text"))
    idx.append(docsB, "doc_id", col("text"))
    idx.delete(Seq(1L).toDF("doc_id")) // 1/5 of docs tombstoned
    def report(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getBoolean(3))).toMap
    // thresholds not crossed: report says so and NOTHING moves
    val calm = report(idx.maintain(maxFilesPerBucket = 100,
      maxTombstoneFrac = 0.5))
    assert(!calm("vacuum")._3 && !calm("compact")._3)
    assert(calm("vacuum")._1 === 0.2)
    assert(new java.io.File(s"$dir/inv/tombstones").exists(),
      "a no-op maintain must not vacuum")
    assert(idx.fileStats().agg(max(col("n_files"))).head().getInt(0) > 1,
      "a no-op maintain must not compact")
    // crossed: both act, answers stay bit-identical to pre-maintenance
    val before = phrase(idx, Seq("sort", "merge"))
    val busy = report(idx.maintain(maxFilesPerBucket = 1,
      maxTombstoneFrac = 0.1))
    assert(busy("vacuum")._3 && busy("compact")._3)
    assert(!new java.io.File(s"$dir/inv/tombstones").exists())
    assert(idx.fileStats().collect().forall(_.getInt(1) == 1))
    assert(phrase(idx, Seq("sort", "merge")) === before)
    intercept[IllegalArgumentException](idx.maintain(maxFilesPerBucket = 0))
    intercept[IllegalArgumentException](idx.maintain(maxTombstoneFrac = 0.0))
  }

  test("hot-term policy: default is plan-identical; a hot term elides before postings I/O") {
    val dir = Files.createTempDirectory("graft_inv_hot").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    idx.build(docsA, "doc_id", col("text")) // 'sort' df=2/3, 'merge' 2/3, 'bubble' 1/3
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // default (1.0): bit-identical to the unpoliced path
    assert(hits(idx.bm25(Seq("sort", "bubble"), k = 10, maxDfFrac = 1.0)) ==
      hits(idx.bm25(Seq("sort", "bubble"), k = 10)))
    // frac 0.5: 'sort' (df 2/3) elides, ranking equals bubble-only
    assert(hits(idx.bm25(Seq("sort", "bubble"), k = 10, maxDfFrac = 0.5)) ==
      hits(idx.bm25(Seq("bubble"), k = 10)))
    // the elided term's bucket is NOT in the pruned scan set
    val plan = idx.bm25(Seq("sort", "bubble"), k = 10, maxDfFrac = 0.5)
      .queryExecution.executedPlan
    val scanned = plan.collect { case f: FileSourceScanExec => f }
      .flatMap(_.partitionFilters.map(_.toString)).mkString(" ")
    val sortBucket = idx.bucketOf("sort", 8)
    val bubbleBucket = idx.bucketOf("bubble", 8)
    if (sortBucket != bubbleBucket)
      assert(!scanned.contains(s"[$sortBucket]") ||
        scanned.contains(s"$bubbleBucket"),
        s"pruned set should not include the hot term's bucket: $scanned")
    // all terms hot -> empty frame, bm25 schema preserved
    val empty = idx.bm25(Seq("sort", "merge"), k = 10, maxDfFrac = 0.1)
    assert(empty.columns.toSeq == Seq("doc_id", "dl", "score"))
    assert(empty.isEmpty)
    // msm clamps to the survivor count instead of failing
    assert(hits(idx.bm25(Seq("sort", "bubble"), k = 10, msm = 2,
      maxDfFrac = 0.5)) == hits(idx.bm25(Seq("bubble"), k = 10)))
    // the BATCH path mirrors the clamp per query: a query whose hot
    // term elided gates on least(msm, survivors), not the raw msm
    val bq = Seq(("qx", "sort"), ("qx", "bubble")).toDF("query_id", "term")
    val bt = idx.bm25Batch(bq, k = 10, msm = 2, maxDfFrac = 0.5).collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toSet
    assert(bt == hits(idx.bm25(Seq("bubble"), k = 10))
      .map(t => (t._1, t._3)).toSet,
      "batch msm must clamp to each query's surviving term count")
    // booleanSearch: hot must-term drops from the clause; survivors rule
    val b1 = idx.booleanSearch(Seq("sort", "bubble"), maxDfFrac = 0.5)
      .collect().map(_.getLong(0)).toSeq.sorted
    val b2 = idx.booleanSearch(Seq("bubble"))
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(b1 == b2)
    // all clauses hot -> empty with the (doc_id, n_should) schema
    val be = idx.booleanSearch(Seq("sort"), Seq("merge"), maxDfFrac = 0.1)
    assert(be.columns.toSeq == Seq("doc_id", "n_should") && be.isEmpty)
    // proximity: a hot term answers empty rather than scanning its bucket
    assert(idx.proximitySearch("sort", "merge", 4, maxDfFrac = 0.1).isEmpty)
    assert(idx.proximitySearch("sort", "merge", 4).count() ==
      graft.operators.TextAnalysis.proximityMatch(
        idx.termPostings(Seq("sort", "merge")), "sort", "merge", 4).count())
  }

  test("qlBatch: per-query parity with qlTopK; OOV term contributes nothing") {
    val dir = Files.createTempDirectory("graft_inv_qlb").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    idx.build(docsA.union(docsB), "doc_id", col("text"))
    val queries = Seq(
      ("qa", "sort"), ("qa", "merge"),
      ("qb", "bubble"), ("qb", "zzznope")).toDF("query_id", "term")
    val got = idx.qlBatch(queries, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSeq.sortBy(x => (x._1, x._4))
    def single(terms: Seq[String], qid: String) =
      idx.qlTopK(terms, k = 10).collect().zipWithIndex
        .map { case (r, i) => (qid, r.getLong(0), r.getDouble(2), i + 1) }.toSeq
    val want = (single(Seq("sort", "merge"), "qa") ++
      single(Seq("bubble", "zzznope"), "qb")).sortBy(x => (x._1, x._4))
    // scores: batch sums DECIMAL-exact over round-6 partials, single
    // sums doubles in term order — equal to 1e-6 by construction, and
    // on this fixture exactly equal
    assert(got.map(x => (x._1, x._2, x._4)) == want.map(x => (x._1, x._2, x._4)),
      s"rank order diverged:\n$got\nvs\n$want")
    got.zip(want).foreach { case (g, w) =>
      assert(math.abs(g._3 - w._3) <= 1e-6, s"score diverged: $g vs $w") }
  }

  test("QL hot-term policy: default plan-identical; elided terms skip like OOV on both paths") {
    val dir = Files.createTempDirectory("graft_inv_qlhot").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    idx.build(docsA, "doc_id", col("text")) // 'sort' df 2/3, 'bubble' 1/3
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    // default (1.0): bit-identical to the unpoliced path
    assert(hits(idx.qlTopK(Seq("sort", "bubble"), k = 10, maxDfFrac = 1.0)) ==
      hits(idx.qlTopK(Seq("sort", "bubble"), k = 10)))
    // frac 0.5: 'sort' elides — candidates AND partials equal bubble-only
    assert(hits(idx.qlTopK(Seq("sort", "bubble"), k = 10, maxDfFrac = 0.5)) ==
      hits(idx.qlTopK(Seq("bubble"), k = 10)))
    // all terms hot -> typed empty frame
    val empty = idx.qlTopK(Seq("sort", "merge"), k = 10, maxDfFrac = 0.1)
    assert(empty.columns.toSeq == Seq("doc_id", "dl", "score") && empty.isEmpty)
    // the elided term's bucket is not read
    val plan = idx.qlTopK(Seq("sort", "bubble"), k = 10, maxDfFrac = 0.5)
      .queryExecution.executedPlan
    val scanned = plan.collect { case f: FileSourceScanExec => f }
      .flatMap(_.partitionFilters.map(_.toString)).mkString(" ")
    val sortBucket = idx.bucketOf("sort", 8)
    val bubbleBucket = idx.bucketOf("bubble", 8)
    if (sortBucket != bubbleBucket)
      assert(!scanned.contains(s"[$sortBucket]") ||
        scanned.contains(s"$bubbleBucket"),
        s"pruned set should not include the hot term's bucket: $scanned")
    // batch parity: the elision decision is per index, so a batch query
    // with the hot term ranks exactly like the policed single path
    val bq = Seq(("qx", "sort"), ("qx", "bubble")).toDF("query_id", "term")
    val bt = idx.qlBatch(bq, k = 10, maxDfFrac = 0.5).collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toSet
    assert(bt == hits(idx.qlTopK(Seq("bubble"), k = 10)).toSet)
    // an all-hot batch -> typed empty frame
    val bempty = idx.qlBatch(bq, k = 10, maxDfFrac = 0.1)
    assert(bempty.columns.toSeq ==
      Seq("query_id", "doc_id", "score", "rank") && bempty.isEmpty)
  }

  test("significantText: re-tokenized foreground, census background, ≡ significantTerms (X270)") {
    val dir = Files.createTempDirectory("graft_inv_sigtext").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    val docs = docsA.union(docsB)
    idx.build(docs, "doc_id", col("text"))
    idx.buildForward()
    val fgIds = docs.filter(col("text").contains("bubble"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq.sorted
    val hits = docs.filter(col("doc_id").isin(fgIds: _*))
    val got = idx.significantText(hits, "doc_id", col("text"), n = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    // the forward-sidecar path over the same foreground is the pinned
    // reference: same tokenizer, same census background, same JLH
    val want = idx.significantTerms(fgIds, n = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got === want, s"re-tokenized fg diverged from sidecar fg")
    assert(got.nonEmpty && got.forall(_._4 > 0.0))
    // duplicate hit rows collapse before counting
    assert(idx.significantText(hits.union(hits), "doc_id", col("text"),
      n = 10).collect().map(_.getString(0)).toSeq === got.map(_._1))
    // empty foreground -> typed empty
    val e = idx.significantText(hits.limit(0), "doc_id", col("text"), n = 5)
    assert(e.columns.toSeq == Seq("term", "df_fg", "df_bg", "score") &&
      e.isEmpty)
    intercept[IllegalArgumentException](
      idx.significantText(hits, "doc_id", col("text"), n = 0))
  }

  test("booleanSearchBatch: per-query parity with booleanSearch; contract checks") {
    val dir = Files.createTempDirectory("graft_inv_blb").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    idx.build(docsA.union(docsB), "doc_id", col("text"))
    val clauses = Seq(
      ("qa", "sort", "must"), ("qa", "merge", "should"),
      ("qa", "bubble", "must_not"),
      ("qb", "merge", "must"), ("qb", "sort", "must")).toDF(
      "query_id", "term", "clause")
    val got = idx.booleanSearchBatch(clauses)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val wa = idx.booleanSearch(Seq("sort"), Seq("merge"), Seq("bubble"))
      .collect().map(r => ("qa", r.getLong(0), r.getLong(1))).toSet
    val wb = idx.booleanSearch(Seq("merge", "sort"))
      .collect().map(r => ("qb", r.getLong(0), r.getLong(1))).toSet
    assert(got == (wa ++ wb))
    // contract surfaces at the batch level
    intercept[IllegalArgumentException](idx.booleanSearchBatch(
      Seq(("q", "sort", "nope")).toDF("query_id", "term", "clause")))
    intercept[IllegalArgumentException](idx.booleanSearchBatch(
      Seq(("q", "sort", "must_not")).toDF("query_id", "term", "clause")))
    intercept[IllegalArgumentException](idx.booleanSearchBatch(
      Seq(("q", "sort", "must"), ("q", "sort", "should"))
        .toDF("query_id", "term", "clause")))
    intercept[IllegalArgumentException](idx.booleanSearchBatch(
      Seq(("q", "", "must")).toDF("query_id", "term", "clause")))
  }

  test("static pruning: bounded lists, original stats, returned scores exact (X204)") {
    val dir = Files.createTempDirectory("graft_inv_prune").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    idx.build(docsA.union(docsB), "doc_id", col("text"))
    // bm25CensusDf on an UNPRUNED index is bit-identical to bm25
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows(idx.bm25CensusDf(Seq("sort", "merge"), k = 10)) ==
      rows(idx.bm25(Seq("sort", "merge"), k = 10)),
      "census-df scoring must equal recounted-df scoring on a full index")
    // keep=1: every term's list shrinks to its single highest-tf doc
    val pruned = idx.prunedCopy(s"$dir/pruned", keepPerTerm = 1)
    val perTerm = spark.read.parquet(s"$dir/pruned/postings")
      .select(col("term"), col("doc_id")).distinct()
      .groupBy(col("term")).count().collect()
    assert(perTerm.nonEmpty && perTerm.forall(_.getLong(1) <= 1L),
      "a pruned term list must hold at most keepPerTerm docs")
    // 'sort': tf=2 in doc 1, tf=1 in docs 2 and 4 -> doc 1 survives
    assert(spark.read.parquet(s"$dir/pruned/postings")
      .filter(col("term") === "sort").select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    // full doclens and original census ride along
    assert(spark.read.parquet(s"$dir/pruned/doclens").count() == 5L)
    assert(rows(pruned.bm25CensusDf(Seq("sort"), k = 1)).nonEmpty)
    // batch shape: censusDf=true on a FULL index equals the default
    // (df recount == census df there), and works over the pruned copy
    val queries = Seq(("qa", "sort"), ("qa", "merge")).toDF("query_id", "term")
    def brows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    assert(brows(idx.bm25Batch(queries, k = 10, censusDf = true)) ==
      brows(idx.bm25Batch(queries, k = 10)),
      "census-df batch scoring must equal recounted-df on a full index")
    assert(pruned.bm25Batch(queries, k = 10, censusDf = true).count() > 0)
    // exactness: every doc the pruned serve returns carries its EXACT
    // full-index score (the Carmel guarantee — only low-impact hits
    // can go missing, scores never move)
    val full = rows(idx.bm25(Seq("sort", "merge"), k = 10))
      .map { case (id, _, s) => id -> s }.toMap
    val approx = rows(pruned.bm25CensusDf(Seq("sort", "merge"), k = 10))
    // doc 1 survived 'sort'-pruning but not 'merge' (tf 1 everywhere,
    // doc 2 wins the tie) — its pruned score counts only the sort leg,
    // so compare only docs whose per-term survival is total
    val sortSurv = Set(1L)
    val mergeSurv = Set(2L)
    approx.foreach { case (id, _, s) =>
      val expect =
        if (sortSurv(id) && mergeSurv(id)) Some(full(id)) else None
      expect.foreach(e => assert(s == e, s"score moved for doc $id"))
    }
    assert(approx.nonEmpty)
    intercept[IllegalArgumentException](idx.prunedCopy(s"$dir/bad", 0))
  }

  test("forward sidecar + more-like-this: doc-major pruned fetch, seed excluded (X206)") {
    val dir = Files.createTempDirectory("graft_inv_fwd").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    idx.build(docsA.union(docsB), "doc_id", col("text"))
    idx.buildForward()
    // term vector = the doc's (term, tf) rows, pruned to its dbucket
    val tv = idx.docTerms(Seq(1L)).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(tv == Map("merge" -> 1L, "sort" -> 2L, "beats" -> 1L, "bubble" -> 1L))
    val plan = idx.docTerms(Seq(1L)).queryExecution.executedPlan
    val scanned = plan.collect {
      case f: FileSourceScanExec => f.metadata("PartitionFilters") }
    assert(scanned.exists(_.contains("dbucket")),
      "doc fetch must prune on the forward bucket")
    // MLT: seed excluded, results are docs sharing distinctive terms
    val mlt = idx.moreLikeThis(1L, k = 5)
      .collect().map(_.getLong(0)).toSeq
    assert(!mlt.contains(1L), "the seed doc must not rank")
    assert(mlt.contains(2L) && mlt.contains(4L),
      s"sort/merge-sharing docs should rank: $mlt")
    // unrelated doc 3/5 share no seed terms -> absent
    assert(!mlt.contains(3L) && !mlt.contains(5L))
    intercept[IllegalArgumentException](idx.docTerms(Nil))
    intercept[IllegalArgumentException](idx.moreLikeThis(1L, k = 0))
    // multi-seed MLT (X244): singleton ≡ the single-seed path; with
    // BOTH seeds every seed is excluded and shared-term docs rank
    assert(idx.moreLikeThese(Seq(1L), k = 5).collect().toSeq ===
      idx.moreLikeThis(1L, k = 5).collect().toSeq,
      "single-seed must be the singleton case of the multi-seed path")
    val multi = idx.moreLikeThese(Seq(1L, 2L), k = 5)
      .collect().map(_.getLong(0)).toSeq
    assert(!multi.contains(1L) && !multi.contains(2L),
      "every seed must be excluded")
    assert(multi.contains(4L), s"the sort/merge doc should rank: $multi")
    intercept[IllegalArgumentException](idx.moreLikeThese(Nil, 5))
    intercept[IllegalArgumentException](idx.moreLikeThese(Seq(1L, 1L), 5))
  }

  test("PRF expansion: new terms only, fbTerms=0 degenerates to plain bm25 (X207)") {
    val dir = Files.createTempDirectory("graft_inv_prf").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    idx.build(docsA.union(docsB), "doc_id", col("text"))
    idx.buildForward()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    // fbTerms=0: bit-identical to the unexpanded query
    assert(rows(idx.expandedBm25(Seq("sort", "merge"), k = 10, fbTerms = 0)) ==
      rows(idx.bm25(Seq("sort", "merge"), k = 10)))
    // expansion surfaces docs the original query missed: 'bubble' rides
    // along from feedback doc 1 and doc 5 stays absent (shares nothing)
    val expanded = idx.expandedBm25(Seq("sort"), k = 10,
      fbDocs = 1, fbTerms = 8)
    val ids = expanded.collect().map(_.getLong(0)).toSet
    assert(!ids.contains(5L), "an unrelated doc must not appear")
    // doc 1 is the top hit for 'sort' (tf 2), so its terms expand the
    // query; docs 2 and 4 rank via their shared terms
    assert(ids.contains(1L) && ids.contains(2L) && ids.contains(4L))
    intercept[IllegalArgumentException](
      idx.expandedBm25(Seq("sort"), k = 0))
    intercept[IllegalArgumentException](
      idx.expandedBm25(Seq("sort"), k = 5, fbDocs = 0))
  }

  test("significantTerms served: forward df_fg + census df_bg ≡ tokenize JLH; no postings read (X227)") {
    val dir = Files.createTempDirectory("graft_inv_sig").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    val all = docsA.union(docsB)
    idx.build(all, "doc_id", col("text"))
    val noForward = intercept[IllegalArgumentException](
      idx.significantTerms(Seq(1L), 5))
    assert(noForward.getMessage.contains("buildForward"))
    idx.buildForward()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val fg = Seq(1L, 2L)
    val want = rows(TextAnalysis.significantTerms(all, "doc_id",
      col("text"), col("doc_id").isin(fg: _*), n = 10))
    val served = idx.significantTerms(fg, n = 10)
    assert(rows(served) === want,
      "served JLH must reproduce the tokenize path on a no-empty-doc corpus")
    // plan audit: the served frame reads the forward sidecar + census
    // only — never the postings layout, never text
    val roots = served.queryExecution.sparkPlan
      .collect { case s: FileSourceScanExec => s }
      .flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(roots.nonEmpty)
    assert(roots.forall(p => p.contains("/forward") || p.contains("/census")),
      s"unexpected scan in the served plan: $roots")
    // minDf gates foreground flukes exactly as the tokenize path
    assert(rows(idx.significantTerms(fg, n = 10, minDf = 2L)) ===
      rows(TextAnalysis.significantTerms(all, "doc_id", col("text"),
        col("doc_id").isin(fg: _*), n = 10, minDf = 2L)))
    // a foreground id set with no live member ranks nothing
    assert(idx.significantTerms(Seq(999L), n = 5).count() === 0L)
    intercept[IllegalArgumentException](idx.significantTerms(Nil, 5))
    intercept[IllegalArgumentException](idx.significantTerms(Seq(1L), 0))
    intercept[IllegalArgumentException](idx.significantTerms(Seq(1L), 5, 0L))
  }

  test("phraseSearch: rarest-first plan, bit-identical to phraseMatch (X209)") {
    val dir = Files.createTempDirectory("graft_inv_pp").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    idx.build(docsA.union(docsB), "doc_id", col("text"))
    def viaPlain(p: Seq[String]) =
      TextAnalysis.phraseMatch(idx.termPostings(p.distinct), p)
        .orderBy(col("doc_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    def viaPlanned(p: Seq[String]) =
      idx.phraseSearch(p).orderBy(col("doc_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // including a phrase whose FIRST word is the common one (the case
    // the reordering exists for) and a repeated-term phrase
    for (p <- Seq(Seq("sort", "merge"), Seq("merge", "sort"),
        Seq("sort", "merge", "join"), Seq("another", "sort"),
        Seq("sort", "merge", "document")))
      assert(viaPlanned(p) == viaPlain(p), s"plan reorder changed '$p'")
    // a corpus-absent term empties the anchor and the result
    assert(idx.phraseSearch(Seq("sort", "zzznope")).isEmpty)
    intercept[IllegalArgumentException](idx.phraseSearch(Nil))
    intercept[IllegalArgumentException](idx.phraseSearch(Seq("a", "")))
  }

  test("booleanSearch surfaces the clause contract, not a postings-slice error") {
    val dir = Files.createTempDirectory("graft_inv_boolval").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    idx.build(docsA, "doc_id", col("text"))
    // mustNot-only input: the clause-level message, not termPostings'
    // generic 'need at least one term'
    val e1 = intercept[IllegalArgumentException](
      idx.booleanSearch(Nil, Nil, Seq("sort")))
    assert(e1.getMessage.contains("must or should"))
    // an empty-string term: the clause-level message, not the slice's
    val e2 = intercept[IllegalArgumentException](
      idx.booleanSearch(Seq("sort", "")))
    assert(e2.getMessage.contains("empty term"))
    // cross-clause duplicate
    val e3 = intercept[IllegalArgumentException](
      idx.booleanSearch(Seq("sort"), Seq("sort")))
    assert(e3.getMessage.contains("two clauses"))
  }

  test("block-max MaxScore: bit-identical to bm25, fewer shuffled rows on a skewed query (X211)") {
    val dir = Files.createTempDirectory("graft_inv_bmx").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    // skewed fixture: 'the' in 397/400 docs (stop-class), 'quokka' in 3
    val docs = (1L to 400L).map { i =>
      val base = "the alpha beta " + ("the " * (i % 3).toInt)
      (i, if (i % 133 == 0) s"quokka $base" else base)
    }.toDF("doc_id", "text")
    idx.build(docs, "doc_id", col("text"))
    idx.buildBlockMax()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    def shuffled(body: => Unit): Long = {
      import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
      val acc = new java.util.concurrent.atomic.AtomicLong
      val l = new SparkListener {
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null)
            acc.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
      }
      spark.sparkContext.addSparkListener(l)
      try { body; Thread.sleep(1500) }
      finally spark.sparkContext.removeSparkListener(l)
      acc.get
    }
    // parity across query shapes: skewed mix, all-hot, rare-only,
    // absent term, k larger than the match set
    for ((terms, k) <- Seq(
        (Seq("quokka", "the"), 2), (Seq("the", "alpha"), 5),
        (Seq("quokka"), 3), (Seq("quokka", "zzz"), 2),
        (Seq("quokka", "beta", "the"), 2))) {
      assert(rows(idx.bm25MaxScore(terms, k)) === rows(idx.bm25(terms, k)),
        s"MaxScore diverged from bm25 on $terms k=$k")
    }
    // the cut must actually engage on the skewed query: the per-doc
    // scoring work (shuffled rows) collapses to the candidate set
    // instead of every doc matching 'the'
    val plain = shuffled(idx.bm25(Seq("quokka", "the"), 2).collect())
    val cut = shuffled(idx.bm25MaxScore(Seq("quokka", "the"), 2).collect())
    assert(cut < plain / 2,
      s"MaxScore should shuffle far fewer rows, got $cut vs $plain")
    // append keeps bounds sound (batch rows land before the commit)
    idx.append(Seq((401L, "quokka quokka quokka the")).toDF("doc_id", "text"),
      "doc_id", col("text"))
    assert(rows(idx.bm25MaxScore(Seq("quokka", "the"), 3)) ===
      rows(idx.bm25(Seq("quokka", "the"), 3)),
      "post-append MaxScore must still match (new max-tf doc covered)")
    // vacuum leaves bounds loose but valid
    idx.delete(Seq(401L).toDF("doc_id")); idx.vacuum()
    assert(rows(idx.bm25MaxScore(Seq("quokka", "the"), 2)) ===
      rows(idx.bm25(Seq("quokka", "the"), 2)))
    // a FRESH build drops the sidecar (old bounds would be unsound);
    // the serve falls back to plain bm25 and stays correct
    idx.build(docs.limit(50), "doc_id", col("text"))
    assert(rows(idx.bm25MaxScore(Seq("the", "alpha"), 4)) ===
      rows(idx.bm25(Seq("the", "alpha"), 4)))
  }

  test("phrasePrefixSearch: adjacency + census-ranked expansion; empty-phrase degenerates (X240)") {
    val dir = Files.createTempDirectory("graft_inv_ppfx").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    idx.build(docsA.union(docsB), "doc_id", col("text"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("doc_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // 'sort' followed by a 'mer'-prefixed token: docs 2 and 4 only
    // (doc 1 has 'merge sort', the wrong order)
    assert(rows(idx.phrasePrefixSearch(Seq("sort"), "mer")) ===
      Seq((2L, 1L), (4L, 1L)))
    // empty fixed phrase = pure prefix membership count
    assert(rows(idx.phrasePrefixSearch(Nil, "mer")) ===
      Seq((1L, 1L), (2L, 1L), (4L, 1L)))
    // an expansion-less prefix matches nothing
    assert(idx.phrasePrefixSearch(Seq("sort"), "zzz").count() === 0L)
    // maxExpansions = 1 keeps only the highest-df expansion
    assert(rows(idx.phrasePrefixSearch(Nil, "s", maxExpansions = 1))
      .nonEmpty)
    intercept[IllegalArgumentException](
      idx.phrasePrefixSearch(Seq(""), "mer"))
    intercept[IllegalArgumentException](
      idx.phrasePrefixSearch(Seq("sort"), ""))
    intercept[IllegalArgumentException](
      idx.phrasePrefixSearch(Seq("sort"), "mer", 0))
  }

  test("mergeFrom: merge ≡ build(union); source untouched; contracts enforced (X238)") {
    val dir = Files.createTempDirectory("graft_inv_merge").toString
    val a = new InvertedIndex(spark, s"$dir/a", buckets = 8)
    val b = new InvertedIndex(spark, s"$dir/b", buckets = 8)
    a.build(docsA, "doc_id", col("text"))
    b.build(docsB, "doc_id", col("text"))
    a.mergeFrom(b)
    val full = new InvertedIndex(spark, s"$dir/full", buckets = 8)
    full.build(docsA.union(docsB), "doc_id", col("text"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows(a.bm25(Seq("sort", "merge"), 10)) ===
      rows(full.bm25(Seq("sort", "merge"), 10)))
    assert(phrase(a, Seq("sort", "merge")) === phrase(full, Seq("sort", "merge")))
    assert(a.vocab().orderBy(col("term")).collect().toSeq ===
      full.vocab().orderBy(col("term")).collect().toSeq,
      "the adopted census rows must sum with the stored ones")
    // the source stays fully intact (non-destructive merge)
    assert(rows(b.bm25(Seq("sort", "merge"), 10)).nonEmpty)
    assert(b.vocab().count() > 0)
    // this side's tombstones stay in force across the merge
    val c = new InvertedIndex(spark, s"$dir/c", buckets = 8)
    c.build(docsA, "doc_id", col("text"))
    c.delete(Seq(1L).toDF("doc_id"))
    c.mergeFrom(b)
    val liveUnion = docsA.filter(col("doc_id") =!= 1L).union(docsB)
    val fullC = new InvertedIndex(spark, s"$dir/fullc", buckets = 8)
    fullC.build(liveUnion, "doc_id", col("text"))
    assert(rows(c.bm25(Seq("sort", "merge"), 10)) ===
      rows(fullC.bm25(Seq("sort", "merge"), 10)))
    // a source with pending tombstones is rejected (vacuum it first)
    val dSrc = new InvertedIndex(spark, s"$dir/d", buckets = 8)
    dSrc.build(docsB, "doc_id", col("text"))
    dSrc.delete(Seq(4L).toDF("doc_id"))
    val err = intercept[IllegalArgumentException](a.mergeFrom(dSrc))
    assert(err.getMessage.contains("vacuum"))
    // bucket-count mismatch is a rebuild, not a merge
    val e = new InvertedIndex(spark, s"$dir/e", buckets = 4)
    e.build(docsB, "doc_id", col("text"))
    intercept[IllegalArgumentException](a.mergeFrom(e))
  }

  test("maintainDerived: stale sidecars rebuild, fresh ones don't, absent ones report (X235)") {
    val dir = Files.createTempDirectory("graft_inv_mder").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    idx.build(docsA, "doc_id", col("text"))
    idx.buildForward()
    idx.buildFielded(headLen = 2)
    def report() = idx.maintainDerived(maxStaleFrac = 0.1)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getBoolean(5)))).toMap
    // fresh artifacts: zero drift, nothing acts; blockmax absent
    val fresh = report()
    assert(fresh("forward") === ((3L, false)))
    assert(fresh("fielded") === ((3L, false)))
    assert(fresh("blockmax") === ((-1L, false)))
    // append 2 docs: 2/3 drift > 0.1 -> forward + fielded rebuild and
    // the fielded serve covers the appended docs again
    idx.append(docsB, "doc_id", col("text"))
    val acted = report()
    assert(acted("forward")._2 && acted("fielded")._2)
    assert(acted("blockmax") === ((-1L, false)))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(rows(idx.bm25fTopK(Seq("sort", "merge"), k = 10)) ===
      rows(TextAnalysis.bm25fTopK(docsA.union(docsB), "doc_id",
        col("text"), headLen = 2, Seq("sort", "merge"), k = 10)),
      "the rebuilt fielded sidecar must cover the appended batch")
    // post-rebuild: drift zero again, second run is a no-op
    val settled = report()
    assert(!settled("forward")._2 && !settled("fielded")._2)
    assert(settled("forward")._1 === 5L)
    intercept[IllegalArgumentException](idx.maintainDerived(0.0))
  }

  test("maintainDerived delta path: append maintenance is O(delta) moves, parity with rebuild (X245)") {
    val dir = Files.createTempDirectory("graft_inv_delta").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    idx.build(docsA, "doc_id", col("text"))
    idx.buildForward(); idx.buildFielded(headLen = 2); idx.buildBlockMax()
    def dataFiles(sub: String): Set[String] = {
      val root = new java.io.File(s"$dir/inv/$sub")
      if (!root.exists) Set.empty
      else {
        val out = scala.collection.mutable.Set[String]()
        def walk(f: java.io.File): Unit =
          if (f.isDirectory) f.listFiles.foreach(walk)
          else if (!f.getName.startsWith("_") && !f.getName.startsWith("."))
            out += f.getPath
        walk(root); out.toSet
      }
    }
    val fwdBefore = dataFiles("forward")
    val fldBefore = dataFiles("fielded/postings")
    val bmfBefore = dataFiles("blockmax_files")
    assert(fwdBefore.nonEmpty && fldBefore.nonEmpty && bmfBefore.nonEmpty)
    idx.append(docsB, "doc_id", col("text"))
    val bmfAfterAppend = dataFiles("blockmax_files")
    assert(bmfBefore.subsetOf(bmfAfterAppend) &&
      bmfAfterAppend.size > bmfBefore.size,
      "append must stage exact file-grain rows additively")
    val report = idx.maintainDerivedVerbose(maxStaleFrac = 0.1)
      .collect().map(r => r.getString(0) -> ((r.getBoolean(5), r.getString(6))))
      .toMap
    assert(report.forall(_._2._1), s"every artifact must act: $report")
    // the verbose record must NAME the O(delta) mechanisms, and the
    // plain record is the same frame minus the mode column
    assert(report("forward")._2 === "delta_apply")
    assert(report("fielded")._2 === "delta_apply")
    assert(report("blockmax")._2 === "adopt")
    assert(!idx.maintainDerived(maxStaleFrac = 0.1).columns.contains("mode"))
    // O(delta) audit: every pre-append artifact file survives UNTOUCHED
    // (a rebuild would replace the whole set with fresh task files);
    // forward/fielded gain the delta's files, blockmax is adopted as-is
    // (meta refresh, zero data writes)
    assert(fwdBefore.subsetOf(dataFiles("forward")),
      "delta apply must add files, never rewrite the stored forward")
    assert(dataFiles("forward").size > fwdBefore.size)
    assert(fldBefore.subsetOf(dataFiles("fielded/postings")),
      "delta apply must add files, never rewrite the stored fielded")
    assert(dataFiles("blockmax_files") === bmfAfterAppend,
      "block-max adopt must not rewrite the file-grain sidecar")
    // pending deltas consumed
    assert(dataFiles("forward_delta").isEmpty &&
      dataFiles("fielded_delta").isEmpty)
    // parity: the delta-applied artifacts answer exactly like a fresh
    // full build over the union
    val full = new InvertedIndex(spark, s"$dir/full", buckets = 8)
    full.build(docsA.union(docsB), "doc_id", col("text"))
    full.buildForward(); full.buildFielded(headLen = 2); full.buildBlockMax()
    def fwdRows(i: InvertedIndex) = i.docTerms(Seq(1L, 4L)).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq.sortBy(t => (t._1, t._2))
    assert(fwdRows(idx) === fwdRows(full))
    def bmf(i: InvertedIndex) = i.bm25fTopK(Seq("sort", "merge"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
    assert(bmf(idx) === bmf(full))
    def bmx(i: InvertedIndex) = i.bm25MaxScore(Seq("sort", "merge"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(bmx(idx) === bmx(full))
    assert(bmx(idx) === idx.bm25(Seq("sort", "merge"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq,
      "adopted block-max bounds must keep MaxScore ≡ bm25")
    // a second maintenance pass settles to no-op
    val settled = idx.maintainDerived(maxStaleFrac = 0.1)
      .collect().map(r => r.getString(0) -> r.getBoolean(5)).toMap
    assert(settled.values.forall(_ == false))
  }

  test("maintainDerived delta path: vacuum invalidates pending deltas, rebuild takes over") {
    val dir = Files.createTempDirectory("graft_inv_delta_vac").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    idx.build(docsA, "doc_id", col("text"))
    idx.buildForward()
    idx.append(docsB, "doc_id", col("text")) // stages a forward delta
    idx.delete(Seq(1L).toDF("doc_id"))
    idx.vacuum() // removes doc 1 AND drops the pending delta
    val acted = idx.maintainDerived(maxStaleFrac = 0.1)
      .collect().map(r => r.getString(0) -> r.getBoolean(5)).toMap
    assert(acted("forward"), "post-vacuum drift must still act")
    // the rebuild path ran: the vacuumed doc is gone from the forward
    // sidecar, the appended docs are present
    val ids = idx.docTerms(Seq(1L, 2L, 4L)).select(col("doc_id"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(ids === Set(2L, 4L))
  }

  test("crashed delta apply rolls forward at the next entry (marker recovery)") {
    val dir = Files.createTempDirectory("graft_inv_delta_crash").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    idx.build(docsA, "doc_id", col("text"))
    idx.buildForward()
    idx.append(docsB, "doc_id", col("text"))
    // a crash right after the apply's commit point: the delta's moves,
    // the refreshed meta (5 live docs) and the delta's drop listed,
    // nothing published yet
    val fs = fsOf(idx)
    val batch = LayoutFs.batch(fs, rootOf(idx))
    batch.move("forward_delta", "forward")
    batch.stage("derived_meta/forward") { d =>
      val out = fs.create(new org.apache.hadoop.fs.Path(d, "built_n_docs.txt"), true)
      try out.write("5".getBytes("UTF-8")) finally out.close()
    }
    batch.drop("forward_delta")
    assert(batch.markCommitted())
    // ANY entry point recovers: the delta applies, the batch clears
    val ids = idx.docTerms(Seq(1L, 4L)).select(col("doc_id"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L, 4L), "rolled-forward delta must serve the appended doc")
    assert(hasBatch(idx) === ((false, false)), "the batch must clear on roll-forward")
    assert(!new java.io.File(s"$dir/inv/forward_delta").exists())
    // and the artifact is no longer stale: maintenance settles to no-op
    val settled = idx.maintainDerived(maxStaleFrac = 0.1)
      .collect().map(r => r.getString(0) -> r.getBoolean(5)).toMap
    assert(!settled("forward"))
  }

  test("match-only BM25: scored rows bounded by the tf side, results ≡ tokenize path") {
    val dir = Files.createTempDirectory("graft_inv_matchonly").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    idx.build(docsA.union(docsB), "doc_id", col("text"))
    val ranked = idx.bm25(Seq("sort", "merge"), k = 10)
    // the ES match-only contract: doclens joins the tf aggregate INNER,
    // so the scored mass is bounded by docs containing >= 1 query term —
    // no LeftOuter against doclens anywhere in the scoring plan
    val plan = ranked.queryExecution.optimizedPlan.toString
    assert(!plan.contains("LeftOuter"),
      s"match-only bm25 must not left-join the corpus doclens:\n$plan")
    // results are bit-identical to the all-docs tokenize path (score > 0
    // excluded non-matching docs there; corpus stats ride the broadcast
    // one-row frame here)
    val got = ranked.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val want = TextAnalysis.bm25TopK(docsA.union(docsB), "doc_id",
        col("text"), Seq("sort", "merge"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === want)
    // a doc matching no term explains to zero rows (the documented
    // match-only corollary); a matching doc still explains exactly
    assert(idx.explain(Seq("sort", "merge"), 3L).count() === 0L)
    assert(idx.explain(Seq("sort", "merge"), 2L).count() === 2L)
  }

  test("bm25FieldRanked: per-field serve ≡ tokenize path over the field slice (X252)") {
    val dir = Files.createTempDirectory("graft_inv_field").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    val all = docsA.union(docsB)
    idx.build(all, "doc_id", col("text"))
    idx.buildFielded(headLen = 2)
    def slice(head: Boolean) = all.collect().map { r =>
      val toks = r.getString(1).trim.split("\\s+").filter(_.nonEmpty)
      val f = if (head) toks.take(2) else toks.drop(2)
      (r.getLong(0), f.mkString(" "))
    }.toSeq.toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy(col("score").desc, col("doc_id").asc)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    for (head <- Seq(true, false)) {
      val got = rows(idx.bm25FieldRanked(
        if (head) "head" else "body", Seq("sort", "merge")))
      val want = rows(TextAnalysis.bm25TopK(slice(head), "doc_id",
        col("text"), Seq("sort", "merge"), k = 100))
      assert(got === want, s"head=$head: field serve must equal the " +
        "tokenize path over that field's slice with the field's own stats")
    }
    intercept[IllegalArgumentException](
      idx.bm25FieldRanked("title", Seq("sort")))
    intercept[IllegalArgumentException](idx.bm25FieldRanked("head", Nil))
  }

  test("regexpSearch: anchored expansion ≡ synonym group; unsafe prefixes read full vocab (X249)") {
    val dir = Files.createTempDirectory("graft_inv_rx").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    idx.build(docsA.union(docsB), "doc_id", col("text"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    // 'm[ae]rge' expands to exactly {merge}: identical to the synonym
    // group serve over the expansion
    assert(rows(idx.regexpSearch("m[ae]rge", k = 10)) ===
      rows(idx.bm25Synonyms(Seq(Seq("merge")), k = 10)))
    // 's.*' catches sort/strategy/spark-class terms; parity with the
    // explicit expansion under the same (df desc, term) cap
    val expanded = idx.vocab().filter(col("term").rlike("^s.*$"))
      .orderBy(col("df").desc, col("term").asc).limit(3)
      .collect().map(_.getString(0)).toSeq
    assert(rows(idx.regexpSearch("s.*", k = 10, maxExpansions = 3)) ===
      rows(idx.bm25Synonyms(Seq(expanded), k = 10)))
    // alternation escapes any literal prefix: 'merge|join' must match
    // BOTH despite starting with a literal run (full-vocab path)
    val alts = idx.regexpSearch("merge|join", k = 10)
    assert(rows(alts) === rows(idx.bm25Synonyms(Seq(Seq("join", "merge")), k = 10)))
    // a quantifier on the literal run's last char: 'sort?s?' matches
    // 'sort' — the prune must not assume the full run
    assert(rows(idx.regexpSearch("sorts?", k = 10)).nonEmpty)
    // nothing matches -> the typed empty frame
    assert(idx.regexpSearch("zz+", k = 5).isEmpty)
    intercept[IllegalArgumentException](idx.regexpSearch("", 5))
    intercept[IllegalArgumentException](idx.regexpSearch("a.*", 0))
  }

  test("fuzzyTermSearch: distance-1 expansion scores as one synonym group (X261)") {
    val dir = Files.createTempDirectory("graft_inv_fuzzy").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    idx.build(docsA.union(docsB), "doc_id", col("text"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    // 'sorl' is distance-1 from 'sort' only: the fuzzy serve must equal
    // the singleton synonym group over the expansion
    assert(rows(idx.fuzzyTermSearch("sorl", k = 10)) ===
      rows(idx.bm25Synonyms(Seq(Seq("sort")), k = 10)))
    // an OOV term with no live neighbor ranks empty
    assert(idx.fuzzyTermSearch("zzyzx", k = 5).isEmpty)
    intercept[IllegalArgumentException](idx.fuzzyTermSearch("", 5))
    intercept[IllegalArgumentException](idx.fuzzyTermSearch("sort", 0))
  }

  test("snapshot: byte-faithful copy, pending tombstones travel, sides independent (X248)") {
    val dir = Files.createTempDirectory("graft_inv_snap").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    idx.build(docsA.union(docsB), "doc_id", col("text"))
    def rows(i: InvertedIndex) = i.bm25(Seq("sort", "merge"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val want = rows(idx)
    idx.snapshot(s"$dir/a")
    val a = new InvertedIndex(spark, s"$dir/a", buckets = 8)
    assert(rows(a) === want, "snapshot must answer exactly like the source")
    // tombstone in the copy; the source is untouched, and a SECOND
    // snapshot carries the pending tombstone state faithfully
    a.delete(Seq(1L).toDF("doc_id"))
    assert(rows(idx) === want, "source must not see the copy's delete")
    a.snapshot(s"$dir/b")
    val b = new InvertedIndex(spark, s"$dir/b", buckets = 8)
    assert(rows(b) === rows(a), "pending tombstones must travel")
    b.vacuum()
    assert(rows(b) === rows(a), "vacuum on the copy keeps answers")
    assert(!rows(b).exists(_._1 == 1L))
    // target-exists is a refusal, not an overwrite
    intercept[IllegalArgumentException](idx.snapshot(s"$dir/a"))
    // crash protocol: a crashed prior attempt's hidden staging debris
    // (the only thing a mid-copy crash can leave — the target appears
    // by rename) never blocks or corrupts a clean retry
    val stale = new java.io.File(s"$dir/.c.snapstaging/junk")
    stale.getParentFile.mkdirs()
    java.nio.file.Files.write(stale.toPath, Array[Byte](1, 2, 3))
    idx.snapshot(s"$dir/c")
    assert(rows(new InvertedIndex(spark, s"$dir/c", buckets = 8)) === want,
      "retry over staging debris must produce a clean snapshot")
    assert(!new java.io.File(s"$dir/.c.snapstaging").exists(),
      "staging renames away, leaving no hidden debris")
  }

  test("postings file-locality is structural: one file per (term, doc) per layout write") {
    // buildBlockMax's file-grain bounds assume a (term, doc)'s postings
    // never split across two files of one bucket; build and append both
    // repartition by tbucket to make that structural — assert it on the
    // PHYSICAL layout, not the plan
    val dir = Files.createTempDirectory("graft_inv_loc").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 4)
    idx.build(docsA, "doc_id", col("text"))
    idx.append(docsB, "doc_id", col("text"))
    val perPair = spark.read.parquet(s"$dir/inv/postings")
      .select(col("term"), col("doc_id"),
        input_file_name().as("f"))
      .groupBy(col("term"), col("doc_id"))
      .agg(countDistinct(col("f")).as("nf"))
    val worst = perPair.agg(max(col("nf"))).head().getLong(0)
    assert(worst === 1L,
      s"a (term, doc) split across $worst files breaks the block-max invariant")
  }

  test("explain: per-term breakdown sums to the served score; absent term zero row (X232)") {
    val dir = Files.createTempDirectory("graft_inv_expl").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    idx.build(docsA.union(docsB), "doc_id", col("text"))
    val terms = Seq("sort", "merge", "zzz")
    val top = idx.bm25(Seq("sort", "merge"), k = 1).head()
    val (topId, topScore) = (top.getLong(0), top.getDouble(2))
    val rows = idx.explain(terms, topId).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toSeq
    assert(rows.map(_._1) === terms, "rows come in query-term order")
    // the absent term contributes a zero partial, tf=0, df=0
    val zzz = rows.find(_._1 == "zzz").get
    assert(zzz._2 === 0L && zzz._4 === 0L && zzz._6 === 0.0)
    // round-6 partials sum to exactly the served two-term score
    val sum2 = rows.filter(r => r._1 == "sort" || r._1 == "merge")
      .map(_._6).sum
    val rounded = BigDecimal(sum2)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rounded === topScore,
      s"partials must reproduce the served score: $sum2 vs $topScore")
    // a doc id outside the corpus explains to zero rows
    assert(idx.explain(terms, 999L).count() === 0L)
  }

  test("selectBlockFiles: uncovered reads, missing-bound skips, ceiling test gates (X228)") {
    val sel = InvertedIndex.selectBlockFiles(
      essential = Seq("t1", "t2"),
      bucketOfTerm = Map("t1" -> 0, "t2" -> 1),
      filesInBucket = Map(
        0 -> Seq("fA", "fB", "fNew"), // fA qualifies, fB below θ, fNew uncovered
        1 -> Seq("fC")),              // covered, no t2 bound -> provably t2-free
      covered = Set((0, "fA"), (0, "fB"), (1, "fC")),
      fileUb = Map(("t1", "fA") -> 3.0, ("t1", "fB") -> 0.4),
      restUb = Map("t1" -> 0.1, "t2" -> 3.1),
      theta = 2.0)
    assert(sel === Set((0, "fA"), (0, "fNew")))
    // boundary: ub + rest == θ - eps edge keeps the file (>= test)
    val edge = InvertedIndex.selectBlockFiles(Seq("t"), Map("t" -> 0),
      Map(0 -> Seq("f")), Set((0, "f")), Map(("t", "f") -> 1.9),
      Map("t" -> 0.1), theta = 2.0)
    assert(edge === Set((0, "f")))
  }

  test("per-file block-max: low-impact covered files skip from the candidate read (X228)") {
    val dir = Files.createTempDirectory("graft_inv_bmf").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    // three separately-landed batches = three distinct file generations
    // per touched bucket: hi = high-impact 'quokka' docs (tf 3, short),
    // lo = low-impact (tf 1, long), filler = no quokka at all.
    // buildBlockMax AFTER the appends covers every file at file grain.
    val hi = (1L to 6L).map(i => (i, "quokka quokka quokka the alpha"))
    val lo = (101L to 300L).map(i => (i, "quokka " + ("the " * 40).trim))
    val filler = (401L to 450L).map(i => (i, "the alpha beta"))
    idx.build(hi.toDF("doc_id", "text").coalesce(1), "doc_id", col("text"))
    idx.append(lo.toDF("doc_id", "text").coalesce(1), "doc_id", col("text"))
    idx.append(filler.toDF("doc_id", "text").coalesce(1), "doc_id", col("text"))
    idx.buildBlockMax()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    def inputRecords(body: => Unit): Long = {
      import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
      val acc = new java.util.concurrent.atomic.AtomicLong
      val l = new SparkListener {
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null)
            acc.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
      }
      spark.sparkContext.addSparkListener(l)
      try { body; Thread.sleep(1500) }
      finally spark.sparkContext.removeSparkListener(l)
      acc.get
    }
    val want = rows(idx.bm25(Seq("quokka", "the"), k = 2))
    val withFiles = inputRecords {
      assert(rows(idx.bm25MaxScore(Seq("quokka", "the"), k = 2)) === want) }
    // drop the file-grain sidecar: same per-term cut, no file skip —
    // the candidate read must now pay the low-impact file too
    assert(new java.io.File(s"$dir/inv/blockmax_files").exists())
    def rmr(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmr); f.delete(); () }
    rmr(new java.io.File(s"$dir/inv/blockmax_files"))
    val termOnly = inputRecords {
      assert(rows(idx.bm25MaxScore(Seq("quokka", "the"), k = 2)) === want) }
    assert(withFiles < termOnly,
      s"file-grain skip must read fewer postings rows: $withFiles vs $termOnly")
  }

  test("term lookup prunes to the queried buckets at the file listing") {
    val dir = Files.createTempDirectory("graft_inv_prune").toString
    val idx = new InvertedIndex(spark, s"$dir/inv", buckets = 8)
    idx.build(docsA, "doc_id", col("text"))
    val frame = idx.termPostings(Seq("sort"))
    val scan = frame.queryExecution.sparkPlan
      .collect { case s: FileSourceScanExec => s }.head
    assert(scan.metadata("PartitionFilters").contains("tbucket"),
      s"bucket must prune at the partition level: ${scan.metadata("PartitionFilters")}")
    val wantBucket = idx.bucketOf("sort", 8)
    val dirs = scan.relation.location.listFiles(
        scan.partitionFilters, scan.dataFilters)
      .map(_.values.getInt(0)).distinct
    assert(dirs == Seq(wantBucket),
      s"exactly the term's bucket directory should be read, got $dirs")
  }
}
