package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, language-ID heuristic, quality scoring, token counting,
  * and document fingerprinting. All pure `Column` compositions (codegen'd
  * built-ins, no UDFs) so they scale linearly with no shuffle — per-row maps
  * over the corpus, pushdown-friendly.
  *
  * Everything here is engine-side extension beyond the reference (which has
  * no text ops); semantics are chosen to be deterministic and
  * cross-engine-reproducible (md5-based hashing, not JVM/murmur hashing) so
  * the DuckDB oracle can verify them bit-for-bit.
  */
object TextAnalysis {

  /** Whitespace tokenizer over lowercased text. */
  def tokens(text: Column): Column = split(lower(trim(text)), s"[$Ws]+")

  /** Unsegmented-script fallback segmentation (the standard CJK
    * fallback when no dictionary segmenter is available — Lucene's
    * CJKAnalyzer / ES `cjk` analyzer class of behavior): pad every
    * codepoint of a script that does not use spaces between words with
    * surrounding spaces, so the downstream whitespace split breaks a
    * run into PER-CHARACTER units. On a whitespace-only tokenizer a
    * whole CJK/Thai sentence is ONE token and BM25/LM/shingle/vocab
    * statistics silently collapse; per-character units restore working
    * (if coarse) term statistics for a large share of any web crawl.
    *
    * Covered blocks (BMP): Thai U+0E00–U+0E7F, Hiragana+Katakana
    * U+3040–U+30FF, CJK Extension A U+3400–U+4DBF, CJK Unified
    * U+4E00–U+9FFF, CJK Compatibility Ideographs U+F900–U+FAFF.
    * Documented limits of the fallback: supplementary-plane ideographs
    * (Ext B+) pass through unsegmented (surrogate-pair ranges are not
    * in the class), and Thai combining vowels/tone marks become their
    * own units — per-character Thai is coarser than dictionary
    * segmentation but keeps n-gram statistics usable, the accepted
    * trade of the regex-only fallback.
    *
    * Pure codegen'd `regexp_replace` — composes with EVERY text
    * operator by wrapping its `text` column ([[tokens]],
    * [[positionalPostings]] / [[graft.sources.InvertedIndex.build]],
    * shingle dedup, [[graft.sources.NgramLm]]): `op(docs, id,
    * segmentUnicode(col("text")))`. An index/model built with the
    * wrapped column must also append/score through it — the mode is
    * part of the caller's tokenization contract, like casing. ASCII
    * (and any text without the covered blocks) is byte-identical
    * through the pad, so the default path's results never change. */
  def segmentUnicode(text: Column): Column =
    regexp_replace(text, UnsegRe, " $1 ")

  /** Character-BIGRAM segmentation for unsegmented scripts (the actual
    * Lucene CJKAnalyzer / CJKBigramFilter behavior, X198 finished): a
    * run of n ≥ 2 unsegmented-script codepoints becomes its n−1
    * OVERLAPPING character pairs (機械学 → 機械, 械学), a singleton run
    * stays a unigram, and runs never pair across an intervening
    * non-class character (the original space/word boundary). Bigram
    * units roughly halve df inflation and restore usable idf contrast
    * vs [[segmentUnicode]]'s per-character units — the known ranking
    * fix for CJK on statistics-only tokenization; Thai shares the
    * class, so Thai runs bigram too (documented coarseness, same
    * trade as the per-character fallback).
    *
    * Two codegen'd `regexp_replace` passes, no UDF: (1) every
    * run-INTERIOR codepoint (class char with class neighbors on both
    * sides) is rewritten `c → "c c"` — Java regex lookarounds evaluate
    * against the ORIGINAL input while the output builds separately, so
    * one pass duplicates exactly the interior characters, turning
    * `abcd` into `ab bc cd`; (2) after pass 1 every maximal class
    * sequence is length 1 or 2 — pad each with spaces so the
    * downstream whitespace split emits it as its own token. ASCII (and
    * any text without the class) is byte-identical through both
    * passes. Same composition contract as [[segmentUnicode]]: an
    * index/model built with this wrapper must append/score through
    * it. */
  def segmentUnicodeBigram(text: Column): Column = {
    val c = UnsegClass
    regexp_replace(
      regexp_replace(text, s"(?<=$c)($c)(?=$c)", "$1 $1"),
      s"($c$c?)", " $1 ")
  }

  /** [[tokens]] with the unsegmented-script fallback: `tokens(text,
    * unicode = true)` ≡ `tokens(segmentUnicode(text))` — the pad runs
    * FIRST on the raw text, then the exact default pipeline, so the two
    * modes share every downstream property (lowercasing, trim, the
    * empty-token edge cases callers already handle). */
  def tokens(text: Column, unicode: Boolean): Column =
    if (unicode) tokens(segmentUnicode(text)) else tokens(text)

  /** BPE-ish subword count approximation: whitespace tokens plus extra
    * units for long words (a word of length L contributes ceil(L/4)
    * units, floor 1) — a cheap stand-in for a real tokenizer's
    * token-per-~4-chars behavior. */
  def approxBpeCount(text: Column): Column =
    aggregate(
      tokens(text),
      lit(0L),
      (acc, t) => acc + greatest(ceil(length(t) / lit(4.0)).cast(LongType), lit(1L)))

  /** Tiny per-language stopword lists for the n-gram/stopword language-ID
    * heuristic. Public knowledge (standard closed-class words). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "for", "on", "with"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "une", "du", "en"),
    "es" -> Seq("el", "la", "de", "y", "los", "las", "un", "una", "del", "en"),
    "de" -> Seq("der", "die", "das", "und", "den", "von", "zu", "mit", "ein", "im"),
    "zh" -> Seq("的", "了", "是", "在", "我", "有", "和", "就", "不", "人"))

  private def hitCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words: _*)))

  /** Language-ID: argmax of stopword hits; ties pick the alphabetically-
    * FIRST language code ('und' when nothing matches) — same rule as an
    * ordered CASE chain over sorted languages. */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val langs = stopwords.keys.toSeq.sorted
    // struct compares field-by-field: hits first, then an inverted rank so
    // the max struct on equal hits belongs to the alphabetically-first lang
    val scored = langs.zipWithIndex.map { case (lang, i) =>
      struct(hitCount(toks, stopwords(lang)).as("hits"),
        lit(langs.size - i).as("inv_rank"), lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Script classes for [[scriptProfile]]/[[langIdScript]] — each a
    * character class counted per document. Kana split from Han because
    * the ja-vs-zh call rides on it; ranges are the [[UnsegRe]] blocks
    * plus Latin. */
  private[graft] val ScriptClasses: Seq[(String, String)] = Seq(
    "han" -> "[\\u3400-\\u4DBF\\u4E00-\\u9FFF\\uF900-\\uFAFF]",
    "kana" -> "[\\u3040-\\u30FF]",
    "thai" -> "[\\u0E00-\\u0E7F]",
    "latin" -> "[A-Za-z]")

  /** Per-document script profile (X203): the count of codepoints in
    * each script class — Han, kana, Thai, Latin — plus the total
    * character count. The curation signal a multilingual crawl
    * pipeline keys on (script mix drives tokenizer choice, mixture
    * weights, and the [[langIdScript]] fallback); pure codegen'd
    * regexp arithmetic, one per-row map, no exchange. Count = length
    * minus length-after-removing-the-class (exact, surrogate-free for
    * these BMP classes). */
  def scriptProfile(df: DataFrame, text: Column): DataFrame =
    ScriptClasses.foldLeft(df.withColumn("n_chars_total",
        length(text).cast(LongType))) { case (acc, (name, re)) =>
      acc.withColumn(s"n_$name",
        (length(text) - length(regexp_replace(text, re, ""))).cast(LongType))
    }

  /** Language-ID with the unsegmented-script fallback (X203): the
    * [[langId]] stopword vote first — it works wherever whitespace
    * tokenization works — and for documents it cannot place (zero
    * stopword hits: the normal case for CJK/Thai text, where the whole
    * sentence is one token) a script-class vote: any kana ⇒ 'ja'
    * (kana is unique to Japanese; Han alone is ambiguous), else Han ⇒
    * 'zh', else Thai ⇒ 'th', else 'und'. The zh stopword list still
    * wins on SEGMENTED Chinese (spaces present), so the fallback only
    * widens coverage — ASCII corpora classify byte-identically to
    * [[langId]]. */
  def langIdScript(text: Column): Column = {
    def n(re: String) = length(text) - length(regexp_replace(text, re, ""))
    val byScript =
      when(n(ScriptClasses(1)._2) > 0, lit("ja"))
        .when(n(ScriptClasses(0)._2) > 0, lit("zh"))
        .when(n(ScriptClasses(2)._2) > 0, lit("th"))
        .otherwise(lit("und"))
    val voted = langId(text)
    when(voted === "und", byScript).otherwise(voted)
  }

  /** Quality metrics (length / punctuation / stopword ratios). */
  def qualityMetrics(df: DataFrame, text: Column): DataFrame = {
    val toks = tokens(text)
    val nChars = length(text)
    val nTokens = size(toks)
    val punct = nChars - length(regexp_replace(text, PunctRe, ""))
    val stopHits = hitCount(toks, stopwords("en"))
    df.withColumn("n_chars_m", nChars.cast(LongType))
      .withColumn("n_tokens", nTokens.cast(LongType))
      .withColumn("avg_token_len",
        round(nChars.cast(DoubleType) / greatest(nTokens, lit(1)).cast(DoubleType), 6))
      .withColumn("punct_ratio",
        round(punct.cast(DoubleType) / greatest(nChars, lit(1)).cast(DoubleType), 6))
      .withColumn("stopword_ratio",
        round(stopHits.cast(DoubleType) / greatest(nTokens, lit(1)).cast(DoubleType), 6))
  }

  /** Composite quality score in [0,1]: rewards mid-length docs, some
    * stopwords, low punctuation noise. Deterministic arithmetic only. */
  def qualityScore(text: Column): Column = {
    val toks = tokens(text)
    val nTokens = size(toks).cast(DoubleType)
    val nChars = length(text).cast(DoubleType)
    val stopRatio = hitCount(toks, stopwords("en")).cast(DoubleType) /
      greatest(nTokens, lit(1.0))
    val lengthScore = least(nTokens / lit(64.0), lit(1.0))
    val punct = nChars - length(regexp_replace(text, PunctRe, "")).cast(DoubleType)
    val punctPenalty = least(punct / greatest(nChars, lit(1.0)) * lit(5.0), lit(1.0))
    round(lit(0.5) * lengthScore + lit(0.5) * least(stopRatio * lit(5.0), lit(1.0)) -
      lit(0.25) * punctPenalty, 6)
  }

  /** Scrub pipeline noise from raw text: URLs and e-mail addresses are
    * replaced with a space and runs of whitespace collapse. The regexes
    * are dialect-EXACT (no lookarounds/backrefs, explicit whitespace
    * class — see [[Ws]]) so the same patterns mean the same thing in the
    * DuckDB oracle. */
  def scrub(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(text, s"https?://[^$Ws]+", " "),
        s"[^$Ws@]+@[^$Ws@]+\\.[^$Ws@]+", " "),
      s"[$Ws]+", " "))

  /** Whitespace as an EXPLICIT class, not `\s`: Java regex `\s` includes
    * vertical tab where RE2's (DuckDB's) does not, so `\s`-based patterns
    * silently diverge between the engines on `\x0B` input. The explicit
    * class is the same set in both dialects. */
  private[graft] val Ws = " \\t\\n\\x0B\\f\\r"

  /** The unsegmented-script codepoint class behind [[segmentUnicode]] —
    * one capture group so the replacement can re-emit the character
    * space-padded. Same BMP ranges in the Java and RE2 dialects (the
    * SQL-oracle mirror writes them as RE2 `\x{....}` escapes). */
  /** The bare unsegmented-script character class (no capture) — the
    * building block [[UnsegRe]] and [[segmentUnicodeBigram]] share. */
  private[graft] val UnsegClass =
    "[\\u0E00-\\u0E7F\\u3040-\\u30FF\\u3400-\\u4DBF" +
      "\\u4E00-\\u9FFF\\uF900-\\uFAFF]"

  private[graft] val UnsegRe = s"($UnsegClass)"

  /** RE2 spelling of [[UnsegClass]] (no capture) for DuckDB-oracle SQL. */
  private[graft] val UnsegClassSql =
    "[\\x{0E00}-\\x{0E7F}\\x{3040}-\\x{30FF}\\x{3400}-\\x{4DBF}" +
      "\\x{4E00}-\\x{9FFF}\\x{F900}-\\x{FAFF}]"

  /** RE2 spelling of [[UnsegRe]] for DuckDB-oracle SQL. */
  private[graft] val UnsegReSql = s"($UnsegClassSql)"

  /** Punctuation class shared by qualityMetrics/qualityScore and the SQL
    * twin `graft_quality_score` — one source of truth, same string in
    * both regex dialects. */
  private[graft] val PunctRe = "[\\.,;:!\\?'\"()\\[\\]{}]"

  /** PII/noise surface counts per document — the measurement side of
    * [[scrub]] (same dialect-exact patterns): a curation pipeline
    * needs the counts to DECIDE (drop the doc? redact?) before the scrub
    * rewrites anything. Pure per-row `regexp_count` — shuffle-free,
    * codegen'd, pushdown-friendly. */
  def piiCounts(df: DataFrame, text: Column): DataFrame = {
    Seq("n_urls", "n_emails", "has_pii").foreach(c =>
      require(!df.columns.contains(c),
        s"piiCounts emits a '$c' column; rename the existing one first"))
    df.withColumn("n_urls", regexp_count(text, lit(s"https?://[^$Ws]+")))
      .withColumn("n_emails", regexp_count(text, lit(s"[^$Ws@]+@[^$Ws@]+\\.[^$Ws@]+")))
      .withColumn("has_pii", (col("n_urls") > 0) || (col("n_emails") > 0))
  }

  /** Typed PII redaction (X148) — the rewrite side of [[piiCounts]], per
    * type: URLs → `<URL>`, e-mails → `<EMAIL>`, IPv4 literals → `<IP>`,
    * international-format phone numbers → `<PHONE>`, plus the count of
    * replacements each type actually performed. The four rewrites apply
    * in a PINNED order (URL, e-mail, IP, phone) and each type's count is
    * taken on the text AS THE PREVIOUS STEP LEFT IT — so an e-mail-shaped
    * substring inside a URL query string is consumed by the URL rule and
    * neither double-counts nor double-redacts (counts always equal
    * replacements). Patterns are dialect-exact ([[Ws]] discipline, no
    * lookarounds/backrefs); the IP rule is the standard dotted-quad
    * approximation (no 0-255 range check) and the phone rule is
    * deliberately conservative (`+`-prefixed international form only) —
    * a looser rule would redact order ids and version strings, and a
    * training pipeline prefers false negatives it can measure
    * ([[piiCounts]]) over silent corpus damage. Per-row regexp
    * projections end to end: codegen'd, shuffle-free, scan-parallel. */
  def piiRedact(docs: DataFrame, idCol: String, text: Column): DataFrame = {
    val urlRe = s"https?://[^$Ws]+"
    val emailRe = s"[^$Ws@]+@[^$Ws@]+\\.[^$Ws@]+"
    val ipRe = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
    val phoneRe = "\\+[0-9][0-9 -]{5,13}[0-9]"
    docs
      .select(col(idCol), text.as("__t0"))
      .withColumn("__t1", regexp_replace(col("__t0"), urlRe, "<URL>"))
      .withColumn("__t2", regexp_replace(col("__t1"), emailRe, "<EMAIL>"))
      .withColumn("__t3", regexp_replace(col("__t2"), ipRe, "<IP>"))
      .select(col(idCol),
        regexp_replace(col("__t3"), phoneRe, "<PHONE>").as("clean_text"),
        regexp_count(col("__t0"), lit(urlRe)).as("n_urls"),
        regexp_count(col("__t1"), lit(emailRe)).as("n_emails"),
        regexp_count(col("__t2"), lit(ipRe)).as("n_ips"),
        regexp_count(col("__t3"), lit(phoneRe)).as("n_phones"))
  }

  /** (doc_id, term) postings from a document frame — the shared front of
    * every term-level aggregate ([[tfidfTopTerms]], [[topTerms]],
    * [[graft.operators.Curation.corpusFreqScore]]): explode the
    * tokenizer, drop empty terms. One definition so the tokenization the
    * oracles mirror cannot silently diverge between operators. */
  def postings(docs: DataFrame, idCol: String, text: Column,
      extraCols: Seq[(String, Column)] = Nil): DataFrame =
    docs
      .select(col(idCol).as("doc_id") +:
        extraCols.map { case (n, c) => c.as(n) } :+
        explode(tokens(text)).as("term"): _*)
      .filter(col("term") =!= "")

  /** Corpus vocabulary head: the k globally most frequent terms with
    * their document frequencies — feeds stopword derivation, vocabulary
    * coverage checks, and the common-token quality signals. Plan shape:
    * postings -> partial/final hash agg on term -> distributed top-k heap
    * (TakeOrderedAndProject), never a global sort of the vocabulary. */
  def topTerms(docs: DataFrame, idCol: String, text: Column, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    postings(docs, idCol, text)
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("term").asc)
      .limit(k)
  }

  /** Corpus bigram continuation table: for each head token the k most
    * frequent next tokens with counts and rank — the count-table building
    * block of an n-gram LM (KenLM-style), and the lookup behind
    * next-token-predictability quality signals and boilerplate phrase
    * detection. Bigrams form INSIDE a document only (never across doc
    * boundaries); empty tokens drop, matching [[postings]].
    *
    * Plan shape: bigram postings aggregate on (w1, w2) with map-side
    * combine; the per-head top-k is [[Curation.capPerKey]], whose
    * WindowGroupLimit stays partial below the head exchange — the bigram
    * vocabulary is never globally sorted. */
  def bigramTable(docs: DataFrame, idCol: String, text: Column, k: Int = 3): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val pairs = bigramPairs(docs, idCol, text).select(col("w1"), col("w2"))
    val counts = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n"))
    Curation.capPerKey(counts, col("w1"), k, col("n").desc, col("w2").asc)
      .select(col("w1"), col("w2"), col("n"), col("rn").as("rank"))
  }

  /** In-document bigram occurrences: one (doc_id, w1, w2) row per adjacent
    * token pair, never crossing a document boundary; empty tokens drop,
    * matching [[postings]]. The shared generate stage under [[bigramTable]]
    * and [[lmScore]]. */
  def bigramPairs(docs: DataFrame, idCol: String, text: Column): DataFrame =
    bigramPairsFromToks(
      docs.select(col(idCol).as("doc_id"), tokens(text).as("__toks")))

  /** [[bigramPairs]] over a pre-tokenized (doc_id, __toks) frame — the
    * share-one-tokenize entry ([[graft.sources.NgramLm]] counts tri, bi
    * AND uni from one pass). */
  private[graft] def bigramPairsFromToks(toks: DataFrame): DataFrame = {
    // the `when` guard matters: sequence(0, size-2) with size < 2 counts
    // DOWN (sequence supports descending ranges), fabricating bigrams
    // from out-of-range element_at nulls; explode_outer (not explode)
    // dodges InferFiltersFromGenerate re-inlining the tokenize chain
    // below the generate (the contaminationScan guard)
    toks
      .select(col("doc_id"), explode_outer(
        when(size(col("__toks")) >= 2,
          transform(sequence(lit(0), size(col("__toks")) - 2),
            i => struct(element_at(col("__toks"), i + 1).as("w1"),
              element_at(col("__toks"), i + 2).as("w2"))))).as("bg"))
      .filter(col("bg").isNotNull)
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
  }

  /** CCNet-style LM quality score (Wenzek et al. 1911.00359 use KenLM
    * perplexity; this is the engine-native bigram analogue): per-document
    * cross-entropy and perplexity under an add-alpha-smoothed bigram model
    * counted from `refDocs`.
    *
    * Model: P(w2|w1) = (c(w1,w2) + a) / (c(w1) + a*V), with c(w1) the
    * head's total continuation count and V the distinct-continuation
    * vocabulary size of the reference — an unseen head scores exactly 1/V.
    * Output per doc: `n_bigrams`, `xent` (mean -ln P over bigram
    * OCCURRENCES, repeats scored every time), `ppl` = exp(xent). Docs with
    * fewer than 2 non-empty tokens have no bigrams and are omitted, like
    * [[bigramTable]] heads.
    *
    * Determinism: each occurrence's -ln P rounds to 6 decimals, the mean
    * is an exact decimal sum divided once (the [[Ann.ivfStats]]
    * discipline); the probability itself is single-step IEEE double
    * arithmetic so only the transcendental ln needs the rounding guard.
    *
    * Scale shape: both count tables are vocabulary-sized aggregates with
    * map-side combine — metadata next to a 100 TB corpus, broadcast by AQE
    * when they fit, shuffle-joined on (w1,w2) / (w1) when they don't; the
    * corpus-side cost is the generate plus at most two postings exchanges
    * and the final doc_id aggregation. */
  def lmScore(docs: DataFrame, refDocs: DataFrame, idCol: String, text: Column,
      alpha: Double = 0.5): DataFrame = {
    // the count table is vocabulary-sized (metadata next to the corpus) and
    // has THREE consumers — the (w1,w2) join, the head aggregate, and the
    // V aggregate. Pin it eagerly (the [[Dedup.dedupGroups]] discipline):
    // without the checkpoint each consumer re-runs the reference-corpus
    // generate+aggregate (column pruning even defeats exchange reuse for
    // the V branch, measured via Explain — 3 corpus passes instead of 1).
    val bg = bigramPairs(refDocs, idCol, text)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
      .localCheckpoint(true)
    lmScoreCounted(docs, idCol, text, bg, alpha)
  }

  /** The scoring half of [[lmScore]] against an EXPLICIT (w1, w2, c2)
    * bigram count table — shared by the recount path above and the
    * persisted-model / stream-static-join path
    * ([[graft.streaming.LmStream]].scoreJoined), so the two cannot
    * drift. Heads and V derive from `bg` inside; `bg` has three
    * consumers, so the CALLER pins it (once per freeze, not per
    * micro-batch). */
  private[graft] def lmScoreCounted(docs: DataFrame, idCol: String,
      text: Column, bg: DataFrame, alpha: Double): DataFrame = {
    require(alpha > 0, s"alpha must be positive, got $alpha")
    val heads = bg.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    // V rides in as a broadcast single-row cross join (the
    // [[Curation.corpusFreqScore]] discipline), not a driver-side first().
    // An empty reference (V = 0) yields null scores, not a crash — guard
    // upstream.
    val vRow = bg.agg(countDistinct(col("w2")).as("__v"))
    val dec = DataTypes.createDecimalType(38, 6)
    // numerator and denominator are each a single integer-plus-constant
    // double op, the quotient one IEEE division — bit-identical in any
    // engine; only ln is transcendental, hence the round before the sum
    val lp = round(-log(
      (coalesce(col("c2"), lit(0L)).cast(DoubleType) + lit(alpha)) /
        (coalesce(col("c1"), lit(0L)).cast(DoubleType) +
          lit(alpha) * col("__v").cast(DoubleType))), 6)
    bigramPairs(docs, idCol, text)
      .join(bg, Seq("w1", "w2"), "left")
      .join(heads, Seq("w1"), "left")
      .crossJoin(broadcast(vRow))
      .withColumn("__lp", lp)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("__lp").cast(dec)).cast(DoubleType) / count(lit(1)), 6)
          .as("xent"))
      .withColumn("ppl", round(exp(col("xent")), 6))
      .withColumnRenamed("doc_id", idCol)
  }

  /** Adjacent token triples, one row per trigram OCCURRENCE — the
    * 3-gram sibling of [[bigramPairs]], same slot discipline: a dropped
    * empty token still occupies its position, so adjacency never bridges
    * it; the `when` guard stops `sequence` counting down on short docs;
    * `explode_outer` dodges InferFiltersFromGenerate re-inlining the
    * tokenize chain below the generate. */
  def trigramTriples(docs: DataFrame, idCol: String, text: Column): DataFrame =
    trigramTriplesFromToks(
      docs.select(col(idCol).as("doc_id"), tokens(text).as("__toks")))

  /** [[trigramTriples]] over a pre-tokenized (doc_id, __toks) frame. */
  private[graft] def trigramTriplesFromToks(toks: DataFrame): DataFrame = {
    toks
      .select(col("doc_id"), explode_outer(
        when(size(col("__toks")) >= 3,
          transform(sequence(lit(0), size(col("__toks")) - 3),
            i => struct(element_at(col("__toks"), i + 1).as("w1"),
              element_at(col("__toks"), i + 2).as("w2"),
              element_at(col("__toks"), i + 3).as("w3"))))).as("tg"))
      .filter(col("tg").isNotNull)
      .select(col("doc_id"), col("tg.w1").as("w1"), col("tg.w2").as("w2"),
        col("tg.w3").as("w3"))
      .filter(col("w1") =!= "" && col("w2") =!= "" && col("w3") =!= "")
  }

  /** Stupid Backoff trigram scoring (X154; Brants et al., "Large
    * Language Models in Machine Translation", EMNLP'07 §4 — THE
    * web-scale LM ranking scheme: relative frequencies with a fixed
    * backoff penalty, no discounting, no normalization, chosen PRECISELY
    * because it needs nothing but count tables — the distributable
    * trade-off [[lmScore]]'s smoothed bigram only approximates). Per
    * trigram occurrence in `docs`, scored against `refDocs` counts:
    *
    *   S(w3|w1,w2) = c3(w1w2w3)/c2(w1w2)            if c3 > 0
    *               = λ · c2(w2w3)/c1(w2)            else if c2(w2w3) > 0
    *               = λ² · (c1(w3)+1)/(N+V)          else (add-one floor,
    *                                                 keeps OOV finite)
    *
    * with λ = 0.4 (the paper's value). Output per doc: `n_trigrams`,
    * `xent` = mean −ln S (round-6 per occurrence, exact decimal sum — the
    * [[lmScore]] discipline), `ppl` = exp(xent). Docs with < 3 non-empty
    * adjacent tokens are omitted. Branches guard their own denominators
    * (c3>0 ⇒ c2(w1w2)≥c3>0, c2(w2w3)>0 ⇒ c1(w2)>0 — lazily evaluated,
    * ANSI-safe); only ln is transcendental, hence the round before the
    * sum.
    *
    * Scale shape: tri/bi/uni count tables are vocabulary-sized map-side-
    * combined aggregates — metadata next to a 100 TB corpus; bi and uni
    * each have two join consumers so they pin eagerly (the [[lmScore]]
    * discipline); N and V ride in as ONE broadcast row; corpus-side cost
    * is the generate, five count-table joins (AQE-broadcast when they
    * fit), and the final doc aggregation — text never shuffles. */
  def stupidBackoff(docs: DataFrame, refDocs: DataFrame, idCol: String,
      text: Column, lambda: Double = 0.4): DataFrame = {
    val tri = trigramTriples(refDocs, idCol, text)
      .groupBy(col("w1"), col("w2"), col("w3")).agg(count(lit(1)).as("c3"))
    val bi = bigramPairs(refDocs, idCol, text)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
      .localCheckpoint(true) // two consumers: the (w1,w2) and (w2,w3) joins
    val uni = positionalPostings(refDocs, idCol, text)
      .groupBy(col("term")).agg(count(lit(1)).as("c1"))
      .localCheckpoint(true) // two joins + the N/V aggregate
    stupidBackoffScore(docs, idCol, text, tri, bi, uni, lambda)
  }

  /** The scoring half of [[stupidBackoff]], against EXPLICIT count
    * tables — shared by the recount path above and the persisted-model
    * path ([[graft.sources.NgramLm]]), so the two cannot drift. `tri` is
    * (w1, w2, w3, c3), `bi` (w1, w2, c2), `uni` (term, c1); N and V
    * derive from `uni` (one broadcast row). */
  private[graft] def stupidBackoffScore(docs: DataFrame, idCol: String,
      text: Column, tri: DataFrame, bi: DataFrame, uni: DataFrame,
      lambda: Double): DataFrame = {
    require(lambda > 0.0 && lambda < 1.0, s"lambda must be in (0,1), got $lambda")
    val nv = uni.agg(sum(col("c1")).as("__n"), count(lit(1)).as("__v"))
    val lam = lit(lambda)
    val s = when(col("c3") > 0,
        col("c3").cast(DoubleType) / col("c2a").cast(DoubleType))
      .when(col("c2b") > 0,
        lam * (col("c2b").cast(DoubleType) / col("c1w2").cast(DoubleType)))
      .otherwise((lam * lam) *
        ((coalesce(col("c1w3"), lit(0L)).cast(DoubleType) + lit(1.0)) /
          (col("__n").cast(DoubleType) + col("__v").cast(DoubleType))))
    val dec = DataTypes.createDecimalType(38, 6)
    trigramTriples(docs, idCol, text)
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(bi.select(col("w1"), col("w2"), col("c2").as("c2a")),
        Seq("w1", "w2"), "left")
      .join(bi.select(col("w1").as("__bw1"), col("w2").as("__bw2"),
        col("c2").as("c2b")),
        col("w2") === col("__bw1") && col("w3") === col("__bw2"), "left")
      .join(uni.select(col("term").as("__u2"), col("c1").as("c1w2")),
        col("w2") === col("__u2"), "left")
      .join(uni.select(col("term").as("__u3"), col("c1").as("c1w3")),
        col("w3") === col("__u3"), "left")
      .crossJoin(broadcast(nv))
      .withColumn("__lp", round(-log(s), 6))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"),
        round(sum(col("__lp").cast(dec)).cast(DoubleType) / count(lit(1)), 6)
          .as("xent"))
      .withColumn("ppl", round(exp(col("xent")), 6))
      .withColumnRenamed("doc_id", idCol)
  }

  /** Positional postings — the inverted-index building block with token
    * offsets: one (doc_id, pos, term) row per non-empty token, positions
    * indexing the RAW token-slot sequence (a dropped empty token still
    * occupies its slot, so adjacency can never bridge it — the
    * [[bigramPairs]] discipline). Write this table bucketed by term and
    * phrase/proximity queries never rescan the corpus. */
  def positionalPostings(docs: DataFrame, idCol: String, text: Column): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), posexplode_outer(tokens(text)).as(Seq("pos", "term")))
      .filter(col("term").isNotNull && col("term") =!= "")

  /** Exact phrase occurrences via adjacency self-joins on a positional
    * index ([[positionalPostings]]): term i must sit at `anchor_pos + i`.
    * Returns (doc_id, n_matches), docs without the phrase absent.
    *
    * Scale shape: each join touches only the POSTINGS OF THE PHRASE'S
    * TERMS (term-filtered index slices — pushdown-friendly on a
    * term-bucketed index), keyed (doc_id, pos) — never the corpus text;
    * intermediate cardinality after join i is bounded by occurrences of
    * the rarest prefix term, and AQE broadcasts the smaller slice. The
    * classic rarest-term-first heuristic applies to the CALLER's phrase
    * framing only through term stats; the join chain here keeps phrase
    * order (correctness over reordering) and lets AQE pick build sides. */
  /** Significant-terms aggregation (X223 — the Elasticsearch
    * `significant_terms` discovery primitive, JLH heuristic): terms
    * SIGNIFICANTLY more frequent in a FOREGROUND document subset than
    * in the whole corpus — "what is different about these docs" (the
    * hits of a query, a language, a source, an anomaly window).
    * JLH(t) = (fg% − bg%) · (fg% / bg%) over DOCUMENT frequencies
    * (absolute lift × relative lift — big-and-surprising wins over
    * big-or-surprising), background = the ENTIRE corpus including the
    * foreground (the ES superset convention); only terms with
    * fg% > bg% qualify (significantly MORE common), and `minDf` gates
    * the foreground df so one-doc flukes don't top the list.
    *
    * Scale shape: one distinct over (doc, term) — the only exchange —
    * then one term-keyed aggregate with CONDITIONAL counts for the
    * foreground leg (no second pass, no join); the two corpus sizes
    * collapse to a broadcast scalar row; the cut is a
    * TakeOrderedAndProject heap. Output: (term, df_fg, df_bg, score)
    * top-`n` by score desc (term asc ties), round-6. */
  def significantTerms(docs: DataFrame, idCol: String, text: Column,
      foreground: Column, n: Int, minDf: Long = 1L): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    require(minDf >= 1, s"minDf must be >= 1, got $minDf")
    val perTerm = docs
      .select(col(idCol).as("doc_id"), foreground.as("__fg"),
        explode_outer(tokens(text)).as("__t"))
      .filter(col("__t").isNotNull && col("__t") =!= "")
      .distinct()
      .groupBy(col("__t").as("term"))
      .agg(count(when(col("__fg"), 1)).as("df_fg"),
        count(lit(1)).as("df_bg"))
    val sizes = docs.agg(
      count(when(foreground, 1)).as("n_fg"),
      count(lit(1)).as("n_bg"))
    val fgPct = col("df_fg").cast(DoubleType) / col("n_fg").cast(DoubleType)
    val bgPct = col("df_bg").cast(DoubleType) / col("n_bg").cast(DoubleType)
    perTerm.crossJoin(broadcast(sizes))
      .filter(col("n_fg") > 0 && col("df_fg") >= minDf)
      .withColumn("__score", (fgPct - bgPct) * (fgPct / bgPct))
      .filter(col("__score") > 0)
      // ordered by the ROUNDED score the emitted column carries, so a
      // rounded tie at the limit-n boundary orders identically in the
      // engine and in the oracle's ORDER BY over the output alias
      .orderBy(round(col("__score"), 6).desc, col("term").asc)
      .limit(n)
      .select(col("term"), col("df_fg"), col("df_bg"),
        round(col("__score"), 6).as("score"))
  }

  /** Span-first match (X220 — Lucene `SpanFirstQuery`): documents whose
    * occurrence of `term` starts within the first `end` positions
    * (0-based `pos < end` — Lucene's span-end ≤ end on unit-length
    * spans), the "match near the start" primitive behind
    * title-ish boosts on position-indexed stores. Feed it
    * [[positionalPostings]] or the term-pruned
    * [[graft.sources.InvertedIndex.termPostings]] slice — one
    * per-row position predicate and one doc-keyed aggregate over the
    * term's postings only; the corpus text is never read. Emits
    * (doc_id, n_hits, first_pos); docs matching only later are absent. */
  def spanFirst(postings: DataFrame, term: String, end: Int): DataFrame = {
    require(term.nonEmpty, "empty term")
    require(end >= 1, s"end must be positive, got $end")
    postings
      .filter(col("term") === term && col("pos") < end)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"), min(col("pos")).as("first_pos"))
  }

  /** Set-Boolean retrieval over a postings slice (X194 — the Lucene
    * BooleanQuery MUST/SHOULD/MUST_NOT semantics as set algebra): doc
    * ids containing ALL `must` terms, at least `minShould` DISTINCT
    * `should` terms (vacuously satisfied when `should` is empty), and
    * NONE of the `mustNot` terms; emits (doc_id, n_should) — the
    * matched-should count a coordination-factor ranker would consume.
    * Feed it [[graft.sources.InvertedIndex.termPostings]] over the
    * union of the three term sets and the scan stays pruned to those
    * terms' buckets — the corpus text is never read.
    *
    * Scale shape: one distinct + one doc-keyed aggregate over the
    * TERM-FILTERED slice (postings of the query's terms only, never the
    * corpus); the three memberships are per-row predicates inside the
    * same aggregate — no per-term frames, no joins, one exchange.
    * MUST_NOT needs no corpus complement: a doc is a candidate only via
    * a must/should posting, and its not-count comes from the same
    * slice. */
  /** The Boolean-clause contract, shared by [[booleanMatch]] and the
    * index-served [[graft.sources.InvertedIndex.booleanSearch]] so
    * invalid input surfaces the clause-level message at EVERY entry
    * point (not a generic postings-slice error from a helper that runs
    * first). */
  private[graft] def validateBooleanClauses(must: Seq[String],
      should: Seq[String], mustNot: Seq[String], minShould: Int): Unit = {
    val all = must ++ should ++ mustNot
    require(must.nonEmpty || should.nonEmpty,
      "need at least one must or should term")
    require(all.forall(_.nonEmpty), s"empty term in $all")
    require(all.distinct.size == all.size,
      s"a term appears in two clauses (or twice): $all")
    require(should.isEmpty || (minShould >= 1 && minShould <= should.size),
      s"minShould must be in [1, ${should.size}], got $minShould")
  }

  /** Distributed clause-batch contract (the [[validateBooleanClauses]]
    * rules for a (query_id, term, clause) frame — batch-sized checks,
    * no corpus I/O); returns the deduped clause frame. Shared by the
    * index-served batch ([[graft.sources.InvertedIndex
    * .booleanSearchBatch]]) and [[percolate]]. */
  private[graft] def validateClauseBatch(clauses: DataFrame,
      minShould: Int): DataFrame = {
    require(clauses.columns.toSeq == Seq("query_id", "term", "clause"),
      s"clauses must be (query_id, term, clause) rows, got ${clauses.columns.toSeq}")
    require(minShould >= 1, s"minShould must be >= 1, got $minShould")
    val valid = Seq("must", "should", "must_not")
    require(clauses.filter(!col("clause").isin(valid: _*)).isEmpty,
      s"clause must be one of $valid")
    require(clauses.filter(col("term").isNull || col("term") === "").isEmpty,
      "empty term in the clause batch")
    val c = clauses.dropDuplicates()
    require(c.groupBy(col("query_id"), col("term"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1).isEmpty,
      "a term appears in two clauses of one query")
    require(c.groupBy(col("query_id")).agg(
        count(when(col("clause") === "must", 1)).as("__m"),
        count(when(col("clause") === "should", 1)).as("__s"))
      .filter(col("__m") === 0 && col("__s") === 0).isEmpty,
      "every query needs at least one must or should term")
    c
  }

  /** The clause-batch decision over a (doc_id, term) DISTINCT
    * membership frame — the shared back half of the index-served batch
    * and [[percolate]]: per (query, doc) clause counts from one
    * aggregate, per-query must/should totals broadcast, the X194 gate
    * (all musts, ≥ min(minShould, |should|) shoulds — vacuous when
    * should-less, zero must_nots). */
  private[graft] def booleanMatchBatch(matched: DataFrame,
      clauses: DataFrame, minShould: Int): DataFrame = {
    val perQuery = clauses.groupBy(col("query_id")).agg(
      count(when(col("clause") === "must", 1)).as("__m"),
      count(when(col("clause") === "should", 1)).as("__s"))
    clauses.join(matched, Seq("term"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(when(col("clause") === "must", 1)).as("__n_must"),
        count(when(col("clause") === "should", 1)).as("n_should"),
        count(when(col("clause") === "must_not", 1)).as("__n_not"))
      .join(broadcast(perQuery), Seq("query_id"))
      .filter(col("__n_must") === col("__m") && col("__n_not") === 0 &&
        (col("__s") === 0 ||
          col("n_should") >= least(lit(minShould.toLong), col("__s"))))
      .select(col("query_id"), col("doc_id"), col("n_should"))
  }

  /** Percolation (X208 — the Elasticsearch percolate / reverse-search
    * primitive every alerting and routing pipeline needs): match a
    * batch of ARRIVING documents against a table of STORED Boolean
    * queries ((query_id, term, clause) rows, the [[booleanMatchBatch]]
    * semantics) — which saved searches does each new doc satisfy? The
    * dual of retrieval: the doc side is the stream, the query side is
    * the stored state, and NO index is needed — one tokenize pass over
    * the batch, distinct (doc, term) membership, one equi-join against
    * the clause table (AQE broadcasts whichever side is small), one
    * aggregate. Work ∝ batch × matched clause terms, never
    * |queries| × |batch|. Output (query_id, doc_id, n_should); run it
    * per micro-batch for streaming alerting (a stateless map —
    * composes with any foreachBatch loop). */
  def percolate(docs: DataFrame, idCol: String, text: Column,
      clauses: DataFrame, minShould: Int = 1): DataFrame = {
    val c = validateClauseBatch(clauses, minShould)
    // explicit doc-keyed exchange up front (the [[graft.sources
    // .QueryStore.percolate]] discipline): HashPartitioning(id)
    // satisfies the (doc, term) distinct AND booleanMatchBatch's
    // (query, doc) aggregate, and the explicit numPartitions stops AQE
    // sizing the exchange by the tiny pre-explode bytes and funneling
    // the explode × clause-match blowup through one coalesced task
    val spark = docs.sparkSession
    val membership = positionalPostings(
        docs.repartition(
          spark.sessionState.conf.numShufflePartitions, col(idCol)),
        idCol, text)
      .select(col("doc_id"), col("term")).dropDuplicates("doc_id", "term")
    booleanMatchBatch(membership, c, minShould)
  }

  def booleanMatch(index: DataFrame, must: Seq[String],
      should: Seq[String] = Nil, mustNot: Seq[String] = Nil,
      minShould: Int = 1): DataFrame = {
    val all = must ++ should ++ mustNot
    validateBooleanClauses(must, should, mustNot, minShould)
    def matched(ts: Seq[String]) =
      if (ts.isEmpty) count(when(lit(false), 1))
      else count(when(col("term").isin(ts: _*), 1))
    val agg = index
      .filter(col("term").isin(all: _*))
      .select(col("doc_id"), col("term")).distinct()
      .groupBy(col("doc_id"))
      .agg(matched(must).as("__n_must"),
        matched(should).as("n_should"),
        matched(mustNot).as("__n_not"))
    val shouldGate =
      if (should.isEmpty) lit(true) else col("n_should") >= minShould
    agg
      .filter(col("__n_must") === must.size && shouldGate &&
        col("__n_not") === 0)
      .select(col("doc_id"), col("n_should"))
  }

  def phraseMatch(index: DataFrame, phrase: Seq[String]): DataFrame =
    phraseSpans(index, phrase)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_matches"))

  /** Unordered proximity (NEAR/k) search over the positional index: docs
    * where `termA` and `termB` occur within `maxDist` token slots, with
    * the pair count and the closest distance. The second IR leg next to
    * [[phraseMatch]] (phrase = ordered NEAR/1). Same index-slice plan
    * shape: only the two terms' postings join, banded by position bucket
    * so the join never degenerates to per-doc cartesian on term-heavy
    * docs — each posting lands in its own bucket and its neighbor, so a
    * true pair is found in at least one shared bucket and dedup keeps
    * the cheapest. */
  def proximityMatch(index: DataFrame, termA: String, termB: String,
      maxDist: Int): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    require(termA.nonEmpty && termB.nonEmpty, "empty term")
    // band by floor(pos / maxDist): a within-maxDist pair sits in equal or
    // adjacent bands, so BOTH sides emit (band, band+1) — whichever side
    // is lower, the pair shares at least one band; distinct dedups pairs
    // found in two
    def banded(t: String, posName: String) = index.filter(col("term") === t)
      .select(col("doc_id"), col("pos").as(posName))
      .withColumn("__b", explode(array((col(posName) / maxDist).cast(LongType),
        (col(posName) / maxDist).cast(LongType) + 1)))
    val a = banded(termA, "pa")
    val b = banded(termB, "pb")
    // equal terms carry identical postings on both sides: =!= alone would
    // count each unordered pair twice ((p1,p2) and (p2,p1)); pa < pb
    // keeps exactly one orientation
    val pairPred = if (termA == termB) col("pa") < col("pb")
                   else col("pa") =!= col("pb")
    a.join(b, Seq("doc_id", "__b"))
      .filter(abs(col("pa") - col("pb")) <= maxDist && pairPred)
      .select(col("doc_id"), col("pa"), col("pb")).distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pairs"),
        min(abs(col("pa") - col("pb"))).as("min_dist"))
  }

  /** Ordered span-near match (X233 — Lucene `SpanNearQuery` with
    * `inOrder=true`; [[proximityMatch]] is the unordered form): docs
    * containing `termA` followed by `termB` within `maxDist` positions
    * (0 < pb − pa ≤ maxDist) — "new york" within 3 matches "new …
    * york" but not "york … new", the phrase-with-slop primitive.
    * Same banded self-join shape as [[proximityMatch]] (an in-window
    * pair shares a floor(pos/maxDist) band with one side shifted, so
    * both sides emit (band, band+1) and distinct dedups); the ordered
    * predicate needs no equal-term special case — pb > pa already
    * keeps one orientation. Feed it [[positionalPostings]] or the
    * index's pruned termPostings slice; emits (doc_id, n_pairs,
    * min_gap). */
  def spanNearOrdered(index: DataFrame, termA: String, termB: String,
      maxDist: Int): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    require(termA.nonEmpty && termB.nonEmpty, "empty term")
    def banded(t: String, posName: String) = index.filter(col("term") === t)
      .select(col("doc_id"), col("pos").as(posName))
      .withColumn("__b", explode(array((col(posName) / maxDist).cast(LongType),
        (col(posName) / maxDist).cast(LongType) + 1)))
    banded(termA, "pa").join(banded(termB, "pb"), Seq("doc_id", "__b"))
      .filter(col("pb") - col("pa") >= 1 && col("pb") - col("pa") <= maxDist)
      .select(col("doc_id"), col("pa"), col("pb")).distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col("pb") - col("pa")).as("min_gap"))
  }

  /** span_not (X263 — Lucene SpanNotQuery, ES `span_not` with
    * `pre`/`post`): occurrences of `include` that are NOT within `pre`
    * positions before / `post` positions after ANY occurrence of
    * `exclude` — "merge, but not near bubble", the negative-context
    * span the Boolean must_not (whole-doc grain) cannot express.
    * Same banded self-join discipline as [[spanNearOrdered]] (the
    * include side bands to its ±1 neighbors at width ≥ max(pre, post),
    * so every candidate pair co-locates without a positions
    * cross-product), the exclusion a left_anti on the violating
    * include positions. Emits (doc_id, n_matches) over SURVIVING
    * include occurrences — docs whose every occurrence is excluded
    * drop out entirely. */
  def spanNot(index: DataFrame, include: String, exclude: String,
      pre: Int, post: Int): DataFrame = {
    require(include.nonEmpty && exclude.nonEmpty, "empty term")
    require(include != exclude, "include and exclude must differ")
    require(pre >= 0 && post >= 0, s"pre/post must be >= 0, got $pre/$post")
    val w = math.max(math.max(pre, post), 1).toLong
    val inc = index.filter(col("term") === include)
      .select(col("doc_id"), col("pos").as("pi"))
    val exc = index.filter(col("term") === exclude)
      .select(col("doc_id"), col("pos").as("pe"))
      .withColumn("__b", (col("pe") / w).cast(LongType))
    val bandedInc = inc.withColumn("__b0", (col("pi") / w).cast(LongType))
      .withColumn("__b", explode(array(col("__b0") - 1, col("__b0"),
        col("__b0") + 1)))
    val violating = bandedInc.join(exc, Seq("doc_id", "__b"))
      .filter(col("pe") >= col("pi") - pre && col("pe") <= col("pi") + post)
      .select(col("doc_id"), col("pi")).distinct()
    inc.join(violating, Seq("doc_id", "pi"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"))
  }

  /** The (doc_id, pos) START positions of every full occurrence of
    * `phrase` — [[phraseMatch]]'s adjacency fold WITHOUT the final
    * per-doc collapse; the span primitive [[spanWithin]] /
    * [[spanContaining]] build on. Same plan shape: each join touches
    * only the phrase's terms' postings. */
  private def phraseSpans(index: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    require(phrase.forall(_.nonEmpty), s"phrase contains an empty term: $phrase")
    val anchor = index.filter(col("term") === phrase.head)
      .select(col("doc_id"), col("pos"))
    phrase.zipWithIndex.drop(1).foldLeft(anchor) { case (acc, (t, i)) =>
      acc.join(index.filter(col("term") === t)
          .select(col("doc_id"), (col("pos") - i).as("pos")),
        Seq("doc_id", "pos"))
    }
  }

  /** The shared containment join of [[spanWithin]]/[[spanContaining]]
    * (X273 — Lucene SpanWithinQuery / SpanContainingQuery, the last
    * two members of the span family): `little`-term occurrences
    * sitting INSIDE a full occurrence of the `big` phrase, i.e.
    * ps ≤ pl ≤ ps + len − 1. Banded by floor(pos / len) (the
    * [[spanNearOrdered]] discipline — a contained position is within
    * len − 1 of its span start, so the pair co-locates in the span's
    * band or its successor; no positions cross-product), over the two
    * sides' postings only. Returns (doc_id, pl, ps) pairs, one row per
    * (little occurrence, containing span). */
  private def spanContainmentPairs(index: DataFrame, little: String,
      big: Seq[String]): DataFrame = {
    require(little.nonEmpty, "empty term")
    require(big.size >= 2,
      s"big must be a multi-term phrase, got $big (a 1-term big is the term itself)")
    val len = big.size.toLong
    val spans = phraseSpans(index, big)
      .select(col("doc_id"), col("pos").as("ps"))
      .withColumn("__b0", (col("ps") / len).cast(LongType))
      .withColumn("__b", explode(array(col("__b0"), col("__b0") + 1)))
    val littles = index.filter(col("term") === little)
      .select(col("doc_id"), col("pos").as("pl"))
      .withColumn("__b", (col("pl") / len).cast(LongType))
    littles.join(spans, Seq("doc_id", "__b"))
      .filter(col("pl") >= col("ps") && col("pl") <= col("ps") + (len - 1L))
      .select(col("doc_id"), col("pl"), col("ps")).distinct()
  }

  /** span_within (X273 — Lucene `SpanWithinQuery`, ES `span_within`):
    * occurrences of `little` that sit inside a full occurrence of the
    * `big` phrase — "the 'merge' that appears within 'sort merge
    * spark'", matching at SPAN grain where a Boolean AND matches whole
    * docs. Emits (doc_id, n_matches) over the surviving little
    * occurrences (each counted once however many spans cover it). */
  def spanWithin(index: DataFrame, little: String,
      big: Seq[String]): DataFrame =
    spanContainmentPairs(index, little, big)
      .select(col("doc_id"), col("pl")).distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"))

  /** span_containing (X273 — Lucene `SpanContainingQuery`, ES
    * `span_containing`): occurrences of the `big` phrase that CONTAIN
    * at least one `little` occurrence — the dual of [[spanWithin]],
    * emitting the container side. Emits (doc_id, n_spans) over the
    * qualifying big-phrase spans. */
  def spanContaining(index: DataFrame, little: String,
      big: Seq[String]): DataFrame =
    spanContainmentPairs(index, little, big)
      .select(col("doc_id"), col("ps")).distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"))

  /** Query-biased snippets (X177) — the keyword-in-context serving step
    * after retrieval ranks its hits: per doc, the windowLen-token window
    * anchored at a query-term hit that covers the MOST query-term hits
    * (Luhn's density heuristic; ties → the earliest anchor), returned as
    * (doc_id, snippet_start, n_hits, snippet-text). Positions follow
    * [[positionalPostings]]' raw-slot convention, so a persisted
    * [[graft.sources.InvertedIndex]] slice drops in unchanged.
    *
    * Scale shape — the reference's refetch discipline: the candidate scan
    * runs on the QUERY TERMS' postings only (per-doc hit lists are
    * query-bounded, collected to one small array per doc — one doc-keyed
    * exchange), and the best window is picked by a per-row higher-order
    * fold over that array, no per-candidate join or window function.
    * Text is touched exactly once, joined AFTER the anchor is chosen —
    * pass the k HIT docs (semi-joined on the ranker's ids), never the
    * corpus, and nothing corpus-sized shuffles.
    *
    * The anchor-only candidate set is the standard simplification: a
    * denser window could in principle START between hits, but any
    * window's hit set is unchanged when slid right to its first covered
    * hit, so anchoring at hits loses no density — only left-context
    * cosmetics, which a UI pads. */
  def snippets(docs: DataFrame, idCol: String, text: Column,
      index: DataFrame, terms: Seq[String], window: Int): DataFrame = {
    require(terms.nonEmpty, "no query terms")
    require(terms.forall(_.nonEmpty), s"empty term in $terms")
    require(terms.distinct.size == terms.size, s"duplicate term in $terms")
    require(window >= 0, s"window must be >= 0, got $window")
    val hits = index.filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("__hits"))
    // ascending hit order + strict > keeps the FIRST densest anchor
    val best = hits.select(col("doc_id"),
      aggregate(col("__hits"),
        struct(lit(-1).as("cnt"), lit(-1).as("p")),
        (acc, p) => {
          val c = size(filter(col("__hits"),
            q => q >= p && q <= p + window))
          when(c > acc.getField("cnt"),
            struct(c.as("cnt"), p.as("p"))).otherwise(acc)
        }).as("__best"))
      .select(col("doc_id"),
        col("__best.p").as("snippet_start"),
        col("__best.cnt").as("n_hits"))
    best.join(docs.select(col(idCol).as("doc_id"), tokens(text).as("__tk")),
        Seq("doc_id"))
      .select(col("doc_id"), col("snippet_start"), col("n_hits"),
        concat_ws(" ", slice(col("__tk"),
          col("snippet_start") + 1, lit(window + 1))).as("snippet"))
  }

  /** Multi-fragment query-biased highlighting (X239 — the ES
    * highlighter with `number_of_fragments` > 1): the top `nFrags`
    * NON-OVERLAPPING densest windows per doc — the X177 single
    * fragment, then greedily the best anchor whose window does not
    * overlap any already-selected one (|p − pⱼ| > window), each step
    * under the same (density desc, earliest-anchor) tie rule. Greedy
    * order IS score order (step densities are non-increasing), so
    * `frag` is the ES fragment ordering. Docs with fewer than nFrags
    * disjoint hit regions emit fewer rows.
    *
    * Plan shape: the selection unrolls as nFrags ≤ 8 higher-order
    * folds over the SAME per-doc hit list — still one doc-keyed
    * exchange (the X177 shape), still no per-candidate join; the
    * fragment unpivot is a per-row `stack`; text refetched once for
    * the hit docs only. */
  def snippetsMulti(docs: DataFrame, idCol: String, text: Column,
      index: DataFrame, terms: Seq[String], window: Int,
      nFrags: Int): DataFrame = {
    require(terms.nonEmpty, "no query terms")
    require(terms.forall(_.nonEmpty), s"empty term in $terms")
    require(terms.distinct.size == terms.size, s"duplicate term in $terms")
    require(window >= 0, s"window must be >= 0, got $window")
    require(nFrags >= 1 && nFrags <= 8,
      s"nFrags must be in [1, 8], got $nFrags")
    val hits = index.filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("__hits"))
    var cur = hits
    for (i <- 0 until nFrags) {
      val prior = (0 until i).map(j => col(s"__p$j"))
      cur = cur.withColumn(s"__b$i",
        aggregate(col("__hits"),
          struct(lit(0).as("cnt"), lit(-1).as("p")),
          (acc, p) => {
            // a failed earlier step (p = -1) excludes nothing — later
            // steps are vacuous then anyway (the candidate set only
            // shrinks), but the guard keeps the predicate honest
            val ok = prior.foldLeft(lit(true))((a, pj) =>
              a && (pj < 0 || abs(p - pj) > window))
            val c = size(filter(col("__hits"),
              q => q >= p && q <= p + window))
            when(ok && c > acc.getField("cnt"),
              struct(c.as("cnt"), p.as("p"))).otherwise(acc)
          }))
        .withColumn(s"__p$i", col(s"__b$i.p"))
        .withColumn(s"__c$i", col(s"__b$i.cnt"))
    }
    val stackSql = s"stack($nFrags, " + (0 until nFrags)
      .map(i => s"${i + 1}, __p$i, __c$i").mkString(", ") +
      ") AS (frag, snippet_start, n_hits)"
    cur.select(col("doc_id"), expr(stackSql))
      .filter(col("snippet_start") >= 0)
      .join(docs.select(col(idCol).as("doc_id"), tokens(text).as("__tk")),
        Seq("doc_id"))
      .select(col("doc_id"), col("frag"), col("snippet_start"),
        col("n_hits"),
        concat_ws(" ", slice(col("__tk"),
          col("snippet_start") + 1, lit(window + 1))).as("snippet"))
  }

  /** Fuzzy term suggestions (X183) — the "did you mean" leg of a search
    * stack: for each (lowercased) query term, the corpus vocabulary
    * terms within Levenshtein distance 1, ranked (dist ASC, df DESC,
    * term ASC) top-k. Candidate generation is the SymSpell deletion-
    * neighborhood trick (Garbe's symmetric delete algorithm, public):
    * every distance-1 pair — substitution, insertion or deletion —
    * shares a string in the two sides' {self} ∪ {delete-one-char}
    * variant sets, so an EQUI-join on variants yields a candidate
    * superset and one exact `levenshtein` per candidate makes it exact.
    *
    * Scale shape: the corpus appears only through the vocabulary census
    * (one term-keyed exchange with map-side combine); the variant
    * explode is vocabulary-sized × (len+1); the join is a hash join on
    * the variant string — the V×Q cross-join a naive edit-distance scan
    * would do never forms (the oracle BRUTE-FORCES that cross join,
    * which is exactly the differential: same answer, opposite plan). */
  def fuzzySuggest(docs: DataFrame, idCol: String, text: Column,
      queryTerms: Seq[String], topK: Int): DataFrame =
    fuzzySuggestVocab(
      positionalPostings(docs, idCol, text)
        .groupBy(col("term")).agg(count_distinct(col("doc_id")).as("df")),
      queryTerms, topK)

  /** [[fuzzySuggest]] over a PREBUILT (term, df) vocabulary — the
    * serving form: a persisted index's term census
    * ([[graft.sources.InvertedIndex.vocab]]) drops in and the corpus
    * text is never touched (q224 reuses q223's oracle verbatim). */
  /** Prefix completion ("search-as-you-type", X192) over a (term, df)
    * vocabulary: the top-k terms extending each prefix, ranked
    * (df DESC, term ASC) — the autocomplete leg of a search stack,
    * served like [[fuzzySuggestVocab]] from a persisted index's census
    * ([[graft.sources.InvertedIndex.vocab]]) so the corpus text (and,
    * with the census sidecar, even the postings layout) is never read.
    *
    * Scale shape: one vocabulary-sized scan with a leading
    * `startswith` filter (pushdown-friendly on a term-sorted census
    * file), a per-prefix window over only the matching terms, no joins;
    * prefixes are query-side literals (a UI sends a handful). Case
    * folds to lowercase — the vocabulary's own normalization. */
  def prefixSuggest(vocab: DataFrame, prefixes: Seq[String],
      topK: Int): DataFrame = {
    require(prefixes.nonEmpty, "no prefixes")
    require(prefixes.forall(_.nonEmpty), s"empty prefix in $prefixes")
    require(prefixes.distinct.size == prefixes.size,
      s"duplicate prefix in $prefixes")
    require(topK > 0, s"topK must be positive, got $topK")
    import org.apache.spark.sql.expressions.Window
    val spark = vocab.sparkSession
    import spark.implicits._
    val p = prefixes.map(_.toLowerCase).toDF("prefix")
    vocab.join(broadcast(p), startswith(col("term"), col("prefix")))
      .withColumn("rank", row_number().over(Window.partitionBy(col("prefix"))
        .orderBy(col("df").desc, col("term").asc)))
      .filter(col("rank") <= topK)
      .select(col("prefix"), col("term"), col("df"), col("rank"))
  }

  /** Phrase-suggester candidate generation (X234 — the generation half
    * of the Elasticsearch phrase suggester): per query slot, the top
    * `perTermK` distance-≤1 vocabulary corrections from
    * [[fuzzySuggestVocab]] (dist asc, df desc, term asc — exact terms
    * rank first, so a well-spelled slot keeps itself as option 1); a
    * slot with NO in-vocabulary candidate keeps the original term (the
    * ES keep-original behavior — the LM then prices it as unknown).
    * The slot option lists cross-multiply into whole-phrase candidates
    * with their change count — the frame a language model
    * ([[graft.sources.NgramLm.score]]) reranks, completing the
    * suggester ("did you mean" for QUERIES, not single terms).
    *
    * The candidate space is perTermK^slots, REQUIRED ≤ 1024 — the
    * bounded-scalar-anchor class (the per-slot lists collect
    * driver-side; candidates are a LocalRelation, recompute-free).
    * Output: (phrase, n_changes), phrases distinct by construction
    * (slot-wise concatenation is injective). */
  def phraseCandidates(vocab: DataFrame, queryTerms: Seq[String],
      perTermK: Int = 2): DataFrame = {
    require(queryTerms.nonEmpty, "no query terms")
    require(queryTerms.forall(_.nonEmpty), s"empty term in $queryTerms")
    require(perTermK >= 1 && perTermK <= 8,
      s"perTermK must be in [1, 8], got $perTermK")
    val lower = queryTerms.map(_.toLowerCase)
    require(math.pow(perTermK.toDouble, lower.size.toDouble) <= 1024,
      s"candidate space ${perTermK}^${lower.size} exceeds the 1024 bound")
    val spark = vocab.sparkSession
    import spark.implicits._
    val byQ: Map[String, Seq[String]] =
      fuzzySuggestVocab(vocab, lower.distinct, perTermK)
        .select(col("qterm"), col("term"), col("rank"))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2)))
        .groupBy(_._1)
        .map { case (q, rows) => q -> rows.sortBy(_._3).map(_._2).toSeq }
    val slots = lower.map(q => byQ.getOrElse(q, Seq(q)))
    val phrases = slots.foldLeft(Seq(Seq.empty[String])) { (acc, opts) =>
      for { p <- acc; o <- opts } yield p :+ o
    }
    phrases.map { ws =>
      (ws.mkString(" "),
        ws.zip(lower).count { case (w, q) => w != q }.toLong)
    }.toDF("phrase", "n_changes")
  }

  def fuzzySuggestVocab(vocab: DataFrame, queryTerms: Seq[String],
      topK: Int): DataFrame = {
    require(queryTerms.nonEmpty, "no query terms")
    require(queryTerms.forall(_.nonEmpty), s"empty term in $queryTerms")
    require(queryTerms.distinct.size == queryTerms.size,
      s"duplicate term in $queryTerms")
    require(topK > 0, s"topK must be positive, got $topK")
    import org.apache.spark.sql.expressions.Window
    // {self} ∪ {delete char i | i < len}; terms are non-empty on both
    // sides, so the sequence never descends (the bpeMerges lesson)
    def variants(t: Column): Column = concat(array(t),
      transform(sequence(lit(0), length(t) - 1),
        i => concat(t.substr(lit(1), i), t.substr(i + lit(2), length(t)))))
    val spark = vocab.sparkSession
    import spark.implicits._
    val vvar = vocab.select(col("term"), col("df"),
      explode(variants(col("term"))).as("variant"))
    val qvar = queryTerms.map(_.toLowerCase).toDF("qterm")
      .select(col("qterm"), explode(variants(col("qterm"))).as("variant"))
    qvar.join(vvar, Seq("variant"))
      .select(col("qterm"), col("term"), col("df")).distinct()
      .withColumn("dist", levenshtein(col("qterm"), col("term")))
      .filter(col("dist") <= 1)
      .withColumn("rank", row_number().over(Window.partitionBy(col("qterm"))
        .orderBy(col("dist").asc, col("df").desc, col("term").asc)))
      .filter(col("rank") <= topK)
  }

  /** Collocation mining by pointwise mutual information over the bigram
    * table: PMI(w1,w2) = ln(n12 * T / (n1+ * n+2)) with marginals and the
    * total all derived from ONE [[bigramPairs]] aggregation — the
    * collocation ranking behind tokenizer-merge candidates and
    * multi-word-expression lexicons ("new york" scores high, "of the"
    * low). `minCount` suppresses the classic PMI low-frequency blowup
    * (hapax pairs trivially maximize PMI).
    *
    * Scale shape: the count table is pinned (vocabulary-sized, three
    * consumers — the X64 discipline); marginals and the broadcast total
    * re-aggregate the pinned rows, never the corpus; the cut is the
    * distributed top-k heap. Determinism: PMI's argument is integer
    * ratios in double (exact products at corpus scale < 2^53 — beyond
    * that, marginal products saturate double precision before PMI stops
    * being meaningful), ln behind the round-6 guard. */
  def collocations(docs: DataFrame, idCol: String, text: Column,
      minCount: Int = 5, k: Int = 20): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(k > 0, s"k must be positive, got $k")
    val bg = bigramPairs(docs, idCol, text)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n12"))
      .localCheckpoint(true)
    val h1 = bg.groupBy(col("w1")).agg(sum(col("n12")).as("n1"))
    val h2 = bg.groupBy(col("w2")).agg(sum(col("n12")).as("n2"))
    val tot = bg.agg(sum(col("n12")).as("__t"))
    bg.filter(col("n12") >= minCount)
      .join(h1, Seq("w1"))
      .join(h2, Seq("w2"))
      .crossJoin(broadcast(tot))
      .withColumn("pmi", round(log(
        col("n12").cast(DoubleType) * col("__t").cast(DoubleType) /
          (col("n1").cast(DoubleType) * col("n2").cast(DoubleType))), 6))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(k)
      .select(col("w1"), col("w2"), col("n12"), col("n1"), col("n2"), col("pmi"))
  }

  /** BM25 keyword ranking (Robertson-Sparck Jones; the Lucene
    * `ln(1 + (N - df + 0.5)/(df + 0.5))` idf variant, k1/b defaults
    * 1.2/0.75): top-k documents for a bag of query terms — the exact
    * keyword leg a hybrid (dense + sparse) retrieval stack needs next to
    * the cosine leg.
    *
    * Plan shape: ONE doc-keyed aggregation computes `dl` (token count) and
    * per-query-term `tf` as columns of the same pass — no postings join,
    * no per-term frames; the corpus-level stats (N, avgdl, per-term df)
    * collapse to a single broadcast row. Scoring is then a per-row map and
    * the cut a TakeOrderedAndProject heap. N counts docs with at least one
    * token (empty docs score 0 and are excluded by construction).
    *
    * Determinism: per-term partial scores round at 6 then sum in fixed
    * term order (a fixed-length chain of IEEE adds — not an
    * order-unstable aggregate); only ln sits behind the rounding guard. */
  def bm25TopK(docs: DataFrame, idCol: String, text: Column,
      queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "no query terms")
    require(queryTerms.distinct.size == queryTerms.size, s"duplicate term in $queryTerms")
    require(k > 0, s"k must be positive, got $k")
    val terms = queryTerms.zipWithIndex
    val perDoc = docs
      .select(col(idCol).as("doc_id"), explode_outer(tokens(text)).as("__t"))
      .filter(col("__t").isNotNull && col("__t") =!= "")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dl"),
        terms.map { case (t, i) =>
          count(when(col("__t") === t, 1)).as(s"tf$i") }: _*)
    bm25Rank(perDoc, queryTerms.size, k, k1, b)
      .withColumnRenamed("doc_id", idCol)
  }

  /** The ranking half of [[bm25TopK]] over an EXPLICIT
    * (doc_id, dl, tf0..tf{n-1}) frame — shared by the tokenize path
    * above and the persisted-index path
    * ([[graft.sources.InvertedIndex]].bm25), so the two cannot drift.
    * Without `corpusStats` the frame must contain EVERY document with
    * at least one token (N and avgdl are corpus stats, not match
    * stats); WITH it — one broadcast (n_docs, avgdl) row the caller
    * computed over the full doclens with these exact expression shapes
    * — the frame may be MATCH-ONLY (docs with ≥ 1 query term), the ES
    * contract: df still aggregates from the frame (every doc with
    * tf_i > 0 is in it by definition), and the score > 0 filter below
    * makes the two framings emit identical rows. `gate` filters the
    * SCORED rows (e.g. X184 minimum-should-match) — applied after the
    * stats aggregate, so N/avgdl/df stay corpus-wide exactly as
    * Lucene's msm leaves idf untouched. */
  private[graft] def bm25Rank(perDoc: DataFrame, nTerms: Int, k: Int,
      k1: Double, b: Double, gate: Column = lit(true),
      corpusStats: Option[DataFrame] = None): DataFrame =
    bm25Scored(perDoc, nTerms, k1, b, gate, corpusStats)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("dl"), round(col("score"), 6).as("score"))

  /** The scoring half of [[bm25Rank]] WITHOUT the top-k heap: every
    * matching doc's (doc_id, dl, score) with the score UNROUNDED (the
    * heap path above orders on the exact sum and rounds only for
    * display, and so must any consumer that wants its exact tie order).
    * The paged serving path ([[graft.sources.InvertedIndex.bm25Page]])
    * rounds FIRST and pages on the rounded total order instead — a
    * cursor must be reconstructible from a previous page's emitted
    * values. */
  private[graft] def bm25Scored(perDoc: DataFrame, nTerms: Int,
      k1: Double, b: Double, gate: Column = lit(true),
      corpusStats: Option[DataFrame] = None): DataFrame = {
    val idx = 0 until nTerms
    val dfAggs = idx.map { i =>
      count(when(col(s"tf$i") > 0, 1)).as(s"df$i") }
    val stats = corpusStats match {
      case Some(cs) => perDoc.agg(dfAggs.head, dfAggs.tail: _*).crossJoin(cs)
      case None => perDoc.agg(
        count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast(DoubleType) / count(lit(1))).as("avgdl")
          +: dfAggs: _*)
    }
    val scored = perDoc.crossJoin(broadcast(stats))
    val partials = idx.map { i =>
      val tf = col(s"tf$i").cast(DoubleType)
      val df = col(s"df$i").cast(DoubleType)
      val idf = log(lit(1.0) + (col("n_docs").cast(DoubleType) - df + lit(0.5)) / (df + lit(0.5)))
      val norm = tf + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl").cast(DoubleType) / col("avgdl"))
      round(idf * tf * lit(k1 + 1.0) / norm, 6)
    }
    scored
      .withColumn("score", partials.reduce(_ + _))
      .filter(col("score") > 0 && gate)
      .select(col("doc_id"), col("dl"), col("score"))
  }

  /** Synonym-aware BM25 top-k (the Lucene `SynonymQuery` semantics,
    * public contract: all terms of a group score as ONE pseudo-term
    * whose tf is the SUM of the members' tfs and whose document
    * frequency is the MAX of the members' dfs — a blended idf, so "usa
    * OR u.s." never double-counts a concept the way naive OR expansion
    * does). `groups` is the expanded query: one inner Seq per concept
    * (singletons are plain terms). Reference capability level:
    * wp-vector-db.php search routes (keyword search surface).
    *
    * Tokenize path — per-doc member tfs come from one doc-keyed
    * aggregation over the exploded tokens (the [[bm25TopK]] plan: a
    * single exchange, map-side combined); the ranking half is
    * [[bm25SynRank]], shared with the persisted-index path
    * ([[graft.sources.InvertedIndex.bm25Synonyms]]) so the two cannot
    * drift. */
  def bm25SynTopK(docs: DataFrame, idCol: String, text: Column,
      groups: Seq[Seq[String]], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val members = validateGroups(groups)
    require(k > 0, s"k must be positive, got $k")
    val perDoc = docs
      .select(col(idCol).as("doc_id"), explode_outer(tokens(text)).as("__t"))
      .filter(col("__t").isNotNull && col("__t") =!= "")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dl"),
        members.map { case (t, i) =>
          count(when(col("__t") === t, 1)).as(s"tf$i") }: _*)
    bm25SynRank(perDoc, groups, k, k1, b)
      .withColumnRenamed("doc_id", idCol)
  }

  /** `groups` contract shared by both synonym surfaces: non-empty, no
    * empty group, and a term may appear in ONE group only (a member of
    * two groups would score one occurrence twice). Returns the members
    * flattened with their global tf-column index. */
  private[graft] def validateGroups(groups: Seq[Seq[String]]): Seq[(String, Int)] = {
    require(groups.nonEmpty, "no synonym groups")
    require(groups.forall(_.nonEmpty), "empty synonym group")
    val flat = groups.flatten
    require(flat.distinct.size == flat.size,
      s"a term appears in more than one group: $groups")
    flat.zipWithIndex
  }

  /** The ranking half of [[bm25SynTopK]] over an explicit
    * (doc_id, dl, tf0..tf{m-1}) frame with one tf column per MEMBER
    * (flattened group order). Group tf = exact integer sum of member
    * tfs; group df = GREATEST of member dfs (both computed here, so the
    * corpus stats stay one broadcast row exactly like [[bm25Scored]]);
    * per-group partials round at 6 and sum in fixed group order. */
  private[graft] def bm25SynRank(perDoc: DataFrame, groups: Seq[Seq[String]],
      k: Int, k1: Double, b: Double,
      corpusStats: Option[DataFrame] = None): DataFrame = {
    val sizes = groups.map(_.size)
    val starts = sizes.scanLeft(0)(_ + _)
    val memberIdx = groups.indices.map(g => starts(g) until starts(g + 1))
    val nMembers = sizes.sum
    val dfAggs = (0 until nMembers).map { i =>
      count(when(col(s"tf$i") > 0, 1)).as(s"df$i") }
    val stats = corpusStats match {
      case Some(cs) => perDoc.agg(dfAggs.head, dfAggs.tail: _*).crossJoin(cs)
      case None => perDoc.agg(
        count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast(DoubleType) / count(lit(1))).as("avgdl")
          +: dfAggs: _*)
    }
    val scored = perDoc.crossJoin(broadcast(stats))
    val partials = memberIdx.map { idx =>
      val tf = idx.map(i => col(s"tf$i")).reduce(_ + _).cast(DoubleType)
      val df = (if (idx.size == 1) col(s"df${idx.head}")
        else greatest(idx.map(i => col(s"df$i")): _*)).cast(DoubleType)
      val idf = log(lit(1.0) + (col("n_docs").cast(DoubleType) - df + lit(0.5)) / (df + lit(0.5)))
      val norm = tf + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl").cast(DoubleType) / col("avgdl"))
      round(idf * tf * lit(k1 + 1.0) / norm, 6)
    }
    scored
      .withColumn("score", partials.reduce(_ + _))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("dl"), round(col("score"), 6).as("score"))
  }

  /** BM25F top-k (Robertson & Zaragoza, "Simple BM25 extension to
    * multiple weighted fields", CIKM'04): per-field term frequencies
    * are length-normalized PER FIELD, weighted, and SUMMED into one
    * pseudo-frequency before the k1 saturation — so a title hit is
    * worth `wHead` body hits but saturates on the same curve, which is
    * why BM25F beats naive per-field score addition. Fields here are
    * DERIVED from the single stored text (reference stores one content
    * blob): `head` = the first `headLen` tokens (the title/lede proxy),
    * `body` = the rest.
    *
    * Arithmetic: tf̃(t,d) = Σ_f w_f · tf_f / (1 − b_f + b_f·dl_f/avgdl_f),
    * score(d) = Σ_t idf(t) · tf̃ / (k1 + tf̃) with the Lucene idf variant;
    * df counts DOCUMENTS containing the term in any field. A corpus
    * whose bodies are all empty degenerates the body norm to 0/0 — that
    * field's norm pins to 1 (the `when` guard), mirrored in the oracle.
    * `N` counts docs with at least one token, as in [[bm25TopK]].
    *
    * Plan shape: tfs are higher-order `filter` sizes on the token array
    * (pure codegen'd per-row maps — no explode, no shuffle); the corpus
    * stats collapse to one broadcast row; the cut is a
    * TakeOrderedAndProject heap. Per-group partials round at 6 and sum
    * in fixed term order. */
  def bm25fTopK(docs: DataFrame, idCol: String, text: Column,
      headLen: Int, queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, wHead: Double = 2.0, wBody: Double = 1.0,
      bHead: Double = 0.75, bBody: Double = 0.75): DataFrame = {
    require(headLen >= 1, s"headLen must be positive, got $headLen")
    require(queryTerms.nonEmpty, "no query terms")
    require(queryTerms.distinct.size == queryTerms.size,
      s"duplicate term in $queryTerms")
    require(k > 0, s"k must be positive, got $k")
    val terms = queryTerms.zipWithIndex
    val tk = filter(tokens(text), t => t.isNotNull && t =!= "")
    val perDoc = docs
      .select(col(idCol).as("doc_id"), tk.as("__tk"))
      .filter(size(col("__tk")) > 0)
      .select(
        col("doc_id"),
        slice(col("__tk"), 1, headLen).as("__head"),
        expr(s"slice(__tk, ${headLen + 1}, " +
          s"greatest(size(__tk) - $headLen, 0))").as("__body"))
      .select(
        col("doc_id") +:
          size(col("__head")).cast(LongType).as("dlh") +:
          size(col("__body")).cast(LongType).as("dlb") +:
          terms.flatMap { case (t, i) => Seq(
            size(filter(col("__head"), x => x === t)).cast(LongType).as(s"tfh$i"),
            size(filter(col("__body"), x => x === t)).cast(LongType).as(s"tfb$i"))
          }: _*)
    bm25fRank(perDoc, queryTerms.size, k, k1, wHead, wBody, bHead, bBody)
      .withColumnRenamed("doc_id", idCol)
  }

  /** The ranking half of [[bm25fTopK]] over an explicit
    * (doc_id, dlh, dlb, tfh0..tfh{n-1}, tfb0..tfb{n-1}) frame — SHARED
    * with [[graft.sources.InvertedIndex.bm25fTopK]] (the X173
    * discipline: one ranking core, so the tokenize path and the
    * index-served path cannot drift). Stats (n_docs, per-field avgdl,
    * per-term any-field df) collapse to ONE broadcast row computed from
    * `perDoc` with the exact expression shapes of the tokenize path;
    * per-term partials round at 6 and sum in fixed term order; the cut
    * is a TakeOrderedAndProject heap. */
  private[graft] def bm25fRank(perDoc: DataFrame, nTerms: Int, k: Int,
      k1: Double, wHead: Double, wBody: Double,
      bHead: Double, bBody: Double): DataFrame = {
    val idx = 0 until nTerms
    val stats = perDoc.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dlh")).cast(DoubleType) / count(lit(1))).as("avgdlh")
        +: (sum(col("dlb")).cast(DoubleType) / count(lit(1))).as("avgdlb")
        +: idx.map { i =>
          count(when(col(s"tfh$i") + col(s"tfb$i") > 0, 1)).as(s"df$i") }: _*)
    val scored = perDoc.crossJoin(broadcast(stats))
    def fieldNorm(dl: Column, avgdl: Column, b: Double): Column =
      when(avgdl > 0,
        lit(1.0) - lit(b) + lit(b) * dl.cast(DoubleType) / avgdl)
        .otherwise(lit(1.0))
    val partials = idx.map { i =>
      val tft = lit(wHead) * col(s"tfh$i").cast(DoubleType) /
          fieldNorm(col("dlh"), col("avgdlh"), bHead) +
        lit(wBody) * col(s"tfb$i").cast(DoubleType) /
          fieldNorm(col("dlb"), col("avgdlb"), bBody)
      val df = col(s"df$i").cast(DoubleType)
      val idf = log(lit(1.0) + (col("n_docs").cast(DoubleType) - df + lit(0.5)) / (df + lit(0.5)))
      round(idf * tft / (lit(k1) + tft), 6)
    }
    scored
      .withColumn("score", partials.reduce(_ + _))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("dlh"), col("dlb"),
        round(col("score"), 6).as("score"))
  }

  /** Per-document language-mix profile (code-switching detector): runs the
    * [[langId]] heuristic per NON-BLANK LINE and aggregates — `n_lines`,
    * `majority_lang` (most frequent line language, ties to the
    * lexicographically first — the [[langId]] tie discipline),
    * `majority_frac`, and `n_langs` (distinct identified languages,
    * 'und' excluded). A doc-level [[langId]] call hides a 60/40
    * English/German page behind whichever wins the global stopword count;
    * the line profile exposes it — route `majority_frac < threshold` docs
    * to segmentation instead of dropping them. Docs with no non-blank
    * lines are omitted.
    *
    * Scale shape: per-line language is a pure Column map behind the
    * explode; lines collapse immediately to (doc, lang) counts with
    * map-side combine, so the doc_id exchange carries at most
    * |languages|+1 rows per doc; the majority pick is a per-doc window
    * over those few rows, reusing the same exchange. */
  def langProfile(docs: DataFrame, idCol: String, text: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .select(col(idCol).as("doc_id"), explode_outer(split(text, "\n", -1)).as("__line"))
      .filter(length(trim(col("__line"))) > 0)
      .withColumn("__ll", langId(col("__line")))
      .groupBy(col("doc_id"), col("__ll"))
      .agg(count(lit(1)).as("__n"))
      .repartition(col("doc_id"))
    val w = Window.partitionBy(col("doc_id"))
    val ord = Window.partitionBy(col("doc_id")).orderBy(col("__n").desc, col("__ll").asc)
    counts
      .withColumn("n_lines", sum(col("__n")).over(w))
      .withColumn("n_langs", count(when(col("__ll") =!= "und", 1)).over(w))
      .withColumn("__rk", row_number().over(ord))
      .filter(col("__rk") === 1)
      .select(col("doc_id").as(idCol), col("n_lines"),
        col("__ll").as("majority_lang"),
        round(col("__n").cast(DoubleType) / col("n_lines").cast(DoubleType), 6)
          .as("majority_frac"),
        col("n_langs"))
  }

  /** Content fingerprint: first 16 hex chars of md5 over the
    * whitespace-normalized lowercased text. Cross-engine-stable dedup key
    * (md5 is identical everywhere; JVM murmur is not). */
  def fingerprint(text: Column): Column =
    substring(md5(regexp_replace(lower(trim(text)), s"[$Ws]+", " ")), 1, 16)

  /** Unicode NFC normalization (UAX #15) as a Column — the
    * [[graft.functions.NfcNormalize]] codegen expression. Canonicalizes
    * composed/decomposed sequences ("café" both ways) to one byte form;
    * identity (and allocation-free) on already-normalized/ASCII rows. */
  def nfc(text: Column): Column = {
    import org.apache.spark.sql.GraftSql
    GraftSql.column(graft.functions.NfcNormalize(GraftSql.expression(text)))
  }

  /** Aggressive canonicalization before fingerprinting (X127): on top of
    * [[fingerprint]]'s lowercase + whitespace collapse, strip
    * punctuation and mask every digit run to `0` — the CCNet-style
    * preprocessing that catches the near-exact crawl-noise dup class a
    * raw fingerprint misses (re-serialized punctuation, view counters,
    * timestamps, version strings embedded in otherwise-identical pages).
    * DELIBERATELY lossy: "v2" and "v3" of a page collide — that is the
    * point; pair with raw [[fingerprint]] when revision identity
    * matters (see the q171 delta query). The regex steps are
    * dialect-exact (explicit classes, no lookarounds), oracle-mirrored,
    * and the step order (NFC-normalize — composed and decomposed "café"
    * must not split one page into two keys — then mask digits, strip
    * punctuation to spaces, collapse whitespace, trim the edges the
    * strip can create) is pinned as part of the contract — any engine
    * must apply the identical sequence to reproduce the keys. */
  def normalizedFingerprint(text: Column): Column = {
    val digitsMasked = regexp_replace(lower(trim(nfc(text))), "[0-9]+", "0")
    val punctStripped = regexp_replace(digitsMasked, PunctRe, " ")
    substring(md5(trim(regexp_replace(punctStripped, s"[$Ws]+", " "))), 1, 16)
  }

  /** Log-template clustering (the ES `categorize_text` aggregation —
    * the template-detection triage pass for machine-generated text,
    * complementing X51 novelty and X92 diversity): rows differing only
    * in the volatile fields (ids, counters, timestamps, sizes) cluster
    * under one TEMPLATE, the token skeleton left after masking. The
    * skeleton applies the X127 masking discipline, pinned as the
    * contract (oracle-mirrored step for step): NFC-normalize (composed
    * and decomposed text must not split a template), lowercase, trim,
    * mask every digit run to `<n>`, collapse whitespace. Punctuation
    * KEEPS — in a log line it is structure ("user=<n>" vs "user <n>"
    * are different templates), the opposite call from
    * [[normalizedFingerprint]]'s dedup key, and why this is its own
    * surface. Output per template: `doc_count` + `example` (the
    * lexicographically smallest raw member — deterministic,
    * partition-order-free; ES returns a sampled example, an
    * oracle-gated engine cannot). One map-side-combined aggregate;
    * empty-after-masking rows drop (no defined template). */
  def categorizeText(docs: DataFrame, text: Column): DataFrame = {
    val skeleton = trim(regexp_replace(
      regexp_replace(lower(trim(nfc(text))), "[0-9]+", "<n>"),
      s"[$Ws]+", " "))
    docs.select(skeleton.as("template"), text.cast(StringType).as("__raw"))
      .filter(col("template").isNotNull && col("template") =!= "")
      .groupBy(col("template"))
      .agg(count(lit(1)).as("doc_count"), min(col("__raw")).as("example"))
  }

  /** Polynomial rolling hash (base 31, mod the largest prime < 2^57)
    * over the normalized text — the classic streaming fingerprint;
    * engine-side alternative to [[fingerprint]] when a numeric key is
    * preferred. The modulus is deliberately < 2^57, NOT 2^61-1: the
    * accumulator reaches M-1 and the next step computes
    * acc*31 + codepoint BEFORE reducing (ascii() yields the full Unicode
    * codepoint, up to 1,114,111 — not 255), which must stay under 2^63 or
    * ANSI mode (Spark 4 default) throws ARITHMETIC_OVERFLOW mid-aggregate
    * (same bound discipline as [[Dedup.MinhashA]]'s a,b < 2^28). */
  def rollingHash(text: Column): Column = {
    val M = 144115188075855859L // largest prime < 2^57; 31*M + 1114111 < 2^63
    aggregate(
      split(regexp_replace(lower(trim(text)), s"[$Ws]+", " "), ""),
      lit(0L),
      (acc, ch) => pmod(acc * lit(31L) + coalesce(ascii(ch).cast(LongType), lit(0L)), lit(M)))
  }

  /** Word n-gram shingles over an already-materialized token array.
    *
    * Take a bound attribute, NOT `tokens(text)` inline: each of the n
    * `element_at` sites inside the transform lambda re-evaluates its child
    * expression per sequence element, and whole-stage codegen does no
    * common-subexpression elimination across HOF lambda boundaries — an
    * inline tokenizer would re-split the text O(n·|shingles|) times per
    * row (measured: 87s -> ~seconds on 50k docs at sf0.1). */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    when(size(toks) < n, array())
      .otherwise(transform(
        sequence(lit(0), size(toks) - lit(n)),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*)))

  /** Word n-gram shingles from raw text. Only safe where the input frame
    * materializes per row once (e.g. tiny fixtures); hot paths should
    * project `tokens(text)` into a column first and use
    * [[shinglesFromTokens]] — see that method's codegen note. */
  def shingles(text: Column, n: Int): Column = shinglesFromTokens(tokens(text), n)

  /** TF-IDF top terms per document over the whitespace tokenizer.
    *
    * Shape at scale: explode to (doc, term) postings, hash-agg tf (map-side
    * combine collapses each task to its distinct (doc, term) set), df is a
    * second agg over the postings, joined back broadcast (vocabulary is
    * tiny next to the corpus). One shuffle on (doc, term), one on term, one
    * window on doc for the top-N cut — no step holds a full document in
    * memory.
    *
    * `broadcastVocab` controls the tf-df join: the vocabulary grows with
    * the corpus (hundreds of millions of distinct terms at web scale), so
    * the scale-safe default shuffles; set it true only when the
    * vocabulary is known small (bounded domain, pre-filtered min-df) —
    * that skips re-shuffling the full postings aggregate by term.
    * `logIdf = true` uses the classic
    * `tf * ln(N/df)`. `logIdf = false`
    * uses the rational variant `tf * (N+1)/(df+1)` — same ranking
    * direction, but every arithmetic step is a single IEEE operation, so
    * results are bit-identical across engines (ln's last-ulp differs
    * between libm implementations; fine in production, fatal for an exact
    * cross-engine oracle). */
  def tfidfTopTerms(docs: DataFrame, idCol: String, text: Column, topN: Int,
      logIdf: Boolean = true, broadcastVocab: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // one exchange serves both downstream shapes: HashPartitioning(doc_id)
    // satisfies the (doc_id, term) grouping's clustering requirement AND
    // the per-doc window — without it the plan shuffles the postings for
    // the agg and re-shuffles the tf rows for the top-N window
    val tf = postings(docs, idCol, text).repartition(col("doc_id"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.select(countDistinct(col(idCol))).first().getLong(0)
    val idf =
      if (logIdf) log(lit(n.toDouble) / col("df").cast(DoubleType))
      else lit((n + 1).toDouble) / (col("df") + lit(1)).cast(DoubleType)
    val scored = tf.join(if (broadcastVocab) broadcast(df) else df, Seq("term"))
      .withColumn("tfidf", col("tf").cast(DoubleType) * idf)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        round(col("tfidf"), 6).as("tfidf"), col("rank"))
  }

  /** Gopher-style repetition signals, per row, shuffle-free:
    *  - `dup_ngram_frac`: fraction of word n-grams that are repeats of an
    *    earlier n-gram in the same doc (0 for docs shorter than n tokens);
    *  - `top_token_frac`: mass of the single most frequent token.
    * Both are standard quality-filter inputs for pretraining corpora
    * (boilerplate and degenerate repetition score high). Computed with
    * array HOFs only — per-row maps, no explode/groupBy shuffle; the
    * token/shingle arrays are staged per the module's codegen invariant. */
  def repetitionSignals(docs: DataFrame, idCol: String, text: Column,
      n: Int = 3): DataFrame =
    docs
      .withColumn("__toks", tokens(text))
      .withColumn("__sh", shinglesFromTokens(col("__toks"), n))
      .withColumn("dup_ngram_frac",
        round(when(size(col("__sh")) === 0, 0.0).otherwise(
          (size(col("__sh")) - size(array_distinct(col("__sh")))).cast(DoubleType) /
            size(col("__sh")).cast(DoubleType)), 6))
      // max token count = longest run in the SORTED token array: one
      // O(n log n) sort + one linear aggregate pass, instead of the
      // O(distinct x n) rescan-per-distinct-token formulation (quadratic
      // on exactly the long documents this operator targets)
      .withColumn("__maxrun",
        aggregate(array_sort(col("__toks")),
          struct(lit("\u0000").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
          (acc, t) => {
            val run = when(t === acc.getField("prev"), acc.getField("run") + 1L)
              .otherwise(lit(1L))
            struct(t.as("prev"), run.as("run"),
              greatest(acc.getField("best"), run).as("best"))
          },
          acc => acc.getField("best")))
      .withColumn("top_token_frac",
        round(when(size(col("__toks")) === 0, 0.0).otherwise(
          col("__maxrun").cast(DoubleType) /
            size(col("__toks")).cast(DoubleType)), 6))
      .drop("__toks", "__sh", "__maxrun")

  /** Character-pair statistics over the token census (X90): corpus-wide
    * counts of adjacent character pairs INSIDE tokens, weighted by token
    * frequency — step 1 of BPE vocabulary induction (Sennrich et al.,
    * ACL 2016): the top pair IS the first merge, and re-running after
    * applying merges yields the full merge table. Sits one level below
    * [[collocations]] (word-level PMI) in the tokenizer stack.
    *
    * Scale shape: the corpus collapses to a VOCAB-SIZED token census
    * first (one map-side-combined exchange); pair generation explodes
    * only the DISTINCT tokens with frequency riding as a weight — a
    * token occurring a billion times costs one row of character work
    * (the X64 pinned-model discipline applied to the vocabulary itself).
    * The final cut is a TakeOrdered heap.
    *
    * Caveat: Spark's `split(tok, "")` is UTF-16-unit-based while the
    * oracle splits by codepoint — identical on BMP text (this corpus is
    * ASCII), divergent on surrogate pairs; byte-level BPE over
    * `encode(tok, 'utf-8')` is the non-BMP-safe variant. */
  def bpePairStats(docs: DataFrame, text: Column, k: Int = 20): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val census = docs.select(explode(tokens(text)).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("n_tok"))
    val chars = split(col("tok"), "")
    census
      .withColumn("__cs", chars)
      .filter(size(col("__cs")) >= 2)
      .select(col("n_tok"), explode(transform(
        sequence(lit(0), size(col("__cs")) - 2),
        i => struct(element_at(col("__cs"), i + 1).as("c1"),
          element_at(col("__cs"), i + 2).as("c2")))).as("__p"))
      .groupBy(col("__p.c1").as("c1"), col("__p.c2").as("c2"))
      .agg(sum(col("n_tok")).as("n_pairs"))
      .orderBy(col("n_pairs").desc, col("c1").asc, col("c2").asc)
      .limit(k)
  }

  /** Content-defined chunking (X87): chunk boundaries chosen by a content
    * hash instead of fixed windows — the Rabin-style cut rule of
    * dedup-friendly storage (LBFS, Muthitacharoen et al. SOSP '01) lifted
    * to token streams. A token ENDS its chunk when its 28-bit md5 base is
    * ≡ 0 (mod `divisor`), so an edit early in a document disturbs at most
    * the chunk it lands in — fixed windows ([[chunksFromTokens]]) re-slice
    * EVERYTHING downstream of the edit, defeating chunk-level dedup and
    * embedding reuse across crawl snapshots. Expected chunk length is
    * `divisor` tokens (geometric); pick 64-512 for embedding chunks.
    *
    * Emits (doc_id, chunk_no, start_pos, n_tokens, chunk_fp). `chunk_fp`
    * is the sum of rank-weighted member hashes (rank within the
    * chunk × token hash) — order-exact yet partition-order-independent,
    * so identical chunk CONTENT anywhere in the corpus gets the same
    * fingerprint: the equi-join key for chunk-level dedup. The sum is
    * accumulated exactly in DECIMAL(38,0) then emitted as BIGINT: with
    * 28-bit token hashes the value is bounded by n_tokens²·2²⁸ < 2⁶³ for
    * any chunk under ~180M tokens, and a codegen assert fires (rather
    * than silently wrapping) if a pathological chunk ever exceeds it.
    *
    * Scale shape: ONE exchange keyed by doc (the [[positionalPostings]]
    * discipline); hashes and cut flags are per-row codegen; the prefix
    * count and the in-chunk rank are windows over the SAME doc-keyed
    * partitioning (hash(doc_id) satisfies the (doc_id, chunk_no)
    * clustering, no second exchange), and the final per-chunk aggregate
    * reuses it again. Raw text never shuffles — only (doc_id, pos, 8-byte
    * hash) rows. */
  def cdcChunks(docs: DataFrame, idCol: String, text: Column,
      divisor: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(divisor >= 2, s"divisor must be >= 2, got $divisor")
    val dec = DataTypes.createDecimalType(38, 0)
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val wChunk = Window.partitionBy(col("doc_id"), col("chunk_no")).orderBy(col("pos"))
    positionalPostings(docs, idCol, text)
      .withColumn("__h", conv(substring(md5(col("term")), 1, 7), 16, 10).cast(LongType))
      .withColumn("__cut", (col("__h") % divisor === 0).cast(IntegerType))
      // chunk_no = cuts strictly BEFORE this token (a cut token closes
      // its own chunk, CDC convention)
      .withColumn("chunk_no", (sum(col("__cut")).over(wDoc) - col("__cut")).cast(LongType))
      .withColumn("__rn", row_number().over(wChunk))
      .groupBy(col("doc_id"), col("chunk_no"))
      .agg(min(col("pos")).as("start_pos"),
        count(lit(1)).as("n_tokens"),
        sum((col("__rn") * col("__h")).cast(dec)).cast(dec).as("__fp_dec"))
      // Exact decimal accumulation, BIGINT surface: bounded by
      // n_tokens²·2²⁸ < 2⁶³ (chunks under ~180M tokens); assert, don't wrap.
      .select(col("doc_id"), col("chunk_no"), col("start_pos"), col("n_tokens"),
        when(assert_true(col("__fp_dec") <= lit(Long.MaxValue).cast(dec),
            concat(lit("chunk_fp overflows BIGINT: "), col("__fp_dec").cast(StringType))).isNull,
          col("__fp_dec").cast(LongType)).as("chunk_fp"))
  }

  /** T5-style span corruption (X117; Raffel et al. 2020,
    * arXiv:1910.10683 §3.1.4): each token is independently marked by an
    * md5 coin at `noiseDensity`; RUNS of marked tokens become the
    * corruption spans (geometric span lengths — the i.i.d.-coin analogue
    * of T5's mean-length-3 span sampler), and the doc splits into the
    * training pair: `corrupted_text` keeps unmasked tokens with each span
    * collapsed to one `<Xk>` sentinel, `targets_text` is each sentinel
    * followed by the span it replaced. The generalization of
    * [[graft.operators.Packing.fimSpans]] from one middle span to many.
    *
    * Every coin is md5 of (seed, doc id, token position) — NOT `rand()` —
    * so the same doc corrupts identically on every run, engine, and task
    * retry, and the oracle reproduces it bit-for-bit. Docs with zero
    * tokens are dropped (nothing to corrupt), matching the oracle's
    * token CTE.
    *
    * Scale shape: posexplode fans out map-side (no exchange); the
    * run/sentinel windows need ONE doc-keyed exchange, and the final
    * per-doc aggregate reuses that partitioning (same key, no second
    * exchange). Window state is one row of lag + a running sum; pieces
    * re-assemble via collect_list of (pos, piece) structs — bounded by
    * the doc's own token count, the same per-doc bound every reassembly
    * here carries. */
  def spanCorrupt(docs: DataFrame, idCol: String, text: Column,
      noiseDensity: Double = 0.15, seed: String = ""): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(noiseDensity >= 0.0 && noiseDensity <= 1.0,
      s"noiseDensity must be in [0,1], got $noiseDensity")
    val thr = math.round(noiseDensity * graft.util.Sampling.Buckets)
    val toks = filter(tokens(text), t => t =!= "")
    val id = col(idCol)
    val w = Window.partitionBy(id).orderBy(col("pos"))
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(id, posexplode(toks).as(Seq("pos", "tok")))
      .select(id, col("pos"), col("tok"),
        (graft.util.Sampling.hashBucket(
          concat(id.cast(StringType), lit(":"), col("pos").cast(StringType)),
          seed) < thr).as("msk"))
      .select(id, col("pos"), col("tok"), col("msk"),
        (col("msk") && !coalesce(lag(col("msk"), 1).over(w), lit(false)))
          .as("st"))
      .select(id, col("pos"), col("tok"), col("msk"), col("st"),
        (sum(col("st").cast(LongType)).over(wCum) - 1L).as("si"))
      .groupBy(id)
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("msk").cast(LongType)).as("n_masked"),
        sum(col("st").cast(LongType)).as("n_spans"),
        array_join(transform(array_sort(collect_list(
          // collect_list drops nulls: masked non-start tokens vanish,
          // span starts collapse to their sentinel
          when(!col("msk"), struct(col("pos"), col("tok").as("p")))
            .when(col("st"), struct(col("pos"),
              concat(lit("<X"), col("si").cast(StringType), lit(">")).as("p"))))),
          x => x("p")), " ").as("corrupted_text"),
        array_join(transform(array_sort(collect_list(
          when(col("st"), struct(col("pos"),
              concat(lit("<X"), col("si").cast(StringType), lit("> "),
                col("tok")).as("p")))
            .when(col("msk"), struct(col("pos"), col("tok").as("p"))))),
          x => x("p")), " ").as("targets_text"))
  }

  /** Token-window chunking with overlap over a materialized token array —
    * the document->chunks step that feeds the reference's per-chunk
    * embedding rows (`sequence_no`, `src/VectorTable.php:468,472`; queue
    * `chunk_count`, `src/VectorTableQueue.php:79`). Chunk i covers tokens
    * [i*(size-overlap), i*(size-overlap)+size); the last window may be
    * short; a doc never yields zero chunks. */
  def chunksFromTokens(toks: Column, chunkSize: Int, overlap: Int): Column = {
    require(overlap >= 0 && overlap < chunkSize, s"bad overlap $overlap for size $chunkSize")
    val step = chunkSize - overlap
    val nChunks = when(size(toks) <= chunkSize, lit(1))
      .otherwise(ceil((size(toks) - lit(chunkSize)).cast(DoubleType) / step)
        .cast(IntegerType) + 1)
    transform(sequence(lit(0), nChunks - 1),
      i => concat_ws(" ", slice(toks, i * step + 1, lit(chunkSize))))
  }

  // ---- BPE merge learning -----------------------------------------------

  /** The symbol-sequence encoding BPE works over: characters separated by
    * single spaces plus an explicit `</w>` end-of-word symbol. */
  private def bpeSeq(term: Column): Column =
    // (?!^) also matches at end-of-string and Spark's split keeps trailing
    // empties (Java split limit -1) — drop them or a phantom '' symbol
    // pairs with </w> in every word
    concat(array_join(filter(split(term, "(?!^)"), s => s =!= ""), " "),
      lit(" </w>"))

  /** One merge rule applied to a space-joined symbol sequence, as the
    * classic GREEDY LEFTMOST non-overlapping pairing (`a a a a a` under
    * (a,a) → `aa aa a`, exactly Sennrich's reference re.sub): a
    * sequential string-accumulator fold — append each symbol, merging
    * with the accumulator's last symbol when it is `l` and the incoming
    * symbol is `r`; the freshly merged `lr` cannot re-merge, which is
    * what makes the pairing non-overlapping. A naive
    * `replace(" l r ", " lr ")` is WRONG here: the match consumes the
    * shared delimiter space, so runs of the pair skip every other
    * occurrence. The `#` seed makes even the first symbol ` l`-suffixed;
    * DuckDB's list_reduce mirrors the fold operation-for-operation. */
  private def applyMerge(seq: Column, l: String, r: String): Column = {
    val folded = aggregate(split(seq, " "), lit("#"), (acc, x) =>
      when(x === lit(r) && endswith(acc, lit(s" $l")),
        concat(acc.substr(lit(1), length(acc) - lit(l.length + 1)),
          lit(s" $l$r")))
        .otherwise(concat(acc, lit(" "), x)))
    substring(folded, 3, Int.MaxValue)
  }

  /** Byte-pair-encoding merge learning (X128; Sennrich et al. 2016,
    * arXiv:1508.07909 §3.2): learn `numMerges` merge rules from the
    * corpus — each step merges the currently most-frequent adjacent
    * symbol pair (ties broken lexically on (left, right), so the trace
    * is deterministic and oracle-checkable). Emits the merge table
    * `(step, lhs, rhs, pair_freq)`, the artifact a BPE tokenizer ships.
    *
    * Scale shape: ONE corpus pass builds the (word, freq) vocabulary —
    * after that every iteration runs on the VOCAB frame (|distinct
    * words|, not corpus-sized): an adjacent-pair explode + sum keyed on
    * the pair, a 1-row argmax (TakeOrdered — the bounded-scalar-anchor
    * class), and a literal-replace projection. Iterations are driver-
    * sequenced (inherent to BPE — step k+1 depends on k) with a
    * localCheckpoint per step to keep lineage flat; cost is
    * numMerges × (vocab-sized job), the corpus is never re-read. */
  def bpeMerges(docs: DataFrame, idCol: String, text: Column,
      numMerges: Int): DataFrame = {
    require(numMerges >= 1 && numMerges <= 1000,
      s"numMerges must be in [1,1000], got $numMerges")
    bpeMergesCore(docs, idCol, text, numMerges, batch = 1)
  }

  /** Batched BPE merge learning: per census, take up to `batch`
    * NON-INTERACTING merges instead of one — the standard batched-BPE
    * trick that turns 32k merges into ~32k/batch vocab-sized jobs
    * (driver-sequenced iterations are inherent to BPE; the batch shrinks
    * their NUMBER). Two merges interact when they could change each
    * other's occurrence set or counts: they share a symbol, or one's
    * concatenation aliases a symbol of the other — the greedy selector
    * walks the census in (freq desc, lhs, rhs) order and skips any pair
    * whose {lhs, rhs, lhs+rhs} intersects the symbols or concatenations
    * already taken, so every taken pair's occurrences and count are
    * EXACTLY what a sequential recount would see, and the emitted
    * (step, lhs, rhs, pair_freq) rows are each individually faithful.
    * `batch = 1` is bit-identical to [[bpeMerges]] (suite-pinned
    * differential); larger batches may ORDER merges differently than
    * the strict one-at-a-time trace (a merge the census cannot yet see —
    * e.g. (es,t) before (e,s) lands — waits for the next census), the
    * documented and universally-shipped approximation. */
  def bpeMergesBatched(docs: DataFrame, idCol: String, text: Column,
      numMerges: Int, batch: Int): DataFrame = {
    require(numMerges >= 1 && numMerges <= 50000,
      s"numMerges must be in [1,50000], got $numMerges")
    require(batch >= 1 && batch <= 256, s"batch must be in [1,256], got $batch")
    bpeMergesCore(docs, idCol, text, numMerges, batch)
  }

  private def bpeMergesCore(docs: DataFrame, idCol: String, text: Column,
      numMerges: Int, batch: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    var vocab = postings(docs, idCol, text)
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
      .select(bpeSeq(col("term")).as("seq"), col("freq"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ListBuffer[(Int, String, String, Long)]()
    var step = 1
    var exhausted = false
    while (step <= numMerges && !exhausted) {
      val syms = split(col("seq"), " ")
      // single-symbol rows (fully merged words) have no adjacent pairs;
      // without the filter sequence(1, size-1) would DESCEND [1,0] and
      // element_at(syms, 0) throws (the bigramTable descending-range trap)
      val want = math.min(numMerges - step + 1, batch)
      val census = vocab
        .filter(size(syms) >= 2)
        .select(col("freq"), explode(transform(
          sequence(lit(1), size(syms) - 1),
          i => struct(element_at(syms, i).as("lhs"),
            element_at(syms, i + 1).as("rhs")))).as("p"))
        .groupBy(col("p.lhs"), col("p.rhs"))
        .agg(sum(col("freq")).as("pf"))
        .orderBy(col("pf").desc, col("lhs"), col("rhs"))
        .limit(math.max(4 * want, 64)).collect()
      if (census.isEmpty) exhausted = true
      else {
        // greedy non-interacting prefix of the ranked census (driver-side
        // over a bounded candidate list — the bounded-scalar-anchor class)
        val taken = scala.collection.mutable.ListBuffer[(String, String, Long)]()
        val blocked = scala.collection.mutable.Set[String]()
        val it = census.iterator
        while (taken.size < want && it.hasNext) {
          val row = it.next()
          val (l, r) = (row.getString(0), row.getString(1))
          if (!blocked(l) && !blocked(r) && !blocked(l + r)) {
            taken += ((l, r, row.getLong(2)))
            blocked += l; blocked += r; blocked += (l + r)
          }
        }
        taken.foreach { case (l, r, pf) => merges += ((step, l, r, pf)); step += 1 }
        vocab = vocab
          .select(taken.foldLeft(col("seq")) { case (acc, (l, r, _)) =>
            applyMerge(acc, l, r)
          }.as("seq"), col("freq"))
          .localCheckpoint(true)
      }
    }
    merges.toSeq.toDF("step", "lhs", "rhs", "pair_freq")
  }

  /** Apply a learned merge table to segment ONE WORD (a single term —
    * compose with `explode(tokens(text))` for documents) into BPE
    * symbols — the inference half of [[bpeMerges]]: run the merges in
    * learned order (each a literal ` l r ` → ` lr ` replace), emit the
    * symbol array. A per-row projection of numMerges chained replaces —
    * codegen end-to-end, no exchange, no state. */
  def bpeSegment(term: Column, merges: Seq[(String, String)]): Column = {
    val merged = merges.foldLeft(bpeSeq(term)) { case (acc, (l, r)) =>
      applyMerge(acc, l, r)
    }
    split(merged, " ")
  }

  /** Tokenizer fertility sweep (X149) — the vocab-size design curve a
    * tokenizer build reads before fixing its merge budget: for every
    * candidate merge-count PREFIX of one learned merge table, the
    * corpus-weighted tokens-per-word (fertility) and chars-per-token
    * (compression) that tokenizer would produce. Token counts EXCLUDE
    * the `</w>` end marker, so `k = 0` is exactly the char-level
    * baseline (fertility = word length, compression = 1.0) and the
    * curve's knee is readable directly.
    *
    * Scale shape: grading K candidates costs ONE corpus pass (the
    * (term, freq) vocabulary), then a vocab-sized projection in which
    * each candidate's segmentation EXTENDS the previous one (merge
    * prefixes nest — candidates sorted, `merges.slice(prev, k)` applied
    * incrementally, never k-from-scratch), one aggregate, and a literal
    * explode of the K result structs — K vocab sizes, not K corpus
    * walks (the X142 capacity-plan discipline). */
  def bpeFertility(docs: DataFrame, idCol: String, text: Column,
      merges: Seq[(String, String)], mergeCounts: Seq[Int]): DataFrame = {
    require(mergeCounts.nonEmpty && mergeCounts.distinct == mergeCounts &&
      mergeCounts.forall(k => k >= 0 && k <= merges.length),
      s"mergeCounts must be distinct prefixes of the ${merges.length}-rule table, got $mergeCounts")
    require(merges.length <= 256,
      s"sweep segmentation is an expression chain; cap 256 merges, got ${merges.length}")
    val sorted = mergeCounts.sorted
    val vocab = postings(docs, idCol, text)
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
    var acc = bpeSeq(col("term"))
    var prev = 0
    val segCols = sorted.map { k =>
      acc = merges.slice(prev, k).foldLeft(acc) {
        case (a, (l, r)) => applyMerge(a, l, r)
      }
      prev = k
      (size(split(acc, " ")) - 1).cast(LongType).as(s"__n$k")
    }
    val graded = vocab.select(Seq(col("freq"),
      length(col("term")).cast(LongType).as("__chars")) ++ segCols: _*)
    val aggs = Seq(
      sum(col("freq")).as("__w"),
      sum(col("freq") * col("__chars")).as("__ch")) ++
      sorted.map(k => sum(col("freq") * col(s"__n$k")).as(s"__tok$k"))
    graded.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(sorted.map(k => struct(
        lit(k).as("n_merges"),
        col(s"__tok$k").as("total_tokens"),
        round(col(s"__tok$k").cast(DoubleType) / col("__w").cast(DoubleType), 6)
          .as("avg_tokens_per_word"),
        round(col("__ch").cast(DoubleType) / col(s"__tok$k").cast(DoubleType), 6)
          .as("avg_chars_per_token"))): _*)).as("g"))
      .select(col("g.n_merges"), col("g.total_tokens"),
        col("g.avg_tokens_per_word"), col("g.avg_chars_per_token"))
      .orderBy(col("n_merges"))
  }

  // ---- Unigram-LM tokenizer (Kudo 2018) -----------------------------------

  /** Forward Viterbi lattice for one word under a unigram piece model:
    * dp[i] = (cost, backpointer) of the cheapest segmentation of the
    * first i characters, pieces up to `maxPieceLen` chars, cost(piece)
    * = −ln p(piece) from the literal `model` map (absent piece ⇒ no
    * edge). Ties break to the SMALLEST split point (ascending-j fold,
    * strict <) — pinned, because the oracle must walk the identical
    * path. One expression per row, no state, no exchange. */
  private def unigramDp(term: Column, model: Seq[(String, Double)],
      maxPieceLen: Int): Column = {
    val cm = map_from_arrays(
      typedLit(model.map(_._1)), typedLit(model.map(_._2)))
    val inf = lit(1e18)
    val init = array(struct(lit(0.0).as("c"), lit(-1).as("bp")))
    aggregate(sequence(lit(1), length(term)), init, (acc, i) => {
      val cands = transform(
        sequence(greatest(lit(0), i - lit(maxPieceLen)), i - lit(1)), j => {
          val prev = element_at(acc, j + lit(1)).getField("c")
          val pc = element_at(cm, term.substr(j + lit(1), i - j))
          struct(
            when(pc.isNull || prev >= inf, inf).otherwise(prev + pc).as("c"),
            j.cast(IntegerType).as("bp"))
        })
      concat(acc, array(aggregate(cands,
        struct(inf.as("c"), lit(-1).as("bp")),
        (b, x) => when(x.getField("c") < b.getField("c"), x).otherwise(b))))
    })
  }

  /** Segment `term` into unigram pieces by backtracing a [[unigramDp]]
    * lattice column — appended as array column `out`; null when the
    * lattice is unreachable (cannot happen while every character is in
    * the model, the [[unigramLearn]] coverage invariant). The lattice
    * materializes as its own column so the DP evaluates once per row,
    * not once per backtrace step. */
  def unigramSegmented(df: DataFrame, term: Column,
      model: Seq[(String, Double)], maxPieceLen: Int,
      out: String = "pieces"): DataFrame = {
    require(maxPieceLen >= 1 && maxPieceLen <= 16,
      s"maxPieceLen must be in [1,16], got $maxPieceLen")
    require(model.map(_._1).distinct.size == model.size,
      "duplicate piece in the model")
    val inf = lit(1e18)
    val dp = col("__uni_dp")
    val L = length(term)
    val walk = aggregate(sequence(lit(1), L),
      struct(L.cast(IntegerType).as("pos"),
        typedLit(Seq.empty[String]).as("ps")),
      (st, _) => {
        val pos = st.getField("pos")
        val j = element_at(dp, pos + lit(1)).getField("bp")
        when(pos <= lit(0), st).otherwise(struct(
          j.as("pos"),
          concat(array(term.substr(j + lit(1), pos - j)),
            st.getField("ps")).as("ps")))
      })
    df.withColumn("__uni_dp", unigramDp(term, model, maxPieceLen))
      .withColumn(out,
        when(element_at(dp, L + lit(1)).getField("c") >= inf,
          lit(null).cast(ArrayType(StringType)))
          .otherwise(walk.getField("ps")))
      .drop("__uni_dp")
  }

  /** Unigram-LM tokenizer learning (Kudo, arXiv:1804.10959 — the
    * SentencePiece unigram model, the OTHER tokenizer family a
    * training pipeline compares against BPE before fixing a vocab),
    * in its deterministic hard-EM (Viterbi-EM) form so every
    * intermediate is oracle-checkable — the same determinism trade
    * [[bpeMerges]] makes with its lexical tie-break:
    *
    *  1. SEED: the census of all ≤ `maxPieceLen`-char substrings of
    *     the corpus words (occurrence-weighted), cut to the top
    *     `seedSize` by (count desc, piece asc) PLUS every single
    *     character — the coverage floor that keeps every word
    *     segmentable forever.
    *  2. EM × `numIters`: Viterbi-segment every distinct word under
    *     cost −ln p (ties to the smallest split point), recount pieces
    *     along the best paths (word-frequency-weighted), re-estimate
    *     p = cnt/Σcnt. Multi-char pieces that won zero occurrences
    *     PRUNE (Kudo's vocabulary shrinking, hard-EM form); single
    *     chars never prune and carry add-one smoothing (the coverage
    *     floor again — full EM keeps them alive via soft counts, a
    *     hard-EM engine needs the explicit rule, stated).
    *
    * Emits the full TRACE (iter, piece, cnt, prob): iter 0 = the seed
    * census, iter k = the vocabulary after EM round k — the artifact
    * a tokenizer build audits, the [[bpeMerges]] trace convention.
    *
    * Scale shape — the X128 iteration discipline: ONE corpus pass
    * builds the (word, freq) vocabulary (pinned); every EM round is a
    * vocab-sized job (the Viterbi is a per-row expression over
    * distinct words, the recount one map-side-combined aggregate);
    * the model travels as a bounded literal map (seedSize ≤ 4096 —
    * the merge-table class) and the per-round collect is vocab-sized,
    * never corpus-sized. */
  def unigramLearn(docs: DataFrame, idCol: String, text: Column,
      seedSize: Int, numIters: Int, maxPieceLen: Int = 4): DataFrame = {
    require(seedSize >= 1 && seedSize <= 4096,
      s"seedSize must be in [1,4096], got $seedSize")
    require(numIters >= 0 && numIters <= 8,
      s"numIters must be in [0,8], got $numIters")
    require(maxPieceLen >= 1 && maxPieceLen <= 16,
      s"maxPieceLen must be in [1,16], got $maxPieceLen")
    val spark = docs.sparkSession
    import spark.implicits._
    val words = postings(docs, idCol, text)
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
      .localCheckpoint(true)
    try {
      val sub = flatten(transform(sequence(lit(1), length(col("term"))), s =>
        transform(
          sequence(lit(1),
            least(lit(maxPieceLen), length(col("term")) - s + lit(1))),
          l => col("term").substr(s, l))))
      val census = words.select(col("freq"), explode(sub).as("piece"))
        .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
        .localCheckpoint(true) // two consumers: the top cut + the chars
      var vocab: Seq[(String, Long)] =
        try {
          census.orderBy(col("cnt").desc, col("piece").asc).limit(seedSize)
            .unionAll(census.filter(length(col("piece")) === 1))
            .dropDuplicates("piece")
            .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
            .sortBy(_._1)
        } finally graft.util.Pins.release(census)
      val trace =
        scala.collection.mutable.ListBuffer[(Int, String, Long, Double)]()
      def snap(iter: Int): Unit = {
        val tot = vocab.map(_._2).sum.toDouble
        vocab.foreach { case (p, c) => trace += ((iter, p, c, c / tot)) }
      }
      snap(0)
      for (k <- 1 to numIters if vocab.nonEmpty) {
        val tot = vocab.map(_._2).sum.toDouble
        val model = vocab.map { case (p, c) => (p, -math.log(c / tot)) }
        val counts =
          unigramSegmented(words, col("term"), model, maxPieceLen)
            .select(col("freq"), explode(col("pieces")).as("piece"))
            .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        vocab = vocab.flatMap { case (p, _) =>
          val c = counts.getOrElse(p, 0L)
          if (p.length == 1) Some((p, c + 1L))
          else if (c > 0L) Some((p, c)) else None
        }
        snap(k)
      }
      trace.toSeq.toDF("iter", "piece", "cnt", "prob")
        .select(col("iter"), col("piece"), col("cnt"),
          round(col("prob"), 6).as("prob"))
    } finally graft.util.Pins.release(words)
  }

  // ---- URL normalization ------------------------------------------------

  /** Multi-label public suffixes the registrable-domain cut recognizes —
    * a deliberately small, DOCUMENTED subset of the Mozilla Public Suffix
    * List (the full PSL is a data file, not an algorithm; callers with
    * broader corpora pass `extraSuffixes`). A host's registrable domain
    * is its last TWO labels, or last THREE when the last two form one of
    * these suffixes ("bbc.co.uk" -> "bbc.co.uk", not "co.uk"). */
  val MultiLabelSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "co.jp", "ne.jp", "or.jp",
    "com.au", "net.au", "org.au", "co.in", "co.nz", "co.za", "com.br",
    "com.mx", "com.cn", "com.sg", "github.io", "gitlab.io", "blogspot.com")

  /** Query parameters stripped by [[urlProfile]]'s normalization: click-
    * tracking identifiers that vary per visit without changing content —
    * THE reason one page crawls as thousands of distinct URLs. */
  val TrackingParams: Seq[String] = Seq(
    "utm_source", "utm_medium", "utm_campaign", "utm_term", "utm_content",
    "fbclid", "gclid", "msclkid", "ref")

  /** URL normalization + registrable-domain extraction (X122): the
    * canonical-URL step of a crawl pipeline, feeding exact-URL dedup
    * (normalize BEFORE fingerprinting, or one page survives as every
    * tracking-parameter variant) and per-domain caps
    * ([[Curation.capPerKey]] keyed on `registrable_domain` — the Gopher
    * rule that no single site dominates the mix). Emits per row:
    * `url` (the input), `host` (lowercased, port and leading `www.`
    * stripped), `registrable_domain` (PSL-style last-2-or-3-label cut,
    * [[MultiLabelSuffixes]]), `norm_url` (scheme forced to `https`,
    * normalized host, path with trailing slashes trimmed — bare host
    * keeps `/` — tracking params dropped (keys matched
    * case-insensitively) and survivors SORTED, fragment dropped). Malformed rows (no parseable host) emit null host/domain
    * and pass `url` through as `norm_url` — flag, don't crash, mid-crawl.
    *
    * All columns are per-row regexp/array projections — codegen
    * end-to-end, no exchange, no UDF; the rules are deliberately
    * regular-expression-reproducible so any engine (and the DuckDB
    * oracle) computes the identical normalization. */
  def urlProfile(docs: DataFrame, idCol: String, url: Column,
      extraSuffixes: Seq[String] = Nil): DataFrame = {
    val suffixes = (MultiLabelSuffixes ++ extraSuffixes).map(_.toLowerCase)
    val raw = trim(url)
    // RFC 3986-ish split, anchored: scheme :// authority /path ?query #frag
    val authority = lower(regexp_extract(raw, "^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?([^/?#]*)", 1))
    val host = regexp_replace(regexp_replace(authority, ":[0-9]+$", ""), "^www\\.", "")
    val path = regexp_extract(raw, "^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?[^/?#]*([^?#]*)", 1)
    val query = regexp_extract(raw, "\\?([^#]*)", 1)
    val labels = split(host, "\\.")
    val nl = size(labels)
    val lastTwo = concat_ws(".", element_at(labels, -2), element_at(labels, -1))
    val regDomain = when(host === "" || nl < 2, lit(null).cast(StringType))
      .when(nl >= 3 && lastTwo.isin(suffixes: _*),
        concat_ws(".", element_at(labels, -3), lastTwo))
      .otherwise(lastTwo)
    // param keys are conventionally case-insensitive for these trackers
    // ('?UTM_SOURCE=x' is the same tracker as '?utm_source=x'); value
    // case stays untouched
    val keptParams = array_sort(filter(split(query, "&"), p =>
      p =!= "" && !lower(split(p, "=").getItem(0)).isin(TrackingParams: _*)))
    val normPath = when(regexp_replace(path, "/+$", "") === "", lit("/"))
      .otherwise(regexp_replace(path, "/+$", ""))
    val normQuery = when(size(keptParams) > 0,
      concat(lit("?"), array_join(keptParams, "&"))).otherwise(lit(""))
    val normUrl = when(host === "", url)
      .otherwise(concat(lit("https://"), host, normPath, normQuery))
    docs.select(col(idCol), url.as("url"),
      when(host === "", lit(null).cast(StringType)).otherwise(host).as("host"),
      regDomain.as("registrable_domain"),
      normUrl.as("norm_url"))
  }

  /** Domain blocklist gate (X145) — the URL-filtering stage every crawl
    * pipeline runs before any text is read (Common Crawl-derived sets
    * like C4/RefinedWeb drop whole domains first; blocking by domain is
    * the cheapest cut in the funnel): a host is blocked when it equals a
    * blocklist entry or sits UNDER one (label-boundary suffix match —
    * `example.com` blocks `a.example.com` but never `notexample.com`).
    * Takes the `host` column [[urlProfile]] emits (lowercased, port and
    * `www.` stripped) and any (domain) frame — curated blocklists are
    * data, not code. Emits `(id, host, blocked, matched_domain)` with
    * `matched_domain` the MOST SPECIFIC (longest) matching entry —
    * well-defined without a tie-break because all of one host's matches
    * are suffixes of it, so their lengths are distinct. Null/absent
    * hosts pass through unblocked (flag upstream, don't crash a crawl).
    *
    * Scale shape: the blocklist is BROADCAST (blocklists are thousands
    * to millions of short strings; the corpus is not) and the corpus
    * explodes each host into its <= label-count suffixes — a bounded
    * per-row fan-out of short strings, never text. The broadcast hash
    * join filters suffix postings MAP-SIDE, so only actual matches
    * (blocklist-sparse) reach the one id-keyed aggregate; the final
    * left join back to the host frame carries ids + hosts only, and AQE
    * broadcasts the (tiny) match side in the common case. */
  def domainGate(docs: DataFrame, idCol: String, host: Column,
      blocklist: DataFrame, domainCol: String = "domain"): DataFrame = {
    require(blocklist.columns.contains(domainCol),
      s"blocklist needs a '$domainCol' column, has ${blocklist.columns.mkString(", ")}")
    val bl = broadcast(
      blocklist.select(lower(trim(col(domainCol))).as("__bd"))
        .filter(col("__bd") =!= "").distinct())
    val base = docs.select(col(idCol), lower(host).as("host"))
    val labels = split(col("host"), "\\.")
    val nl = size(labels)
    val sfx = transform(sequence(lit(1), nl),
      i => array_join(slice(labels, i, nl - i + 1), "."))
    val matches = base
      .select(col(idCol), explode(sfx).as("__sfx"))
      .join(bl, col("__sfx") === col("__bd"))
      .groupBy(col(idCol))
      .agg(max_by(col("__sfx"), length(col("__sfx"))).as("matched_domain"))
    base.join(matches, Seq(idCol), "left")
      .select(col(idCol), col("host"),
        col("matched_domain").isNotNull.as("blocked"), col("matched_domain"))
  }

  /** Dictionary-driven taxonomy tagging (X137): count, per document and
    * tag, the occurrences of a curated phrase lexicon (tag → token
    * phrases — topic/domain/safety word lists, the label pass a crawl
    * pipeline runs to route documents into mixture sources or drop
    * lists). A phrase matches as a whitespace-token n-gram (the [[tokens]]
    * tokenizer on both sides), so "hash join" matches the token pair, not
    * the substring — no false hits inside longer words. Overlapping
    * occurrences each count: every starting position whose n-gram equals
    * a dictionary phrase contributes 1 to that (doc, tag).
    *
    * Returns (doc_id, tag, n_matches); documents matching no phrase are
    * absent (same convention as [[phraseMatch]]) — left-join and coalesce
    * at the call site for a dense tag matrix.
    *
    * Scale shape: the dictionary is driver-side and BROADCAST (lexicons
    * are thousands of rows; the corpus is not), the corpus explodes to
    * (doc, n-gram) postings only for the distinct phrase LENGTHS present
    * in the dictionary, and the broadcast hash join filters those
    * postings map-side — only actual matches (dictionary-sparse, tiny)
    * reach the one (doc, tag) exchange, with partial counts folding
    * map-side. Text itself never shuffles; n-gram generation follows the
    * [[shinglesFromTokens]] bound-attribute discipline. Duplicate
    * (tag, phrase) rows are rejected (each would double-count). */
  def tagDictionary(docs: DataFrame, idCol: String, text: Column,
      dict: Seq[(String, String)]): DataFrame = {
    require(dict.nonEmpty, "empty dictionary")
    val phrases = dict.map { case (tag, p) =>
      val toks = p.trim.toLowerCase.split(s"[$Ws]+").toSeq
      require(toks.nonEmpty && toks.forall(_.nonEmpty),
        s"phrase must have at least one non-empty token, got '$p'")
      (tag, toks.mkString(" "), toks.length)
    }
    require(phrases.map(p => (p._1, p._2)).distinct.size == phrases.size,
      "duplicate (tag, phrase) dictionary rows would double-count")
    val lens = phrases.map(_._3).distinct.sorted
    val spark = docs.sparkSession
    import spark.implicits._
    val dictDf = phrases.map(p => (p._1, p._2)).toDF("tag", "__phrase")
    docs
      .select(col(idCol).as("doc_id"), tokens(text).as("__toks"))
      .select(col("doc_id"), explode(flatten(array(
        lens.map(n => shinglesFromTokens(col("__toks"), n)): _*))).as("__gram"))
      .join(broadcast(dictDf), col("__gram") === col("__phrase"))
      .groupBy(col("doc_id"), col("tag"))
      .agg(count(lit(1)).as("n_matches"))
  }
}
