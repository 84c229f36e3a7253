package graft.sources

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.SparkSession

import graft.model.Embedding

/** S11 DDL surface (`src/VectorTable.php:464-513` CREATE/DROP/SHOW TABLES,
  * queue DDL `src/VectorTableQueue.php:53-92`), expressed against the Spark
  * catalog instead of raw paths: `CREATE TABLE ... USING parquet` registers
  * the store so plain `spark.sql` / `spark.table` sees it, `tableExists`
  * replaces `SHOW TABLES LIKE`, and drop removes metadata and (optionally)
  * data. Path-only stores keep working — the catalog layer is additive.
  */
final class StoreCatalog(spark: SparkSession) {

  /** CREATE TABLE IF NOT EXISTS over an existing store path. The schema is
    * the store's fixed DDL schema (Embedding.schema + the bucket partition
    * column discovered from the layout). */
  def createTable(name: String, path: String): Unit = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"), s"bad table name: $name")
    // escape quotes: the path is interpolated into single-quoted SQL and
    // must not be able to splice into the statement
    val safePath = path.replace("'", "''")
    spark.sql(
      s"CREATE TABLE IF NOT EXISTS $name USING parquet LOCATION '$safePath'")
  }

  /** SHOW TABLES LIKE equivalent (`VectorTable.php:506-513`). */
  def tableExists(name: String): Boolean = spark.catalog.tableExists(name)

  /** DROP TABLE IF EXISTS (`VectorTable.php:497-501`); `purge` also deletes
    * the backing files, matching MySQL's drop semantics — default false
    * because external-table drops in Spark conventionally keep data. */
  def dropTable(name: String, purge: Boolean = false): Unit = {
    if (!tableExists(name)) return
    val loc =
      if (purge) Some(spark.sql(s"DESCRIBE TABLE EXTENDED $name")
        .filter("col_name = 'Location'").select("data_type").collect()
        .headOption.map(_.getString(0)))
      else None
    spark.sql(s"DROP TABLE IF EXISTS $name")
    loc.flatten.foreach { l =>
      val p = new Path(l)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** The reference's fixed DDL schema for documentation/validation. */
  def embeddingSchema = Embedding.schema

  private def requireName(name: String): Unit =
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"), s"bad view name: $name")

  private val providerClass = classOf[graft.sources.v2.GraftLayoutSource].getName

  private def layoutTable(path: String, table: String) =
    spark.read.format(providerClass)
      .option("path", path).option("table", table).load()

  /** SQL-surface a persisted [[InvertedIndex]] (X189, LIVE since X200):
    * register `<name>_postings` (tombstone-masked postings, `tbucket`
    * kept as the pruning surface — see [[InvertedIndex.livePostings]]
    * for the stock-SQL bucket predicate), `<name>_doclens` (masked
    * (doc_id, dl)) and `<name>_vocab` (census-served (term, df)) as
    * session temp views, so `spark.sql` users reach q214-class serving
    * — phrase joins, BM25 stats, fuzzy vocab — without the Scala API.
    * Returns the public view names.
    *
    * The views are backed by the [[graft.sources.v2.GraftLayoutSource]]
    * DataSource V2 provider: every query's scan build re-runs crash
    * recovery and re-lists the live files (the tombstone table's
    * included), so delete/vacuum/append/compact are visible to the NEXT
    * SQL statement with no re-registration (round-13's snapshot rule is
    * gone). Bucket pruning is Spark's own parquet scan: a
    * constant-folded `tbucket` predicate becomes its `PartitionFilters`,
    * so only that bucket's files are opened. The vocab view carries
    * [[InvertedIndex.vocab]]'s exact serving rule in fixed SQL over
    * hidden `<name>__*` raw-table views: census base sum minus a live
    * recomputation restricted to the tombstone set (empty tombstones ⇒
    * AQE's empty-relation propagation skips the postings branch),
    * zero-df terms dropped. Every index mutation commits as one batch
    * and each scan build rolls a committed batch forward, so census,
    * postings and tombstones are read from one committed state. */
  def registerInvertedIndex(name: String, path: String): Seq[String] = {
    requireName(name)
    layoutTable(path, "census").createOrReplaceTempView(s"${name}__census_raw")
    layoutTable(path, "tombstones")
      .createOrReplaceTempView(s"${name}__tombstones")
    layoutTable(path, "postings")
      .createOrReplaceTempView(s"${name}__postings_raw")
    layoutTable(path, "doclens")
      .createOrReplaceTempView(s"${name}__doclens_raw")
    // the tombstone mask as a PLAN-LEVEL anti-join: correct and
    // bounded for ANY tombstone mass — with no tombstones the right
    // side reads empty and AQE collapses the join away; small sets
    // broadcast by AQE's own size decision; a pre-vacuum takedown
    // batch degrades to a shuffled anti-join instead of a driver
    // collect (the size-gate rule on [[graft.sources.Tombstones]]).
    // Both sides are live V2 scans, so the delete-visible-to-the-next-
    // statement contract is unchanged.
    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW ${name}_postings AS
          SELECT p.* FROM ${name}__postings_raw p
          LEFT ANTI JOIN ${name}__tombstones t ON p.doc_id = t.doc_id""")
    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW ${name}_doclens AS
          SELECT d.* FROM ${name}__doclens_raw d
          LEFT ANTI JOIN ${name}__tombstones t ON d.doc_id = t.doc_id""")
    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW ${name}_vocab AS
          WITH base AS (SELECT term, CAST(SUM(df) AS BIGINT) AS df
              FROM ${name}__census_raw GROUP BY term),
            s AS (SELECT p.term, CAST(COUNT(DISTINCT p.doc_id) AS BIGINT) AS d
              FROM ${name}__postings_raw p
              JOIN (SELECT DISTINCT doc_id FROM ${name}__tombstones) t
                ON p.doc_id = t.doc_id
              GROUP BY p.term)
          SELECT base.term, CAST(base.df - COALESCE(s.d, 0) AS BIGINT) AS df
          FROM base LEFT JOIN s ON base.term = s.term
          WHERE base.df - COALESCE(s.d, 0) > 0""")
    Seq(s"${name}_postings", s"${name}_doclens", s"${name}_vocab")
  }

  /** SQL-surface a persisted [[QueryStore]] (X212): register
    * `<name>_clauses` (live tombstone-masked (query_id, term, clause),
    * `tbucket` kept as the pruning surface — the same stock-SQL md5
    * bucket predicate documented on [[InvertedIndex.livePostings]])
    * and `<name>_totals` (masked (query_id, n_must, n_should)) as
    * session temp views over the live V2 provider, so `spark.sql`
    * users compose the percolation join — clauses ⨝ arriving
    * membership, clause-count aggregate, totals gate — with plain SQL.
    * Masking is the same plan-level anti-join rule as
    * [[registerInvertedIndex]]. */
  def registerQueryStore(name: String, path: String): Seq[String] = {
    requireName(name)
    layoutTable(path, "query_clauses")
      .createOrReplaceTempView(s"${name}__clauses_raw")
    layoutTable(path, "query_totals")
      .createOrReplaceTempView(s"${name}__totals_raw")
    layoutTable(path, "query_tombstones")
      .createOrReplaceTempView(s"${name}__tombstones")
    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW ${name}_clauses AS
          SELECT c.* FROM ${name}__clauses_raw c
          LEFT ANTI JOIN ${name}__tombstones t ON c.query_id = t.query_id""")
    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW ${name}_totals AS
          SELECT d.* FROM ${name}__totals_raw d
          LEFT ANTI JOIN ${name}__tombstones t ON d.query_id = t.query_id""")
    Seq(s"${name}_clauses", s"${name}_totals")
  }

  /** SQL-surface a persisted [[GraphIndex]] (X304): register
    * `<name>_edges` (gbucket-partitioned (src, dst, cosine) — a
    * `WHERE gbucket IN (...)` hop becomes the scan's `PartitionFilters`,
    * pruned exactly like [[GraphIndex.searchTopK]]'s per-hop reads) and
    * `<name>_tombstones` as live session temp views.
    * The edges view is deliberately RAW — tombstoned nodes keep
    * ROUTING (the FreshDiskANN lazy-delete rule), so masking edges
    * would change traversal semantics; a SQL reader excludes
    * tombstoned ids from its RESULT set only, the same place the
    * Scala serve applies them. Tombstone appends are visible to the
    * next statement (live V2 scans). Returns the view names. */
  def registerGraphIndex(name: String, path: String): Seq[String] = {
    requireName(name)
    layoutTable(path, "graph_edges").createOrReplaceTempView(s"${name}_edges")
    layoutTable(path, "graph_tombstones")
      .createOrReplaceTempView(s"${name}_tombstones")
    Seq(s"${name}_edges", s"${name}_tombstones")
  }

  /** SQL-surface a persisted [[IvfIndex]] (X189, LIVE since X200):
    * register `<name>_lists` (ivf_list-partitioned (id, vector) — a
    * `WHERE ivf_list IN (...)` probe becomes the scan's
    * `PartitionFilters`, pruned exactly like the Scala search) and
    * `<name>_centroids` ((cid, centroid) — the probe-selection input)
    * as session temp views over the live provider: IVF deletes are
    * physical rewrites and appends/splits/merges are directory
    * mutations, all visible at the next scan's re-listing. Score with
    * the registered `vec_cosine` SQL kernel
    * ([[graft.functions.GraftFunctions]]) for bit-parity with the
    * Scala path. Returns the view names. */
  def registerIvfIndex(name: String, path: String): Seq[String] = {
    requireName(name)
    layoutTable(path, "ivf_lists").createOrReplaceTempView(s"${name}_lists")
    layoutTable(path, "ivf_centroids")
      .createOrReplaceTempView(s"${name}_centroids")
    Seq(s"${name}_lists", s"${name}_centroids")
  }
}
