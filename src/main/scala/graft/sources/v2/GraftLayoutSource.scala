package graft.sources.v2

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.execution.datasources.{FileStatusCache, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.LayoutFs

/** DataSource V2 `TableProvider` over the engine's persisted layouts —
  * the LIVE SQL surface behind [[graft.sources.StoreCatalog]]'s views.
  * Registration opens the owning layout (its crash recovery), and Spark
  * calls [[SupportsRead.newScanBuilder]] at every query's planning: it
  * probes the layout root once, then lists the live part-files afresh
  * on the driver, so delete/vacuum/append/compact are visible to the
  * very next SQL statement with no re-registration.
  * Decoding, partition pruning (a `tbucket`/`ivf_list` predicate becomes
  * the scan's `PartitionFilters`), data-filter pushdown, column pruning
  * and split packing are Spark's own parquet scan. This provider never
  * masks tombstones: the registered views anti-join the live
  * `tombstones` table (see [[graft.sources.StoreCatalog]]).
  *
  * Options: `path` (layout root) and `table` (a key of
  * `GraftLayoutSource.layouts`). A table whose directory does not exist
  * (`tombstones` before its first write) reads empty. */
final class GraftLayoutSource extends TableProvider {

  override def supportsExternalMetadata(): Boolean = false

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftLayoutSource.tableFor(options.asCaseSensitiveMap()).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    GraftLayoutSource.tableFor(properties)
}

private[v2] object GraftLayoutSource {

  /** (relative dir, partition column, canonical data columns) per logical
    * table. The canonical columns are what an EMPTY layout registers with
    * (doc ids BIGINT, the engine's default id width). */
  private val layouts: Map[String, (String, Option[String], String)] = Map(
    "postings" -> (("postings", Some("tbucket"), "doc_id BIGINT, pos INT, term STRING")),
    "doclens" -> (("doclens", None, "doc_id BIGINT, dl BIGINT")),
    "census" -> (("census/base", Some("tprefix"), "term STRING, df BIGINT")),
    "tombstones" -> (("tombstones", None, "doc_id BIGINT")),
    "ivf_lists" -> (("lists", Some("ivf_list"), "id BIGINT, vector ARRAY<FLOAT>")),
    "ivf_centroids" -> (("centroids", None, "cid INT, centroid ARRAY<FLOAT>")),
    "query_clauses" -> (("clauses", Some("tbucket"), "query_id STRING, term STRING, clause STRING")),
    "query_totals" -> (("totals", None, "query_id STRING, n_must BIGINT, n_should BIGINT")),
    "query_tombstones" -> (("tombstones", None, "query_id STRING")),
    "graph_edges" -> (("edges", Some("gbucket"), "src BIGINT, dst BIGINT, cosine DOUBLE")),
    "graph_tombstones" -> (("tombstones", None, "id BIGINT")))

  def tableFor(props: JMap[String, String]): LayoutTable = {
    val m = props.asScala
    if (m.keys.exists(_.equalsIgnoreCase("masked")))
      throw new IllegalArgumentException("graft layout source: the 'masked' " +
        "option was removed; query the tombstone-masked anti-join views " +
        "StoreCatalog registers (registerInvertedIndex: <name>_postings, " +
        "<name>_doclens; registerQueryStore: <name>_clauses, <name>_totals)")
    val root = m.getOrElse("path",
      throw new IllegalArgumentException("graft layout source needs a 'path'"))
    val table = m.getOrElse("table", "")
    val (rel, partCol, canonical) = layouts.getOrElse(table,
      throw new IllegalArgumentException(s"graft layout source needs a 'table' " +
        s"(one of ${layouts.keys.toSeq.sorted}), got '$table'"))
    new LayoutTable(root, table, s"$root/$rel", partCol, StructType.fromDDL(canonical))
  }

  /** Open the owning layout, as a handle of it opens at its first call
    * ([[LayoutFs.open]]): the engine rule that every read recovers first,
    * holding for SQL views too. Each scan build then makes the batch's
    * probe alone ([[LayoutFs.rollForward]]), which lists nothing. */
  def open(root: String, table: String): Unit = {
    val spark = SparkSession.active
    table.takeWhile(_ != '_') match {
      case "ivf" => new graft.sources.IvfIndex(spark, root).layout.recover()
      case "query" => new graft.sources.QueryStore(spark, root).layout.recover()
      case "graph" => new graft.sources.GraphIndex(spark, root).layout.recover()
      case _ => new graft.sources.InvertedIndex(spark, root).layout.recover()
    }
  }

  /** The live data files under `dir`, listed on the driver: those of
    * `dir`, or of each `col=N` directory when partitioned
    * ([[LayoutFs.dataFiles]]). Spark's own listing would run a job per
    * query once a root holds more partition directories than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold`. */
  def liveFiles(dir: String, partCol: Option[String]): Array[FileStatus] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
    partCol.fold(LayoutFs.dataFiles(fs, root))(c =>
      LayoutFs.partDataFiles(fs, root, c).flatMap(_._2).toArray)
  }

  /** The data columns of the first part-file under `dir`, as Spark reads
    * them, but with every field and array element nullable: Spark writes
    * non-null columns as parquet `required`, and a later rebuild of the
    * layout may carry nulls the pinned schema must admit. None when the
    * directory holds no file. */
  def footerSchema(dir: String, partCol: Option[String]): Option[StructType] =
    liveFiles(dir, partCol).headOption.map { file =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(file.getPath,
        SparkSession.active.sparkContext.hadoopConfiguration))
      val message = try r.getFooter.getFileMetaData.getSchema finally r.close()
      def nullable(t: DataType): DataType = t match {
        case ArrayType(e, _) => ArrayType(nullable(e), containsNull = true)
        case other => other
      }
      StructType(new ParquetToSparkSchemaConverter(SQLConf.get).convert(message)
        .map(f => StructField(f.name, nullable(f.dataType))))
    }
}

/** One persisted-layout table. DATA is live per scan, but the SCHEMA is
  * pinned at registration: Spark resolves a `DataSourceV2Relation`'s
  * output once, so a layout later rebuilt with a DIFFERENT doc_id/id
  * physical type keeps serving the registered schema until
  * re-registration. A still-empty layout registers with a sibling
  * layout's footer types where one exists, else the canonical columns. */
final class LayoutTable(root: String, tableName: String, dir: String,
    partCol: Option[String], canonical: StructType) extends Table with SupportsRead {
  import GraftLayoutSource._

  override def name(): String = s"graft:$tableName($root)"

  override lazy val schema: StructType = {
    open(root, tableName)
    val fileSchema = footerSchema(dir, partCol).orElse(tableName match {
      case "tombstones" => footerSchema(s"$root/doclens", None)
        .map(dl => StructType(dl.filter(_.name == "doc_id")))
      case _ => None
    }).getOrElse(canonical)
    partCol.fold(fileSchema)(c =>
      StructType(fileSchema.fields :+ StructField(c, IntegerType, nullable = false)))
  }

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  /** Probe the layout root, then hand Spark a file index seeded with
    * [[liveFiles]]: partition inference and pruning are Spark's, the
    * listing is not. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val rootPath = new Path(root)
    LayoutFs.rollForward(rootPath.getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration), rootPath)
    val files = liveFiles(dir, partCol)
    val index = new InMemoryFileIndex(SparkSession.active, Seq(new Path(dir)),
      Map.empty, Some(schema), new FileStatusCache {
        override def getLeafFiles(path: Path): Option[Array[FileStatus]] = Some(files)
        override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
        override def invalidateAll(): Unit = ()
      })
    ParquetScanBuilder(SparkSession.active, index, schema,
      StructType(schema.filterNot(f => partCol.contains(f.name))), options)
  }
}
