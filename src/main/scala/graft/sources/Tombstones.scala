package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.DataType

/** The lazily deleted ids of a layout — the inverted index's docs, the
  * query store's queries, the graph's nodes: a delete adds them to the
  * `tombstones/` table under the layout root in one committed batch
  * ([[add]]), every read anti-joins them out ([[mask]]), and a vacuum's
  * rewrite or a rebuild drops the table in the batch that removes their
  * rows ([[drop]]). `key` names the id column, in the table and in the
  * frames it masks.
  *
  * '''Vacuum cadence — the tombstone-bound contract.''' The mask's
  * anti-join costs (and, broadcast, holds in driver and executor
  * memory) the UNVACUUMED tombstone mass, so a layout's vacuum — or its
  * `maintain`, whose `maxTombstoneFrac` policy encodes the bound — runs
  * often enough that the table stays within the
  * `graft.mask.broadcast.maxBytes` gate ([[Tombstones.MaskBroadcastKey]],
  * default 32 MiB — tens of millions of ids). Within the gate a read
  * pays one broadcast anti-join; past it the hint is dropped and AQE
  * picks the join from actual sizes, so a takedown batch of 10⁷–10⁸ ids
  * landed before the next vacuum degrades to a shuffled anti-join
  * (correct, never a driver OOM) until the vacuum restores the fast
  * path. The SQL views ([[StoreCatalog]]) mask through a plan-level
  * anti-join of the same table and share this contract.
  *
  * Whether the table exists and its on-disk bytes come from one listing
  * of it, kept as a [[LayoutFs.Live.memo]] of the layout's handle, so a
  * warm read makes no probe of its own. Single-writer caveat: a mask is
  * decided when its frame is built and read when the frame runs, so a
  * query frame must not straddle a concurrent vacuum — the engine-wide
  * single-maintenance-writer assumption every layout shares. */
final class Tombstones(layout: LayoutFs.Live, key: String) {
  private val dir = s"${layout.root}/tombstones"

  private val listing = layout.memo[Option[Long]]("tombstones")

  /** The table's on-disk bytes, from the file listing alone (no job);
    * None while it holds no data file. */
  private[graft] def bytes(): Option[Long] = listing {
    val files = LayoutFs.dataFiles(layout.fs, new Path(dir))
    if (files.isEmpty) None else Some(files.map(_.getLen).sum)
  }

  /** Whether any id is tombstoned. */
  def present: Boolean = bytes().isDefined

  /** Tombstone `ids`, a single-column (`key`) frame, in one committed
    * batch: O(batch) I/O, no data file of the layout touched, effective
    * on the next read. The ids are cast to `keyType`, the layout's
    * stored id type, so two batches of different integer widths never
    * leave conflicting schemas in the table. An id the layout does not
    * hold is a harmless no-op. */
  def add(ids: DataFrame, keyType: => DataType): Unit = {
    require(ids.columns.toSeq == Seq(key),
      s"ids must be a single-column ($key) frame, got ${ids.columns.toSeq}")
    val t = keyType
    layout.commit(_.add("tombstones")(d =>
      ids.select(col(key).cast(t)).write.parquet(d.toString)))
  }

  /** The distinct tombstoned ids, broadcast-hinted while the table's
    * bytes are within the gate — what a vacuum's rewrite anti-joins.
    * Only while [[present]]. */
  def ids(): DataFrame = {
    val ts = layout(dir).select(col(key)).distinct()
    if (bytes().exists(_ <= Tombstones.maskBroadcastBytes(layout.spark))) broadcast(ts) else ts
  }

  /** The read-side mask: anti-join [[ids]] out of a `key`-keyed frame.
    * With no tombstones it is `identity`, so a layout that never deleted
    * plans exactly as one without the table. One mask serves every frame
    * a call masks. */
  def mask(): DataFrame => DataFrame =
    if (present) {
      val ts = ids()
      _.join(ts, Seq(key), "left_anti")
    } else identity

  /** The number of distinct tombstoned ids (0 with none): the numerator
    * of a layout's `maintain` tombstone fraction. */
  def count(): Long = if (present) layout(dir).select(col(key)).distinct().count() else 0L

  /** Drop the table in `batch`, which removes or replaces the rows of
    * its ids (a vacuum's rewrite, a rebuild). */
  def drop(batch: LayoutFs.Batch): Unit = batch.drop("tombstones")
}

object Tombstones {

  /** Runtime conf key of the mask's broadcast gate: the maximum ON-DISK
    * bytes of a layout's tombstone table for which the read-side
    * anti-join still carries a `broadcast` hint. Past it the hint is
    * dropped and AQE picks the strategy (the vacuum-cadence contract on
    * [[Tombstones]]). */
  val MaskBroadcastKey = "graft.mask.broadcast.maxBytes"

  /** Default gate: 32 MiB of parquet ≈ tens of millions of ids —
    * comfortably inside executor broadcast budgets, far above any
    * between-vacuums tombstone mass the maintenance policy tolerates. */
  val MaskBroadcastDefaultBytes: Long = 32L * 1024 * 1024

  private def maskBroadcastBytes(spark: SparkSession): Long =
    spark.conf.getOption(MaskBroadcastKey).map(_.toLong)
      .getOrElse(MaskBroadcastDefaultBytes)
}
