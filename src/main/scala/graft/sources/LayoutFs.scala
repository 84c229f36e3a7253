package graft.sources

import java.io.IOException

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one crash-safe commit primitive every persisted layout shares.
  *
  * A layout replaces a directory by writing the replacement under a
  * hidden (dot-prefixed) staging path, then [[swap]]ping it in with two
  * renames through a hidden `.<name>.bak` backup. Hidden paths are
  * skipped by Spark's file listing and partition discovery, so no reader
  * can see both the old and the new rows, or a `bucket=N.bak` partition
  * value. A crash between the two renames leaves the backup and no live
  * directory; every read entry point runs [[recover]] or [[recoverUnder]]
  * first, which restores the backup when the live directory is missing
  * and drops it otherwise. Layout-specific protocols (IVF merge/split
  * markers, the inverted index's `.append_pending` batch marker, the
  * derived-sidecar apply markers) stay in their layouts and call [[swap]]
  * for each rename pair.
  *
  * Atomicity assumption, stated once for the engine's whole two-rename
  * and marker family: each `rename` is an ATOMIC O(1) metadata
  * operation that either fully happens or not at all — true on HDFS and
  * POSIX local filesystems. On an object store without atomic rename
  * (plain S3), `FileSystem.rename` degrades to copy-then-delete:
  * correctness survives (recovery re-walks the state-checked steps) but
  * a crash mid-copy can expose a partially copied directory to the
  * recovery scan, and the O(1)-metadata cost model breaks — on such
  * stores this object is the one place to replace with a manifest or
  * pointer flip. */
object LayoutFs {

  private def bak(live: Path): Path =
    new Path(live.getParent, s".${live.getName}.bak")

  /** Replace `live` with `staged`: back `live` up (dropping a stale
    * backup first), rename `staged` into place, drop the backup.
    * Idempotent from any crash point: with `staged` already gone the
    * rename pair completed and only the backup drop remains, and with
    * `live` missing the backup is kept until the rename lands — so the
    * IVF merge/split roll-forwards re-run it freely. A failed rename
    * throws and leaves the state to [[recover]] (no rollback: a real
    * crash cannot roll back either). */
  def swap(fs: FileSystem, staged: Path, live: Path): Unit = {
    val b = bak(live)
    if (fs.exists(staged)) {
      if (fs.exists(live)) {
        fs.delete(b, true)
        if (!fs.rename(live, b)) throw new IOException(s"cannot back up $live")
      }
      if (!fs.rename(staged, live))
        throw new IOException(s"cannot swap $staged into $live (backup at $b)")
    }
    fs.delete(b, true)
  }

  /** Resolve a crashed [[swap]] of each named directory: restore the
    * backup if the live directory is missing, else drop it. */
  def recover(fs: FileSystem, lives: Path*): Unit =
    lives.foreach { live =>
      val b = bak(live)
      if (fs.exists(b)) restoreOrDrop(fs, b, live)
    }

  /** [[recover]] for every directory under `base` whose name matches
    * `glob` (e.g. `bucket=*`), from one glob of their backups. */
  def recoverUnder(fs: FileSystem, base: Path, glob: String): Unit =
    Option(fs.globStatus(new Path(base, s".$glob.bak"))).toSeq.flatten
      .foreach { st =>
        restoreOrDrop(fs, st.getPath, new Path(base,
          st.getPath.getName.stripPrefix(".").stripSuffix(".bak")))
      }

  private def restoreOrDrop(fs: FileSystem, b: Path, live: Path): Unit =
    if (!fs.exists(live)) {
      if (!fs.rename(b, live)) throw new IOException(s"cannot restore $live from $b")
    } else fs.delete(b, true)

  /** Consistent on-disk snapshot of the tree at `root`. `quiesce` runs
    * first (the layout's recovery and marker roll-forwards — under the
    * engine-wide single-writer assumption the tree is then immutable for
    * the copy); the tree copies byte-faithfully into a hidden
    * `.<name>.snapstaging` sibling of `target`, which is renamed into
    * place. `target` either doesn't exist or is a complete snapshot: a
    * crash mid-copy leaves only hidden debris that the next attempt
    * discards, so the exists-refusal never blocks a clean retry. Restore
    * is free by construction — a snapshot IS a complete layout root:
    * open it, or copy it back over a damaged layout. */
  def snapshot(fs: FileSystem, root: Path, target: String,
      conf: Configuration)(quiesce: => Unit): Unit = {
    quiesce
    val dst = new Path(target)
    require(!fs.exists(dst), s"snapshot target $target already exists")
    val staging = new Path(dst.getParent, s".${dst.getName}.snapstaging")
    fs.delete(staging, true)
    if (!graft.util.TreeCopy.copy(fs, root, staging, conf))
      throw new IOException(s"snapshot copy to $staging failed")
    if (!fs.rename(staging, dst))
      throw new IOException(s"cannot publish snapshot $staging -> $target")
  }

  /** Stage `transform(live rows)` as the hidden sibling
    * `.<name>.staging` of `live` and [[swap]] it in. A transform that
    * drops EVERY row still stages a schema-carrying empty file (under
    * `<partCol>=0` for a partitioned layout), so later whole-layout
    * reads can infer the schema. */
  def stageRewrite(spark: SparkSession, live: String, partCol: Option[String])(
      transform: DataFrame => DataFrame): Unit = {
    val liveP = new Path(live)
    val fs = liveP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(liveP.getParent, s".${liveP.getName}.staging")
    fs.delete(staging, true)
    val rows = transform(spark.read.parquet(live))
    partCol match {
      case Some(c) => rows.write.partitionBy(c).parquet(staging.toString)
      case None    => rows.write.parquet(staging.toString)
    }
    val hasData = fs.listStatus(staging)
      .exists(s => !s.getPath.getName.startsWith("_"))
    if (!hasData) partCol match {
      case Some(c) => rows.drop(c).limit(0).coalesce(1)
        .write.parquet(new Path(staging, s"$c=0").toString)
      case None => rows.limit(0).coalesce(1)
        .write.mode("overwrite").parquet(staging.toString)
    }
    swap(fs, staging, liveP)
  }
}
