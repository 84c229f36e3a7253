package graft.util

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileSystem, Path}

/** Per-instance memo for tiny layout-metadata reads (bucket counts,
  * centroid tables, live row counts), keyed by the watched paths'
  * modification times. The r22 profiles showed the same one-row meta
  * parquet scheduled as 2 Spark jobs (listing + head) up to 8 times per
  * query — pure driver-orchestration overhead, since the value can only
  * change when its directory does. Every engine mutation replaces or
  * touches its watched directory (two-rename swaps create a fresh
  * staging dir; appends move files in; deletes append tombstone files),
  * so a stamp mismatch forces a fresh read. Mutating methods should
  * ALSO call [[invalidate]] explicitly — belt and braces against coarse
  * filesystem mtime granularity within one instance. Nothing persists
  * across instances or runs: a new source handle always reads afresh,
  * so bench timings never inherit another run's work. */
final class StampedMemo[T](fs: () => FileSystem, watched: Seq[String]) {
  @volatile private var cell: Option[(Seq[Long], T)] = None
  /** One metadata call per watched path: its modification time, -1 when
    * it is missing. */
  private def stamp(): Seq[Long] = {
    val f = fs()
    watched.map { p =>
      try f.getFileStatus(new Path(p)).getModificationTime
      catch { case _: FileNotFoundException => -1L }
    }
  }
  def apply(compute: => T): T = {
    val k = stamp()
    cell match {
      case Some((k0, v)) if k0 == k => v
      case _ => keep(k, compute)
    }
  }
  /** Compute afresh and keep the value — for a caller whose own job
    * yields it as a by-product. */
  def refresh(compute: => T): T = keep(stamp(), compute)
  private def keep(k: Seq[Long], compute: => T): T = {
    val v = compute
    cell = Some((k, v))
    v
  }
  def invalidate(): Unit = cell = None
}
