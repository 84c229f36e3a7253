package graft.util

import java.util.concurrent.Executors

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}

/** Byte-faithful directory-tree copy with FILE-LEVEL parallelism — the
  * copy behind [[graft.sources.LayoutFs.snapshot]]. `FileUtil.copy`
  * walks the tree single-threaded on the driver; a layout snapshot is
  * hundreds of small parquet part-files, so the copy was latency-bound
  * on sequential open/close round-trips (r22 profile: q290's wall was
  * mostly this). Here the tree is listed once, directories are created
  * up front, and the files copy on one process-wide pool of
  * [[Threads]] daemon threads (I/O-bound, so a few threads saturate
  * local disk and HDFS alike; concurrent snapshots share it instead of
  * each starting its own). Failure of any single copy fails the whole
  * call, but only after every copy the call started has finished — so
  * nothing writes into the destination once `copy` has returned, and a
  * retry's cleanup of its hidden staging cannot race late writes. */
object TreeCopy {
  private val Threads = 8

  private val pool: ExecutionContext =
    ExecutionContext.fromExecutorService(Executors.newFixedThreadPool(Threads,
      (r: Runnable) => {
        val t = new Thread(r, "graft-tree-copy")
        t.setDaemon(true)
        t
      }))

  def copy(fs: FileSystem, src: Path, dst: Path, conf: Configuration): Boolean = {
    val srcStat = fs.getFileStatus(src)
    if (srcStat.isFile) return FileUtil.copy(fs, src, fs, dst, false, conf)
    val files = scala.collection.mutable.ArrayBuffer.empty[(Path, Path)]
    def walk(s: Path, d: Path): Unit = {
      fs.mkdirs(d)
      fs.listStatus(s).foreach { st =>
        val dd = new Path(d, st.getPath.getName)
        if (st.isDirectory) walk(st.getPath, dd)
        else files += ((st.getPath, dd))
      }
    }
    walk(src, dst)
    val copies = files.toSeq.map { case (s, d) =>
      Future(FileUtil.copy(fs, s, fs, d, false, conf))(pool) }
    copies.map(f => Await.ready(f, Duration.Inf).value.get)
      .map(_.get).forall(identity)
  }
}
