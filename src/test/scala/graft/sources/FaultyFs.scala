package graft.sources

import java.io.IOException
import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, FilterFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** A local filesystem under the test-only `faulty:` scheme that counts
  * metadata calls and fails on demand. Every call is attributed to the
  * [[FaultyFs.Plan]] whose root directory contains its path, so suites
  * (and parallel cases of one suite) never see each other's calls.
  *
  * A plan armed with `failAt = k` throws on the k-th `rename` or
  * `delete` under its root and on every one after it — a crashed
  * process issues no further calls, so neither do `finally` cleanups.
  * With `quietRenames` set, a failing rename returns `false` instead,
  * the way `FileSystem.rename` reports most failures.
  * Calls whose paths lie inside Spark's committer directories
  * (`_temporary`, `.spark-staging-*`) are neither counted nor failed:
  * they belong to the output committer, not to a layout's commit
  * protocol. */
class FaultyFs extends FilterFileSystem(new FaultyFs.Raw) {
  import FaultyFs._

  override def rename(src: Path, dst: Path): Boolean =
    mutate("rename", src, dst) && super.rename(src, dst)
  override def delete(f: Path, recursive: Boolean): Boolean = {
    mutate("delete", f)
    super.delete(f, recursive)
  }
  override def exists(f: Path): Boolean = { note("exists", f); super.exists(f) }
  override def getFileStatus(f: Path): FileStatus = {
    note("getFileStatus", f); super.getFileStatus(f)
  }
  override def globStatus(p: Path): Array[FileStatus] = {
    note("globStatus", p); super.globStatus(p)
  }
  override def globStatus(p: Path, filter: PathFilter): Array[FileStatus] = {
    note("globStatus", p); super.globStatus(p, filter)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    note("listStatus", f); super.listStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    planOf(f).foreach(_.onCreate(f))
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object FaultyFs {
  val Scheme = "faulty"

  /** The raw local filesystem, answering to the `faulty:` scheme (no
    * checksum files, so a fixture tree copies as plain files). */
  class Raw extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$Scheme:///")
  }

  /** Calls under one root directory. */
  final class Plan(val root: String) {
    @volatile var failAt: Long = 0L // 0 = never fail
    @volatile var quietRenames = false
    @volatile var onCreate: Path => Unit = _ => ()
    val mutations = new AtomicLong
    private val counts = new ConcurrentHashMap[String, AtomicLong]
    def count(kind: String): Long = Option(counts.get(kind)).fold(0L)(_.get)
    private[FaultyFs] def bump(kind: String): Unit =
      counts.computeIfAbsent(kind, _ => new AtomicLong).incrementAndGet()
    def reset(): Unit = { counts.clear(); mutations.set(0L) }
  }

  private val plans = new ConcurrentHashMap[String, Plan]

  /** Register `fs.faulty.impl` with the session's Hadoop configuration
    * (driver and tasks read the same one). */
  def install(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.$Scheme.impl", classOf[FaultyFs].getName)

  /** A plan for the local directory `root`; paths under it are
    * addressed as `faulty://<root>/...` (see [[uri]]). */
  def plan(root: String): Plan = plans.computeIfAbsent(root, new Plan(_))
  def drop(root: String): Unit = plans.remove(root)
  def uri(localPath: String): String = s"$Scheme://$localPath"

  private def planOf(p: Path): Option[Plan] = {
    val local = p.toUri.getPath
    if (local == null) None
    else plans.values().toArray(Array.empty[Plan])
      .find(pl => local == pl.root || local.startsWith(pl.root + "/"))
  }

  private def committer(paths: Seq[Path]): Boolean =
    paths.exists { p =>
      val s = p.toUri.getPath
      s.contains("/_temporary") || s.contains("/.spark-staging-")
    }

  private def note(kind: String, p: Path): Unit = planOf(p).foreach(_.bump(kind))

  /** Count a rename or delete; false for a quietly failed rename. */
  private def mutate(kind: String, paths: Path*): Boolean =
    committer(paths) || planOf(paths.head).forall { pl =>
      pl.bump(kind)
      val n = pl.mutations.incrementAndGet()
      val fail = pl.failAt > 0 && n >= pl.failAt
      if (fail && !(kind == "rename" && pl.quietRenames))
        throw new IOException(s"injected failure at $kind #$n: ${paths.mkString(" -> ")}")
      !fail
    }
}
