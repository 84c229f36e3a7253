package graft.sources

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The one crash-safe commit primitive every persisted layout shares:
  * every write of a layout — a build, an append, a tombstone, a
  * rewrite, a pointer flip — commits as one [[Batch]] on the layout
  * root ([[commit]]).
  *
  * Every replacement or addition stages under the hidden
  * `<root>/.commit/` tree, which mirrors the live paths below the layout
  * root, and a marker file naming the ordered entries is renamed to
  * `<root>/.committed` — that rename is the commit point. An entry is a
  * `swap` (replace a live directory or file with its staged one through
  * a hidden `.<name>.bak` backup), a `move` (an additive entry: rename
  * every data file of a directory under the root into a live directory,
  * keeping the file names) or a `drop` (delete a live directory).
  * Publishing runs the swaps and moves in the order they were listed,
  * then the drops, then drops the batch. From the marker on,
  * [[rollForward]] on the root finishes the batch, so a crash leaves the
  * old layout or the whole new one. Hidden paths are skipped by Spark's
  * file listing and partition discovery, so no reader sees staged files
  * or a `bucket=N.bak` partition value.
  *
  * A layout handle owns one [[Live]] on its root, and every value the
  * handle keeps follows one freshness rule: a value is good while the
  * root's modification time is the one it was taken at. Every commit
  * of any handle renames its marker into the root, so the root's mtime
  * moves with every write; the handle's own batches keep their stamps
  * and drop only what they changed.
  *
  * Recovery is split by where its state can come from. A handle
  * [[open]]s its layout once, at its first call, which also looks under
  * the layout directories where an earlier version's lone swaps left
  * backups and its commit markers. Every later call of the handle, read
  * or write, makes one glob of the root ([[Live.recover]]), and every
  * SQL scan build and every new batch makes the batch's own probe
  * ([[rollForward]]), which lists nothing. Readers never delete an
  * uncommitted batch: only the next batch or [[discardBatch]] (a
  * layout's vacuum or a [[snapshot]]) discards one.
  *
  * Atomicity assumption, stated once for the engine: each `rename` is
  * an ATOMIC O(1) metadata operation that either fully happens or not
  * at all — true on HDFS and POSIX local filesystems. On an object
  * store without atomic rename (plain S3), `FileSystem.rename` degrades
  * to copy-then-delete: correctness survives (the roll-forward re-walks
  * the state-checked steps) but a crash mid-copy can expose a partially
  * copied directory, and the O(1)-metadata cost model breaks — on such
  * stores this object is the one place to replace with a manifest or
  * pointer flip. */
object LayoutFs {

  private def bak(live: Path): Path =
    new Path(live.getParent, s".${live.getName}.bak")

  /** Replace `live` with `staged`: back `live` up (dropping a stale
    * backup first), rename `staged` into place, drop the backup.
    * Idempotent from any crash point: with `staged` already gone the
    * rename pair completed and only the backup drop remains, and with
    * `live` missing the backup is kept until the rename lands — so a
    * [[Batch]] roll-forward re-runs it freely. A failed rename throws
    * (no rollback: a real crash cannot roll back either). */
  private[sources] def swap(fs: FileSystem, staged: Path, live: Path): Unit = {
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

  private val Staging = ".commit"
  private val Marker = ".committed"

  /** Open the layout at `root`: what a layout handle runs once, at its
    * first call ([[Live.recover]]). One glob of the root ([[RootProbe]])
    * finds what [[rollForward]] finds, a backup `.<name>.bak` an earlier
    * version's lone swap left at the root and the legacy markers there;
    * one glob of each directory of `dirs` (relative to `root`) finds the
    * same under it. Each glob's finds are finished by [[recoverIn]]. This
    * version swaps only inside a batch publish, so once the layout is
    * open, a backup under `dirs` can only be a publish's, which the
    * root's marker covers. */
  def open(fs: FileSystem, root: Path, dirs: String*): Unit = {
    recoverIn(fs, root, RootProbe)
    dirs.foreach(d => recoverIn(fs, new Path(root, d), DirProbe))
  }

  /** The probe every SQL scan build and every new batch makes: one glob
    * of the root for its committed [[Batch]], rolled forward (true when
    * there was one), and for the two legacy markers an earlier version
    * left below the root — the inverted index's census delta (published
    * mid-vacuum) and the graph's committed edge batch — which fail the
    * call with an `IOException` naming the marker. The names are
    * literal, so Hadoop's globber looks each one up and lists nothing. */
  def rollForward(fs: FileSystem, root: Path): Boolean = recoverIn(fs, root, Probe)

  /** The one object a layout handle owns on its root `root`: it holds
    * the filesystem, recovers the layout ([[recover]]), reads its live
    * directories, keeps the values the handle derives from them
    * ([[memo]]) and commits its batches ([[commit]]).
    *
    * Each read pins its directory's schema (`spark.read.schema(s)`), so
    * it lists the files and launches no Spark job: inferring a schema
    * reads parquet footers in a job of its own. A schema, like every
    * [[Memo]], is stamped by the root's modification time when it was
    * taken (once per public [[call]], shared by the call's lookups) and
    * stays good while the root keeps that stamp: every write
    * of every layout commits through a [[Batch]], whose marker renames
    * into the root, so another handle's commit moves the stamp.
    *
    * The handle's own batches keep their stamps good: every root stamp
    * seen while its batch is open is its own staging's or commit's, so
    * a value stamped by one of them stays valid through the batch. After
    * the batch, a memo whose directories the batch touched (a swap, a
    * move into or out of one, a drop) is dropped, and a schema only when
    * the batch replaced its directory whole — a directory holds one
    * schema, which rewriting some of its partitions or adding files
    * cannot change; everything else is re-stamped. `dirs` (relative to
    * the root) are the directories [[LayoutFs.open]] looks under. */
  final class Live(private[sources] val spark: SparkSession, private[sources] val root: String,
      dirs: String*) {
    private[graft] lazy val fs: FileSystem =
      new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    private val rootPath = new Path(root).toUri.getPath
    @volatile private var opened = false
    /** dir -> (the root stamp when inferred, the schema). */
    private val schemas = new ConcurrentHashMap[String, (Long, StructType)]
    @volatile private var memos = Vector.empty[Memo[_]]
    /** The root stamps this handle's open batch made, empty between batches. */
    @volatile private var own = Set.empty[Long]

    /** The handle's one recovery call: the first call opens the layout
      * ([[open]]); every later one globs the root alone ([[RootProbe]]:
      * a committed batch, a root backup, a legacy marker) — one listing
      * of the root, so a live handle still restores a root backup or
      * refuses a legacy marker that appears after it opened. An open
      * that fails (on a legacy marker) runs again at the next call. */
    def recover(): Unit =
      if (opened) recoverIn(fs, new Path(root), RootProbe)
      else { open(fs, new Path(root), dirs: _*); opened = true }

    /** The root stamp of the [[call]] running on this thread: null
      * outside one, None until its first lookup. */
    private val callStamp = new ThreadLocal[Option[Long]]

    /** One public call of the handle: [[recover]], then `body`, whose
      * schema and memo lookups share one root stamp, taken at the first
      * of them (a batch keeps stamping its own). A value stamped earlier
      * than what it read only expires sooner, so a shared stamp never
      * serves a stale value. A nested call stamps afresh; the outermost
      * one ends the stamp. */
    def call[T](body: => T): T = {
      recover()
      val outer = callStamp.get
      callStamp.set(None)
      try body finally if (outer == null) callStamp.remove()
    }

    /** The stamp a lookup compares against: its call's, or its own. */
    private def lookupStamp(): Long = callStamp.get match {
      case Some(k) if own.isEmpty => k
      case None if own.isEmpty =>
        val k = stamp()
        callStamp.set(Some(k))
        k
      case _ => stamp()
    }

    /** The root's stamp now, recorded as the open batch's own. */
    private def stamp(): Long = {
      val k = try fs.getFileStatus(new Path(root)).getModificationTime
        catch { case _: FileNotFoundException => -1L }
      if (own.nonEmpty) own += k
      k
    }

    /** Whether a value stamped `k0` is still good at the root stamp `k`. */
    private def fresh(k0: Long, k: Long): Boolean = k0 == k || own(k0)

    /** The live directory `dir` of the layout. */
    def apply(dir: String): DataFrame = spark.read.schema(schema(dir)).parquet(dir)

    /** The part-files `files` of the live directory `dir`, with `dir`'s
      * partition columns. */
    def files(dir: String, files: Seq[String]): DataFrame =
      spark.read.schema(schema(dir)).option("basePath", dir).parquet(files: _*)

    /** The schema of the live directory `dir`. */
    private def schema(dir: String): StructType = {
      val k = lookupStamp()
      Option(schemas.get(dir)) match {
        case Some((k0, s)) if fresh(k0, k) => s
        case _ =>
          val s = spark.read.parquet(dir).schema
          schemas.put(dir, (k, s))
          s
      }
    }

    /** `(N, data files, their bytes)` for each `partCol=N` directory of
      * the directory `dir` ([[partDataFiles]]), from the file listing
      * alone. */
    def partFiles(dir: String, partCol: String): Seq[(Int, Int, Long)] =
      partDataFiles(fs, new Path(dir), partCol).map { case (n, files) =>
        (n, files.length, files.map(_.getLen).sum)
      }

    /** A value the handle derives from its directories `dirs` (relative
      * to the root), kept under the class doc's rule. */
    def memo[T](dirs: String*): Memo[T] = {
      val m = new Memo[T](dirs)
      memos :+= m
      m
    }

    final class Memo[T] private[Live] (dirs: Seq[String]) {
      @volatile private var cell: Option[(Long, T)] = None
      /** The kept value while it is fresh, else `compute`, kept. */
      def apply(compute: => T): T = {
        val k = lookupStamp()
        cell match {
          case Some((k0, v)) if fresh(k0, k) => v
          case _ => keep(k, compute)
        }
      }
      /** Compute afresh and keep the value — for a caller whose own job
        * yields it as a by-product. */
      def refresh(compute: => T): T = keep(lookupStamp(), compute)
      private def keep(k: Long, compute: => T): T = {
        val v = compute
        cell = Some((k, v))
        v
      }
      /** After the handle's batch `b`, whose last root stamp is `k`. */
      private[Live] def settle(b: Batch, k: Long): Unit = cell.foreach { case (k0, v) =>
        if (dirs.exists(b.touches)) cell = None
        else if (own(k0)) cell = Some((k, v))
      }
    }

    /** [[LayoutFs.commit]] on the root; then settle the schemas and the
      * memos (the class doc's rule). */
    def commit(body: Batch => Unit): Unit = {
      val b = batch(fs, new Path(root))
      own = Set(stamp())
      try { body(b); b.commit() }
      finally {
        val k = stamp()
        schemas.forEach { (dir, e) =>
          val p = new Path(dir).toUri.getPath
          if (p != rootPath && !p.startsWith(rootPath + "/") ||
              b.replaces(p.stripPrefix(rootPath).stripPrefix("/")))
            schemas.remove(dir)
          else if (own(e._1)) schemas.put(dir, (k, e._2))
        }
        memos.foreach(_.settle(b, k))
        own = Set.empty
        if (callStamp.get != null) callStamp.set(Some(k))
      }
    }

    /** A snapshot of the recovered layout at `target` ([[LayoutFs.snapshot]]). */
    def snapshot(target: String): Unit = {
      recover()
      LayoutFs.snapshot(fs, new Path(root), target, spark.sparkContext.hadoopConfiguration)
    }
  }

  /** The data files of the directory `dir`: subdirectories and hidden
    * (`.`/`_`) names — checksums, commit markers, staging — skipped; a
    * missing `dir` has none. */
  def dataFiles(fs: FileSystem, dir: Path): Array[FileStatus] =
    (try fs.listStatus(dir) catch { case _: FileNotFoundException => Array.empty[FileStatus] })
      .filter(s => s.isFile && !hidden(s))

  private def hidden(s: FileStatus): Boolean =
    s.getPath.getName.startsWith(".") || s.getPath.getName.startsWith("_")

  /** `(N, its data files)` ([[dataFiles]]) for each `partCol=N`
    * directory of the directory `dir`, ordered by N; a missing `dir` has
    * none. */
  def partDataFiles(fs: FileSystem, dir: Path, partCol: String): Seq[(Int, Array[FileStatus])] =
    (try fs.listStatus(dir).toSeq catch { case _: FileNotFoundException => Nil })
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$partCol="))
      .map(d => (d.getPath.getName.stripPrefix(s"$partCol=").toInt, dataFiles(fs, d.getPath)))
      .sortBy(_._1)

  private val Nested = "census/pending_delta,edges/.tmp_gbucket_batch/_committed"

  /** What a glob of a layout directory looks for: a committed batch,
    * backups, and the IVF split/merge markers and the inverted index's
    * append and derived-delta apply markers, as the per-layout protocols
    * that [[Batch]] replaced named them. */
  private val DirProbe = Seq(Marker, ".*.bak", ".split_pending_*", ".merge_pending_*",
    ".append_pending", ".derived_apply_pending_*").mkString("{", ",", "}")

  /** [[DirProbe]] at the root and the nested markers: Hadoop's globber
    * expands the outer braces into three patterns, so the one
    * `globStatus` lists the root once and looks up the nested paths. */
  private val RootProbe = s"{$DirProbe,$Nested}"

  private val Probe = s"{$Marker,$Nested}"

  /** Finish what one glob of `pattern` under `base` finds: refuse a
    * legacy marker — a layout read past one serves a half-applied
    * mutation, and this version no longer rolls those forward — then
    * roll a committed batch forward, then restore each backup whose
    * live entry is missing and drop the others. The batch goes first: its
    * publish renames a swap's staged entry straight into the live path
    * its crash left missing. True when a batch was rolled forward. */
  private def recoverIn(fs: FileSystem, base: Path, pattern: String): Boolean = {
    val hits = Option(fs.globStatus(new Path(base, pattern))).toSeq.flatten.map(_.getPath)
    val (batch, rest) = hits.partition(_.getName == Marker)
    val (baks, markers) = rest.partition(_.getName.endsWith(".bak"))
    markers.headOption.foreach(m => throw new IOException(s"$m: an earlier version of this " +
      "layout committed a mutation and crashed before finishing it; open the " +
      "layout once with that version to roll it forward, or restore a snapshot"))
    batch.foreach(_ => publish(fs, base))
    baks.foreach { b =>
      val live = new Path(base, b.getName.stripPrefix(".").stripSuffix(".bak"))
      if (!fs.exists(live)) {
        if (!fs.rename(b, live)) throw new IOException(s"cannot restore $live from $b")
      } else fs.delete(b, true)
    }
    batch.nonEmpty
  }

  private def under(base: Path, rel: String): Path =
    if (rel.isEmpty) base else new Path(base, rel)

  private def relOf(dir: String, name: String): String =
    if (dir.isEmpty) name else if (name.isEmpty) dir else s"$dir/$name"

  /** Directory replacements and additions under the layout root
    * `root`, committed at once (the class doc's protocol). [[stage]],
    * [[stageRows]], [[stageParts]] and [[rewriteParts]] add swaps,
    * [[add]] and [[move]] add moves, all in call order; [[drop]] adds a
    * deletion that runs after them. Open one with [[LayoutFs.commit]]. */
  final class Batch private[LayoutFs] (fs: FileSystem, root: Path) {
    private var entries = Vector.empty[String]
    private var drops = Vector.empty[String]
    /** The paths under the root whose whole content this batch replaces
      * or drops ("" for the root itself). */
    private var replaced = Vector.empty[String]

    /** Whether the batch replaces or drops `rel`, or a directory holding it. */
    private[LayoutFs] def replaces(rel: String): Boolean =
      replaced.exists(r => r.isEmpty || rel == r || rel.startsWith(r + "/"))

    /** Whether the batch swaps, moves files into or out of, or drops
      * `rel`, a path under it or a directory holding it. */
    private[LayoutFs] def touches(rel: String): Boolean =
      (entries.flatMap(_.split(" ", -1).tail) ++ drops).exists(t =>
        t.isEmpty || t == rel || t.startsWith(rel + "/") || rel.startsWith(t + "/"))

    /** Where the replacement of the live `root/rel` stages. */
    def staged(rel: String): Path = under(new Path(root, Staging), rel)

    /** Stage `root/rel` — a directory or a file — as `write` writes it to
      * the staging path. */
    def stage(rel: String)(write: Path => Unit): Unit = {
      write(staged(rel))
      entries :+= s"swap $rel"
      replaced :+= rel
    }

    /** Stage `rows` as the whole replacement of `root/rel`, partitioned
      * by `partCol` if given. With every row gone it stages a
      * schema-carrying empty file (under `<partCol>=0` for a partitioned
      * layout), so later whole-layout reads can still infer the schema.
      * The root itself (an empty `rel`) cannot swap, so a layout
      * partitioned at its root is replaced part by part: each staged part
      * swaps in, and each live part that got no rows drops. */
    def stageRows(rel: String, partCol: Option[String], rows: DataFrame): Unit = {
      require(rel.nonEmpty || partCol.nonEmpty, s"only a partitioned layout can replace its root $root")
      replaced :+= rel
      val dir = staged(rel)
      partCol.fold(rows.write)(c => rows.write.partitionBy(c)).parquet(dir.toString)
      if (!fs.listStatus(dir).exists(s => !s.getPath.getName.startsWith("_")))
        partCol match {
          case Some(c) => emptyFile(rows.drop(c), new Path(dir, s"$c=0"))
          case None => emptyFile(rows, dir)
        }
      if (rel.nonEmpty) entries :+= s"swap $rel"
      else partCol.foreach { c =>
        val parts = partsIn(dir, c)
        parts.toSeq.sorted.foreach(n => entries :+= s"swap $n")
        (partsIn(root, c) -- parts).toSeq.sorted.foreach(drop)
      }
    }

    /** Stage `rows`, partitioned by `partCol`, as the replacement of each
      * `rel/partCol=N` with N in `parts`. A part that gets no rows but
      * exists live stages a schema-carrying empty file, so it swaps to
      * empty and a later read of the whole layout can still infer the
      * schema; a part that exists nowhere stays absent. Rows outside
      * `parts` abort the batch uncommitted: a rewrite must never replace
      * a directory whose live rows it did not read. */
    def stageParts(rel: String, partCol: String, parts: Seq[Int], rows: DataFrame): Unit = {
      val dir = staged(rel)
      rows.write.partitionBy(partCol).parquet(dir.toString)
      val written = partsIn(dir, partCol)
      val names = parts.map(n => s"$partCol=$n")
      val stray = written -- names
      if (stray.nonEmpty) throw new IllegalStateException(
        s"rows for ${stray.toSeq.sorted.mkString(", ")} outside the rewritten " +
          s"parts of ${under(root, rel)}")
      names.filter(n => written(n) || fs.exists(new Path(under(root, rel), n)))
        .foreach { n =>
          if (!written(n)) emptyFile(rows.drop(partCol), new Path(dir, n))
          entries :+= s"swap ${relOf(rel, n)}"
        }
    }

    /** Rewrite the `partCol=N` directories of `root/rel`, N in `parts`:
      * `transform` their live rows (`live`, the whole layout's frame,
      * pruned to those parts — one partition-pruned read) and stage the
      * result with [[stageParts]]. */
    def rewriteParts(rel: String, partCol: String, parts: Seq[Int], live: DataFrame)(
        transform: DataFrame => DataFrame): Unit =
      if (parts.nonEmpty)
        stageParts(rel, partCol, parts, transform(live.filter(col(partCol).isin(parts: _*))))

    /** Stage additions to the live `root/rel` (the root itself for an
      * empty `rel`) as `write` writes them to the staging path: at
      * publish each staged data file moves to the same place under
      * `root/rel` ([[move]]). An addition to the root stages at the
      * staging root, so it must be the batch's first staged write, and
      * the batch's other staged paths must be hidden (`_`-prefixed). */
    def add(rel: String)(write: Path => Unit): Unit = {
      write(staged(rel))
      move(relOf(Staging, rel), rel)
    }

    /** Move every data file of `root/src` into `root/dst` at publish,
      * keeping file names and `col=N` subdirectories. Parquet task files
      * carry a unique job id, so a moved name never collides with a live
      * one. */
    def move(src: String, dst: String): Unit = entries :+= s"move $src $dst"

    /** Delete the live `root/rel` once every swap and move has landed. */
    def drop(rel: String): Unit = { drops :+= rel; replaced :+= rel }

    /** Commit ([[markCommitted]]) and publish. */
    private[sources] def commit(): Unit = if (markCommitted()) publish(fs, root)

    /** The commit point alone: write the entry list under the staging
      * tree and rename it to the marker. A batch with no entry commits
      * nothing (false). */
    private[sources] def markCommitted(): Boolean =
      (entries.nonEmpty || drops.nonEmpty) && {
        val tmp = staged("_batch")
        val out = fs.create(tmp, true)
        try out.write((entries ++ drops.map("drop " + _))
          .mkString("", "\n", "\n").getBytes(UTF_8))
        finally out.close()
        if (!fs.rename(tmp, new Path(root, Marker)))
          throw new IOException(s"cannot commit the batch staged under $root")
        true
      }

    /** The `<partCol>=N` directory names under `dir` (none if missing). */
    private def partsIn(dir: Path, partCol: String): Set[String] =
      try fs.listStatus(dir).map(_.getPath.getName).filter(_.startsWith(s"$partCol=")).toSet
      catch { case _: FileNotFoundException => Set.empty }
  }

  /** The one way a layout writes: open a [[Batch]] on the layout root
    * `root`, let `body` stage its entries, then commit and publish it.
    * The caller owns the layout: a batch still committed there rolls
    * forward first, and an uncommitted one is discarded
    * ([[discardBatch]]). A `body` that throws leaves its staging
    * uncommitted — hidden debris the next batch discards. */
  def commit(fs: FileSystem, root: Path)(body: Batch => Unit): Unit = {
    val b = batch(fs, root)
    body(b)
    b.commit()
  }

  /** Open a [[Batch]] under `root` ([[commit]]'s first step). */
  private[sources] def batch(fs: FileSystem, root: Path): Batch = {
    discardBatch(fs, root)
    new Batch(fs, root)
  }

  /** Discard the staging of an uncommitted [[Batch]] under `root` — a
    * committed one rolls forward instead. Returns whether there was one
    * to discard. Writers only (the next batch, a vacuum, a snapshot):
    * readers leave an uncommitted batch alone. */
  def discardBatch(fs: FileSystem, root: Path): Boolean =
    !rollForward(fs, root) && fs.delete(new Path(root, Staging), true)

  /** Run a committed batch's swaps and moves in order, then its drops,
    * then drop the marker and the staging. Idempotent: a swap whose
    * staging is gone already landed, a move only finds the files it has
    * not moved yet, and a drop of a missing directory is a no-op. */
  private def publish(fs: FileSystem, root: Path): Unit = {
    val marker = new Path(root, Marker)
    val in = fs.open(marker)
    val entries = try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), UTF_8).split("\n")
      finally in.close()
    entries.filter(_.nonEmpty).foreach {
      case s"swap $rel" => swap(fs, under(new Path(root, Staging), rel), under(root, rel))
      case s"move $src $dst" => moveFiles(fs, under(root, src), under(root, dst))
      case s"drop $rel" => fs.delete(under(root, rel), true)
      case e => throw new IOException(s"unknown entry '$e' in $marker")
    }
    fs.delete(marker, false)
    fs.delete(new Path(root, Staging), true)
  }

  /** Rename every data file of `src` into `dst` (created if missing),
    * recursing into subdirectories; hidden (`.`/`_`) names stay. A
    * missing `src` is a no-op, so a roll-forward re-runs it freely. */
  private def moveFiles(fs: FileSystem, src: Path, dst: Path): Unit =
    if (fs.exists(src)) {
      fs.mkdirs(dst)
      fs.listStatus(src).filterNot(hidden).foreach { s =>
        val to = new Path(dst, s.getPath.getName)
        if (s.isDirectory) moveFiles(fs, s.getPath, to)
        else if (!fs.rename(s.getPath, to))
          throw new IOException(s"cannot move ${s.getPath} into $dst")
      }
    }

  /** Consistent on-disk snapshot of the tree at `root`, which its layout
    * has opened: a committed batch rolls forward and an uncommitted one
    * is discarded ([[discardBatch]]) — under the engine-wide
    * single-writer assumption the tree is then immutable for the copy;
    * the tree copies byte-faithfully into a hidden
    * `.<name>.snapstaging` sibling of `target`, which is renamed into
    * place. `target` either doesn't exist or is a complete snapshot: a
    * crash mid-copy leaves only hidden debris that the next attempt
    * discards, so the exists-refusal never blocks a clean retry. Restore
    * is free by construction — a snapshot IS a complete layout root:
    * open it, or copy it back over a damaged layout. */
  def snapshot(fs: FileSystem, root: Path, target: String,
      conf: Configuration): Unit = {
    discardBatch(fs, root)
    val dst = new Path(target)
    require(!fs.exists(dst), s"snapshot target $target already exists")
    val staging = new Path(dst.getParent, s".${dst.getName}.snapstaging")
    fs.delete(staging, true)
    if (!graft.util.TreeCopy.copy(fs, root, staging, conf))
      throw new IOException(s"snapshot copy to $staging failed")
    if (!fs.rename(staging, dst))
      throw new IOException(s"cannot publish snapshot $staging -> $target")
  }

  /** A schema-carrying empty parquet file as the only content of `dir`:
    * what a replacement directory whose every row is gone holds. */
  private def emptyFile(rows: DataFrame, dir: Path): Unit =
    rows.limit(0).coalesce(1).write.mode("overwrite").parquet(dir.toString)
}
