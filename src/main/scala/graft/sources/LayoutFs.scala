package graft.sources

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

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
  * [[rollForward]] (or [[recoverUnder]]) on the root finishes the batch,
  * so a crash leaves the old layout or the whole new one. Hidden paths
  * are skipped by Spark's file listing and partition discovery, so no
  * reader sees staged files or a `bucket=N.bak` partition value.
  * Readers never delete an uncommitted batch: only the next batch,
  * [[discardBatch]] (a layout's vacuum) or a [[snapshot]] quiesce
  * discards one.
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

  /** The full recovery of the layout directory `base`, from one glob:
    * restore the backup `.<name>.bak` of every entry whose name matches
    * `glob` (e.g. `bucket=*`) when the live entry is missing, else drop
    * it — a backup only an earlier version's lone swap leaves behind
    * once the batch that made it has finished — and roll a [[Batch]]
    * committed at `base` forward. The same glob finds the commit markers
    * that earlier versions of the IVF, graph and inverted-index layouts
    * left mid-mutation: those fail the call with an `IOException` naming
    * the marker, because this version no longer rolls them forward and
    * a layout read past one serves a half-applied mutation. */
  def recoverUnder(fs: FileSystem, base: Path, glob: String): Unit = {
    val hits = Option(fs.globStatus(new Path(base,
        (s".$glob.bak" +: Marker +: LegacyMarkers).mkString("{", ",", "}"))))
      .toSeq.flatten.map(_.getPath)
    val (committed, rest) = hits.partition(_.getName == Marker)
    rest.foreach { p =>
      if (p.getName.endsWith(".bak"))
        restoreOrDrop(fs, p, new Path(base, p.getName.stripPrefix(".").stripSuffix(".bak")))
      else refuseLegacy(fs, p)
    }
    if (committed.nonEmpty) publish(fs, base)
  }

  private def restoreOrDrop(fs: FileSystem, b: Path, live: Path): Unit =
    if (!fs.exists(live)) {
      if (!fs.rename(b, live)) throw new IOException(s"cannot restore $live from $b")
    } else fs.delete(b, true)

  /** The IVF split/merge markers, the graph edge batch and the inverted
    * index's append and derived-delta apply markers, as the per-layout
    * protocols that [[Batch]] replaced named them. */
  private val LegacyMarkers = Seq(".split_pending_*", ".merge_pending_*", ".tmp_gbucket_batch",
    ".append_pending", ".derived_apply_pending_*")

  /** Fail on the census delta an earlier version of the inverted index
    * published under its `census` directory mid-vacuum ([[refuseLegacy]]).
    * It lies below the root, where [[recoverUnder]]'s one glob does not
    * look, so the census readers and writers check it themselves. */
  def refuseCensusDelta(fs: FileSystem, census: Path): Unit = {
    val delta = new Path(census, "pending_delta")
    if (fs.exists(delta)) refuseLegacy(fs, delta)
  }

  /** Fail on a legacy marker. The graph batch directory is only a marker
    * once its `_committed` child exists; before that it is hidden debris
    * of a batch that never committed. */
  private def refuseLegacy(fs: FileSystem, p: Path): Unit = {
    val marker = if (p.getName == ".tmp_gbucket_batch") new Path(p, "_committed") else p
    if (marker == p || fs.exists(marker))
      throw new IOException(s"$marker: an earlier version of this layout " +
        "committed a mutation and crashed before finishing it; open the " +
        "layout once with that version to roll it forward, or restore a snapshot")
  }

  private val Staging = ".commit"
  private val Marker = ".committed"

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

    /** Where the replacement of the live `root/rel` stages. */
    def staged(rel: String): Path = under(new Path(root, Staging), rel)

    /** Stage `root/rel` — a directory or a file — as `write` writes it to
      * the staging path. */
    def stage(rel: String)(write: Path => Unit): Unit = {
      write(staged(rel))
      entries :+= s"swap $rel"
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
    def drop(rel: String): Unit = drops :+= rel

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
    * to discard. Writers only (the next batch, a vacuum, a snapshot
    * quiesce): readers leave an uncommitted batch alone. */
  def discardBatch(fs: FileSystem, root: Path): Boolean =
    !rollForward(fs, root) && fs.delete(new Path(root, Staging), true)

  /** Roll a [[Batch]] committed under `root` forward, from one probe of
    * its marker; true when there was one. */
  def rollForward(fs: FileSystem, root: Path): Boolean =
    fs.exists(new Path(root, Marker)) && { publish(fs, root); true }

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
      fs.listStatus(src).filterNot(s => s.getPath.getName.startsWith(".") ||
          s.getPath.getName.startsWith("_")).foreach { s =>
        val to = new Path(dst, s.getPath.getName)
        if (s.isDirectory) moveFiles(fs, s.getPath, to)
        else if (!fs.rename(s.getPath, to))
          throw new IOException(s"cannot move ${s.getPath} into $dst")
      }
    }

  /** Consistent on-disk snapshot of the tree at `root`. `quiesce` runs
    * first (the layout's recovery, which rolls committed batches
    * forward), then an uncommitted batch is discarded — under the
    * engine-wide single-writer assumption the tree is then immutable for
    * the copy; the tree copies byte-faithfully into a hidden
    * `.<name>.snapstaging` sibling of `target`, which is renamed into
    * place. `target` either doesn't exist or is a complete snapshot: a
    * crash mid-copy leaves only hidden debris that the next attempt
    * discards, so the exists-refusal never blocks a clean retry. Restore
    * is free by construction — a snapshot IS a complete layout root:
    * open it, or copy it back over a damaged layout. */
  def snapshot(fs: FileSystem, root: Path, target: String,
      conf: Configuration)(quiesce: => Unit): Unit = {
    quiesce
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
