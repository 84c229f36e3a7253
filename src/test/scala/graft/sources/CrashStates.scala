package graft.sources

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}

/** Layout states a crash of this version can leave, for suites that
  * check a warm handle recovers from them. */
object CrashStates {

  /** A crash between the two renames of a batch publish's swap of
    * `root/rel`: the batch is committed with that one swap, whose staged
    * entry is a copy of the live one, and the live entry is renamed to
    * its hidden backup `.<name>.bak`. Rolling it forward leaves the same
    * rows live and no backup. */
  def midSwap(fs: FileSystem, root: Path, rel: String): Unit = {
    val live = new Path(root, rel)
    val batch = LayoutFs.batch(fs, root)
    batch.stage(rel)(staged =>
      assert(FileUtil.copy(fs, live, fs, staged, false, fs.getConf), s"test setup: stage $live"))
    assert(batch.markCommitted())
    assert(fs.rename(live, new Path(live.getParent, s".${live.getName}.bak")),
      s"test setup: back up $live")
  }
}
