package graft.sources

import org.scalatest.Assertions._

/** What a commit that failed may leave in its table directory: nothing.
 * No `_staging-*` dir survives it, and `remove_orphan_files` with no
 * age guard finds no unreferenced table file (nor any staging dir). */
object CommitResidue {
  def assertNone(path: String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val staging = dir.getFileSystem(Dsv2Parquet.readConf).listStatus(dir)
      .map(_.getPath.getName).filter(_.startsWith("_staging-")).toSeq
    assert(staging.isEmpty, s"staging residue in $path: $staging")
    val orphans = GraftMaintenance.removeOrphanFiles(path, 0L)
    assert(orphans == 0, s"$orphans orphaned file(s) in $path")
  }
}
