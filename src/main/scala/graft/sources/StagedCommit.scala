package graft.sources

import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path

/**
 * The one commit protocol of every graft write that places files —
 * batch write, copy-on-write replace, merge-on-read delta, equality
 * repair, compaction / bin-pack / recluster, DV-sidecar merge, and the
 * streaming epoch (which brings its own promotion):
 *
 *  1. every file the commit creates, sidecars included, is written under
 *     [[dir]], `path/_staging-<tag>/`, which no table listing sees;
 *  2. [[base]] ([[CommitLog.begin]]) is taken before anything reaches
 *     the table dir, so importing a plain directory never counts this
 *     commit's files as old state;
 *  3. [[publish]] verifies the staged files, renames them into the table
 *     dir (invisible until a manifest names them), fires
 *     [[CommitRaceProbe.beforePublish]] and publishes ONE version through
 *     [[CommitLog.commitUpdate]] — the caller's update holds its
 *     conflict checks;
 *  4. the staging dir is deleted.
 *
 * A commit that fails leaves nothing behind: if any step throws or the
 * update returns None, every promoted name the LATEST manifest does not
 * reference is deleted (so a publish that succeeded before a later step
 * threw is never undone), then the staging dir. A failed staging job is
 * cleaned by [[stage]] or the DSv2 `abort` ([[abort]]). Only a driver
 * that dies mid-commit leaves debris, which
 * [[GraftMaintenance.removeOrphanFiles]] reclaims.
 */
private[sources] final class StagedCommit(val path: String, tag: String) {
  private def conf = Dsv2Parquet.readConf
  private def fs = new Path(path).getFileSystem(conf)
  private val promoted = scala.collection.mutable.ArrayBuffer.empty[String]

  /** Where this commit's files are written before they are promoted. */
  val dir: String = s"$path/_staging-$tag"

  /** The snapshot the commit builds on, taken on first use. [[publish]]
   * takes it before it promotes anything; a caller that plans against
   * it (a pinned scan, a fixed delete-target set) takes it first. */
  lazy val base: CommitLog.Snapshot = begun._1

  /** [[base]]'s files, deletion vectors and schema, from the listing
   * base was read from — what a commit planning against base reads. */
  lazy val view: PlanningView = begun._2

  private lazy val begun = CommitLog.beginView(path, conf)

  /** Run the staging job; if it fails, drop the staging dir and rethrow. */
  def stage[A](job: => A): A =
    try job catch { case e: Throwable => abort(); throw e }

  /** Delete the staging dir (a failed job, or the DSv2 `abort`). */
  def abort(): Unit = fs.delete(new Path(dir), true): Unit

  /** Promote `staged` into the table dir by name and publish one version.
   * Returns the published snapshot, or None when `update` aborted. */
  def publish(operation: String, staged: Seq[Path])(
      update: CommitLog.Snapshot => Option[CommitLog.Snapshot])
      : Option[CommitLog.Snapshot] =
    publishWith(operation, staged, renameIn)(update)

  /** [[publish]] with the caller's own promotion, which returns the
   * names it placed in the table dir — the streaming epoch's ledger
   * reconcile, whose destination names are fixed by its marker. If it
   * fails midway, what it already placed stays: a replay of the epoch
   * finds those names present and reuses them. */
  def publishWith(operation: String, staged: Seq[Path],
      promote: Seq[Path] => Seq[String])(
      update: CommitLog.Snapshot => Option[CommitLog.Snapshot])
      : Option[CommitLog.Snapshot] = {
    val f = fs
    val out =
      try {
        staged.foreach(s => require(f.isFile(s),
          s"graft commit ($operation): staged file missing: $s"))
        val b = base
        promoted ++= promote(staged)
        CommitRaceProbe.beforePublish(path, operation)
        CommitLog.commitUpdate(path, conf, operation, Some(b))(update)
      } catch { case e: Throwable =>
        try discard() catch { case NonFatal(s) => e.addSuppressed(s) }
        throw e
      }
    if (out.isEmpty) discard() else abort()
    out
  }

  /** Rename each staged file to the same name in the table dir. Each
   * name is recorded as it lands, so a failure midway discards exactly
   * the ones already moved; nothing is left to return. */
  private def renameIn(staged: Seq[Path]): Seq[String] = {
    val f = fs
    staged.foreach { s =>
      val dst = new Path(path, s.getName)
      require(f.rename(s, dst), s"graft commit: rename $s -> $dst failed")
      promoted += dst.getName
    }
    Nil
  }

  /** Undo a failed commit: delete every promoted name the latest
   * manifest does not reference, then the staging dir. */
  private def discard(): Unit = {
    val live = CommitLog.latest(path, conf)
      .fold(Set.empty[String])(s => s.dataFiles ++ s.dvFiles ++ s.eqFiles)
    val f = fs
    promoted.filterNot(live).foreach(n => f.delete(new Path(path, n), false))
    promoted.clear()
    abort()
  }
}

private[sources] object StagedCommit {
  def apply(path: String, tag: String): StagedCommit =
    new StagedCommit(path, tag)

  /** A commit whose staging dir no other commit can share. */
  def fresh(path: String, kind: String): StagedCommit =
    StagedCommit(path, s"$kind-${UUID.randomUUID()}")
}
