package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/**
 * Table maintenance for [[GraftParquetProvider]] tables — the
 * operations a merge-on-read deployment schedules between repairs
 * (Iceberg's rewrite_data_files / rewrite_position_delete_files in
 * one): deletion vectors trade write cost for a per-scan membership
 * test, and COMPACTION folds them back into clean files when the
 * accumulated read tax outgrows the one-time rewrite.
 *
 * Distributed shape: the rewrite is a Spark job over ONLY the
 * DV-carrying files (the provider scan applies the vectors, so the
 * staged output is exactly the live rows), then ONE manifest publish
 * swapping the file sets, the same commit as the row-level replace.
 * Cost is proportional to the DV-carrying fraction of the table, never
 * the table.
 *
 * Every rewrite and sidecar merge commits through [[StagedCommit]]: its
 * output is staged, promoted and published in one step, and a commit
 * that fails — a failed job or a lost conflict — leaves no file behind.
 * The manifest swap is the commit point, NOTHING the prior version
 * references is physically deleted (that is [[expireSnapshots]]' job),
 * and compaction-vs-delta is a detected version conflict: whichever
 * publishes second sees the other's change, and the non-commuting
 * loser aborts loudly — deletes are never lost. A plain parquet
 * directory is imported as version 1 first ([[CommitLog.begin]]).
 */
object GraftMaintenance {

  /** MINOR compaction: merge each data file's many per-commit DV
   * sidecars into one (union, publish fresh, retire exactly the merged
   * ones) WITHOUT touching data files — bounds the per-scan sidecar
   * read fan-out between major compactions. Concurrent delta commits
   * stay safe: their new sidecars are never in the merged set, and the
   * reader's union is idempotent. The swap is a manifest update
   * (merged inputs retire logically, staying on disk for time travel);
   * a data file retired mid-merge simply drops its merge — the retiring
   * commit already owned its rows' delete state. Returns data files
   * whose sidecars were merged. */
  def compactDvSidecars(path: String): Int = {
    val conf = Dsv2Parquet.readConf
    val commit = StagedCommit.fresh(path, "compact-minor")
    commit.base: Unit
    val multi = Dsv2Parquet.dvListing(path, conf).filter(_._2.length > 1)
    if (multi.isEmpty) return 0
    val staging = new Path(commit.dir)
    val replacements = commit.stage(multi.toSeq.map { case (name, sidecars) =>
      (name, sidecars.map(new Path(_).getName).toSet,
        Dsv2Parquet.writeDvSidecar(staging, name,
          Dsv2Parquet.readDvUnion(sidecars, conf), conf))
    })
    commit.publish("compact-minor",
        replacements.map(r => new Path(staging, r._3))) { cur =>
      var dv = cur.dvFiles
      replacements.foreach { case (dataName, merged, union) =>
        // swap only while every merged input is still current AND the
        // data file lives — a concurrent rewrite/compaction that
        // retired either already owns those rows' delete state
        if (cur.dataFiles.contains(dataName) && merged.subsetOf(dv))
          dv = dv -- merged + union
      }
      Some(cur.copy(dvFiles = dv))
    }
    multi.size
  }

  /** Fold every deletion vector AND equality-delete sidecar under
   * `path` into rewritten files. Returns the number of data files
   * compacted (0 = nothing to do). */
  def compactDeletionVectors(spark: SparkSession, path: String): Int = {
    val conf = Dsv2Parquet.readConf
    val dir = new Path(path)
    // pin the WHOLE compaction (listing + scan + conflict check) to one
    // base version; an empty directory has nothing to compact
    val commit = StagedCommit.fresh(path, "compact")
    val base = commit.base
    if (base.version == 0L) return 0
    val dvNames = Dsv2Parquet.dvListing(path, conf, Some(base.version)).keySet
    // equality-delete targets still live in the base version rewrite
    // too — folding them is what retires the sidecars (and returns
    // scans to the vectorized zero-probe path)
    val eqTargets: Set[String] = base.eqFiles.flatMap(n =>
      Dsv2Equality.read(dir, n, conf).targets)
    val files = Dsv2Parquet.dataFiles(path, conf, Some(base.version))
      .map(_.getPath).filter(f =>
        dvNames.contains(f.getName) || eqTargets.contains(f.getName))
    if (files.isEmpty) return 0
    rewriteFiles(spark, commit, files, outPartitions = None)
  }

  /** BIN-PACK compaction (Iceberg's rewrite_data_files binpack): fold
   * every data file smaller than `targetBytes` into ~target-sized
   * rewritten files — the small-file accumulation a streaming sink or
   * many small repair commits leave behind is a per-scan task-overhead
   * tax (and at 100 TB, a NameNode/listing tax) that grows without
   * bound unless folded. Any DVs or equality deletes on the packed
   * files fold in with them. Same commit discipline as
   * [[compactDeletionVectors]]: one manifest swap, nothing physically
   * deleted. Returns the number of input files packed (0 = nothing
   * worth packing). */
  def compactSmallFiles(spark: SparkSession, path: String,
      targetBytes: Long): Int = {
    require(targetBytes > 0, s"graft-compact: target_bytes must be " +
      s"positive, got $targetBytes")
    val conf = Dsv2Parquet.readConf
    val commit = StagedCommit.fresh(path, "compact")
    val base = commit.base
    if (base.version == 0L) return 0
    val smalls = Dsv2Parquet.dataFiles(path, conf, Some(base.version))
      .filter(_.getLen < targetBytes)
    if (smalls.length < 2) return 0 // a lone small file gains nothing
    val n = math.max(1, math.ceil(
      smalls.map(_.getLen).sum.toDouble / targetBytes).toInt)
    rewriteFiles(spark, commit, smalls.map(_.getPath), outPartitions = Some(n))
  }

  /** RE-CLUSTER maintenance: rewrite the WHOLE table through the
   * sink-demanded hash exchange (`graft.clusterBy` + strict partition
   * count + optional within-bucket sort) and publish it with the
   * layout and per-file bucket ids its staged write recorded. This is
   * the restore half of the SPJ story: row-level repairs and
   * compactions add files without a bucket id, which turns the scan's
   * layout claim off, after which the periodic reconcile pays its
   * exchange again — a scheduled re-cluster brings back the
   * zero-exchange zero-sort storage-partitioned join. DVs and equality
   * deletes fold in (the rewrite carries live rows only).
   *
   * Replace-ALL is non-commuting with everything: the publish verifies
   * the base version is still current and aborts on ANY concurrent
   * commit. Returns the number of files replaced. */
  def reclusterTable(spark: SparkSession, path: String,
      clusterBy: Seq[String], buckets: Int,
      sortWithin: Seq[String] = Seq.empty): Int = {
    require(clusterBy.nonEmpty && buckets > 0,
      s"graft-recluster: need cluster columns and a positive bucket " +
        s"count, got ${clusterBy.mkString(",")} / $buckets")
    val conf = Dsv2Parquet.readConf
    val commit = StagedCommit.fresh(path, "recluster")
    val base = commit.base
    if (base.version == 0L) return 0
    val files = Dsv2Parquet.dataFiles(path, conf, Some(base.version))
    if (files.isEmpty) return 0
    val fmt = classOf[GraftParquetProvider].getName
    val schema = Dsv2Parquet.tableSchema(path, Some(base.version))
    val w = spark.read.format(fmt)
      .option(Dsv2Parquet.VersionAsOfOption, base.version.toString)
      .load(path)
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
      .write.format(fmt)
      .option(Dsv2Parquet.SchemaOption, schema.toDDL)
      .option(Dsv2Parquet.ClusterByOption, clusterBy.mkString(","))
      .option(Dsv2Parquet.NumPartitionsOption, buckets.toString)
    // the staged write is itself a clustered graft write: its snapshot
    // records the layout and every file's bucket id
    val written = commit.stage {
      (if (sortWithin.nonEmpty)
        w.option(Dsv2Parquet.SortWithinOption, sortWithin.mkString(","))
      else w).mode("append").save(commit.dir)
      CommitLog.latest(commit.dir, conf).get
    }
    commit.publish("recluster",
        written.dataFiles.toSeq.map(new Path(commit.dir, _))) { cur =>
      if (cur.version != base.version) throw new IllegalStateException(
        "graft-recluster: concurrent writer conflict — the table " +
          s"moved from version ${base.version} to ${cur.version} " +
          "during the rewrite; aborting (re-run against the current " +
          "table)")
      Some(CommitLog.Snapshot(cur.version, written.dataFiles, Set.empty,
        layout = written.layout, buckets = written.buckets))
    }
    files.length
  }

  /** The shared rewrite: scan the LIVE rows of exactly `files` (the
   * provider scan applies their deletion vectors and equality deletes;
   * untouched files never enter the job), stage, swap.
   *
   * The swap: rename the rewritten files in (invisible until
   * a manifest references them) and publish ONE manifest version
   * swapping the file sets. Nothing the prior version references is
   * physically deleted — [[expireSnapshots]] reclaims history. The
   * conflict stance makes compaction-vs-row-level a real version
   * conflict: a scanned file retired by a concurrent rewrite, or a NEW
   * deletion vector / equality delete landed on a scanned file by a
   * concurrent commit (deletes this rewrite did not fold — publishing
   * would lose them), aborts loudly and the table stays on the other
   * writer's version. Base equality sidecars whose live targets were
   * ALL rewritten are fully applied and retire; partially-covered ones
   * stay (their keys were folded out of the rewritten files, which are
   * new and therefore exempt — remaining targets still need the probe).
   * The replaced files stay on disk until expire_snapshots. */
  private def rewriteFiles(spark: SparkSession, commit: StagedCommit,
      files: Array[Path], outPartitions: Option[Int]): Int = {
    val conf = Dsv2Parquet.readConf
    val path = commit.path
    val dir = new Path(path)
    val base = commit.base
    val fmt = classOf[GraftParquetProvider].getName
    val schema = Dsv2Parquet.tableSchema(path, Some(base.version))
    val targets = files.map(_.toString).toSet
    val live0 = spark.read.format(fmt)
      .option(Dsv2Parquet.VersionAsOfOption, base.version.toString)
      .load(path)
      .withColumn("__f", col(Dsv2Parquet.FileMetaColumn))
      .filter(col("__f").isInCollection(targets))
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    val live = outPartitions.fold(live0)(live0.repartition)
    val staged = commit.stage {
      live.write.format(fmt)
        .option(Dsv2Parquet.SchemaOption, schema.toDDL)
        .mode("append").save(commit.dir)
      Dsv2Parquet.dataFiles(commit.dir, conf).map(_.getPath).toSeq
    }

    val scannedSet = files.map(_.getName).toSet
    val baseDvs = base.dvFiles.filter(v =>
      Dsv2Parquet.dvTarget(v).exists(scannedSet.contains))
    val newNames = staged.map(_.getName).toSet
    commit.publish(if (outPartitions.isEmpty) "compact" else "binpack",
        staged) { cur =>
      val gone = scannedSet.filterNot(cur.dataFiles.contains)
      if (gone.nonEmpty) throw new IllegalStateException(
        "graft-compact: concurrent writer conflict — compacted " +
          s"file(s) no longer in version ${cur.version}: " +
          s"${gone.mkString(", ")}; aborting this compaction")
      val newDvs = cur.dvFiles.filter(v =>
        Dsv2Parquet.dvTarget(v).exists(scannedSet.contains)) -- baseDvs
      if (newDvs.nonEmpty) throw new IllegalStateException(
        "graft-compact: concurrent delta commit landed deletion " +
          s"vector(s) on file(s) being compacted: " +
          s"${newDvs.mkString(", ")}; aborting this compaction — " +
          "publishing would lose those deletes")
      val newEq = (cur.eqFiles -- base.eqFiles).filter(n =>
        Dsv2Equality.read(dir, n, conf).targets
          .exists(scannedSet.contains))
      if (newEq.nonEmpty) throw new IllegalStateException(
        "graft-compact: concurrent equality-delete commit targets " +
          s"file(s) being compacted: ${newEq.mkString(", ")}; " +
          "aborting this compaction — publishing would lose those " +
          "deletes")
      // an eq sidecar retires only when every target still live in
      // the base was rewritten — else its remaining targets keep it
      val applied = base.eqFiles.filter(n =>
        Dsv2Equality.read(dir, n, conf).targets
          .intersect(base.dataFiles).subsetOf(scannedSet))
      Some(cur.copy(
        dataFiles = cur.dataFiles -- scannedSet ++ newNames,
        dvFiles = cur.dvFiles -- baseDvs,
        eqFiles = cur.eqFiles -- applied))
    }
    files.length
  }

  /** `expire_snapshots`: drop manifests older than the newest
   * `retainLast` versions and physically delete every file (data + DV
   * sidecar + equality-delete) ONLY the dropped versions reference —
   * the reclamation half of the log's "commits never physically
   * delete" contract. Never touches the latest version or any file a
   * retained version still references. Returns the number of files
   * (manifests + data + sidecars) deleted. */
  def expireSnapshots(path: String, retainLast: Int): Int = {
    require(retainLast >= 1,
      s"graft-expire: retain_last must be >= 1, got $retainLast")
    val conf = Dsv2Parquet.readConf
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    val versions = CommitLog.versions(dir, conf)
    require(versions.nonEmpty,
      s"graft-expire: $path has no commit log — nothing to expire")
    val (expired, retained) =
      versions.splitAt(math.max(0, versions.length - retainLast))
    if (expired.isEmpty) return 0
    val keep: Set[String] = retained.toSet.flatMap { (v: Long) =>
      val s = CommitLog.read(dir, v, conf)
      s.dataFiles ++ s.dvFiles ++ s.eqFiles
    }
    val drop: Set[String] = expired.toSet.flatMap { (v: Long) =>
      val s = CommitLog.read(dir, v, conf)
      (s.dataFiles ++ s.dvFiles ++ s.eqFiles) -- keep
    }
    var n = 0
    drop.foreach { name =>
      if (fs.delete(new Path(dir, name), false)) n += 1
    }
    expired.foreach { v =>
      if (fs.delete(new Path(dir, CommitLog.manifestName(v)), false)) n += 1
      // the manifest cache must forget what the filesystem forgot —
      // same-JVM reads of an expired version must fail, not resurrect
      CommitLog.invalidate(dir, v)
    }
    n
  }

  /** `rollback_to_version`: publish a NEW version whose file sets and
   * clustered layout are exactly those of `version` — a metadata-only
   * undo (zero data movement, the same face as Iceberg's
   * `rollback_to_snapshot`) that PRESERVES history: the rolled-over
   * versions stay readable via `VERSION AS OF` until
   * `expire_snapshots` reclaims them, and the rollback itself appears
   * in `snapshots` as one more commit. Fails
   * if the target version has expired or any file it references has
   * been physically reclaimed. Rollback is last-write-wins BY DESIGN:
   * the published state ignores the current snapshot entirely, so a
   * commit that lands concurrently is rolled over too (that is what
   * "set the table to version N" means). Returns the new version. */
  def rollbackTo(path: String, version: Long): Long = {
    val conf = Dsv2Parquet.readConf
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    require(CommitLog.enabled(path, conf),
      s"graft-rollback: $path has no commit log (graft has never " +
        "written it)")
    val target = CommitLog.read(dir, version, conf)
    (target.dataFiles ++ target.dvFiles ++ target.eqFiles).foreach { f =>
      require(fs.exists(new Path(dir, f)),
        s"graft-rollback: version $version references $f, which " +
          "expire_snapshots has physically reclaimed — unrecoverable")
    }
    // Rollback restores DATA, not schema — deliberately (and pinned by
    // the schema-evolution fuzz's model: "contents revert, schema
    // stays current"). The new manifest is stamped with the CURRENT
    // declared DDL, so after a post-target ALTER ADD COLUMN the
    // rollback version serves the added column null-filled over the
    // restored files, while `VERSION AS OF target` serves the as-of
    // schema. The two reads differ BY DESIGN: rolling the declaration
    // back under live readers/writers would turn a data-repair tool
    // into a schema change, and ALTER is the explicit surface for
    // that. (r20 advice noted the asymmetry; this documents it.)
    val operation = s"rollback to $version"
    CommitRaceProbe.beforePublish(path, operation)
    CommitLog.commitUpdate(path, conf, operation)(_ => Some(target)).get.version
  }

  /** `remove_orphan_files`: delete files in the table directory that
   * match a table-file shape (data `*.parquet`, DV `_dv-*.bin`,
   * equality `_eq-*.bin`) but are referenced by NO published commit-log
   * version, plus abandoned `_staging-*` dirs and manifest temps. A
   * commit that fails cleans up after itself ([[StagedCommit]]), so
   * these leftovers come only from a driver that died mid-commit, or
   * from files copied in from outside. Manifests and epoch markers are
   * never candidates. The `olderThanMs` age guard is what keeps a LIVE
   * writer's files safe (its staging dir, and the files it promotes
   * just BEFORE publishing the manifest) — pass 0 only when no writer
   * can be in flight. Requires the commit log: in a directory graft
   * never wrote the listing IS the state and nothing is orphaned.
   * Returns the deleted file count. */
  def removeOrphanFiles(path: String, olderThanMs: Long): Int = {
    require(olderThanMs >= 0,
      s"graft-orphans: older_than_ms must be >= 0, got $olderThanMs")
    val conf = Dsv2Parquet.readConf
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    val versions = CommitLog.versions(dir, conf)
    require(versions.nonEmpty,
      s"graft-orphans: $path has no commit log — the directory " +
        "listing IS the table state, nothing can be orphaned")
    val referenced: Set[String] = versions.toSet.flatMap { (v: Long) =>
      val s = CommitLog.read(dir, v, conf)
      s.dataFiles ++ s.dvFiles ++ s.eqFiles
    }
    val cutoff = System.currentTimeMillis() - olderThanMs
    var n = 0
    fs.listStatus(dir).foreach { st =>
      val name = st.getPath.getName
      val tableShaped = st.isFile && (
        (name.endsWith(".parquet") && !name.startsWith("_") &&
          !name.startsWith(".")) ||
        (name.startsWith(Dsv2Parquet.DvPrefix) && name.endsWith(".bin")) ||
        (name.startsWith(Dsv2Equality.EqPrefix) && name.endsWith(".bin")))
      // crashed writers' debris: an abandoned staging dir (the committer
      // deletes its own on both commit and abort) or a manifest temp
      // whose publisher died between write and link
      val debris =
        (st.isDirectory && name.startsWith("_staging-")) ||
        (st.isFile && name.startsWith("._manifest-tmp-"))
      if ((tableShaped && !referenced.contains(name) || debris) &&
          st.getModificationTime <= cutoff &&
          fs.delete(st.getPath, st.isDirectory)) n += 1
    }
    n
  }
}

/** Test seam for the commit-race and commit-failure specs: called on
 * the driver with (table path, operation name) immediately before a
 * manifest publish — by [[StagedCommit]] for every staged commit and by
 * `rollbackTo`. A spec lands a concurrent commit inside the race window
 * (the window is real — the hook only widens it to a test's timescale)
 * or throws to fail the publish. A no-op in production. */
object CommitRaceProbe {
  @volatile var beforePublish: (String, String) => Unit = (_, _) => ()
  def reset(): Unit = beforePublish = (_, _) => ()
}
