package graft.sources

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/**
 * GROUP-BASED ROW-LEVEL OPERATIONS (copy-on-write) for
 * [[GraftParquetProvider]] — the surface that turns the repair
 * mutation plan into plain catalog SQL (r16 verdict #4): `MERGE INTO`
 * (the reference's upsert semantics, DBOperations.java:240-387, with
 * `WHEN NOT MATCHED BY SOURCE THEN DELETE` covering the orphan
 * deletes, DBOperations.java:58-194), plus `UPDATE` and the
 * `DELETE WHERE` fallback for predicates the metadata path refuses.
 * Catalyst's RewriteMergeIntoTable / RewriteUpdateTable /
 * RewriteDeleteFromTable rules drive exactly this API: read the
 * affected GROUPS through [[RowLevelOperation.newScanBuilder]],
 * compute the replacement rows (merge actions applied, untouched rows
 * carried over), write them through
 * [[RowLevelOperation.newWriteBuilder]], and commit by REPLACING the
 * scanned groups with the written files.
 *
 * Correctness posture — the scan is deliberately DUMB below group
 * granularity:
 *  - no record-level filter pushdown, no pushed limit, no aggregate
 *    shortcut. A group rewrite must write back EVERY row of every
 *    scanned group; any scan-side row drop would silently delete data.
 *    (Iceberg's copy-on-write scan takes the same stance: prune at
 *    group granularity or not at all.)
 *  - the groups this engine replaces are whole FILES; the scan records
 *    the exact file set it planned, and the commit replaces exactly
 *    that set — a concurrent append between scan and commit survives,
 *    while a scanned file retired from the manifest is detected at
 *    commit as a concurrent-writer conflict and the operation aborts.
 *
 * Scale shape: the scan implements RUNTIME GROUP FILTERING
 * ([[GraftReplaceScan]] is a `SupportsRuntimeV2Filtering` on the
 * `_file` metadata column — see its scaladoc), so "scanned" shrinks to
 * the files that provably contain matching rows and a MERGE touching
 * 1% of files rewrites 1% of the table (measured damage-proportional:
 * BASELINE.md regime `merge`, 1/8/32 touched files → proportional
 * wall; Dsv2RowLevelSpec pins the replaced-file counts). The
 * commit is one manifest publish, the same as the batch overwrite: a
 * crash before it leaves the previous version intact.
 */
private[sources] case class GraftRowLevelOperation(path: String,
    tableSchema: StructType,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {

  /** Files the operation's scan planned — set driver-side during scan
   * planning, read by the write's commit. One operation instance spans
   * both, per the DSv2 contract. */
  private[sources] val scannedFiles =
    new java.util.concurrent.atomic.AtomicReference[Array[String]](null)

  /** DV sidecar names the scan's readers APPLIED (captured with the
   * reader factory's listing) — at commit, a sidecar on a scanned file
   * that is NOT in this set is a concurrent delta commit whose deletes
   * this rewrite's output does not carry: publishing would lose them. */
  private[sources] val scannedDvs =
    new java.util.concurrent.atomic.AtomicReference[Set[String]](null)

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String = s"graft-replace-groups:$cmd"

  /** `_file` — the group identity. Declaring it does two jobs: the
   * rewritten plan can regroup rows by origin file, and (load-bearing)
   * it makes Catalyst build a METADATA PROJECTION for the write, which
   * selects the projecting `DataAndMetadataWritingSparkTask` — the
   * task that strips the `__row_operation` discriminator and metadata
   * columns off each row before `DataWriter.write`. Without any
   * metadata attribute Spark hands the writer the raw MergeRows
   * output, whose layout is not the table schema. */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(Dsv2Parquet.FileMetaColumn))

  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap): ScanBuilder =
    GraftReplaceScanBuilder(path, tableSchema, this)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          GraftReplaceDataWrite(path, info.schema(), info.queryId(),
            GraftRowLevelOperation.this)
      }
    }
}

/** Column pruning only — every other pushdown is refused by omission
 * (see the correctness posture above). */
private[sources] case class GraftReplaceScanBuilder(path: String,
    tableSchema: StructType, op: GraftRowLevelOperation)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = tableSchema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = {
    Dsv2Columnar.requireReadable(required)
    GraftReplaceScan(path, required, op)
  }
}

/** Whole-group scan: every row group of every surviving data file,
 * recorded into the operation so the commit knows exactly which files
 * to replace.
 *
 * RUNTIME GROUP FILTERING (the 100 TB path for copy-on-write): Spark's
 * RowLevelOperationRuntimeGroupFiltering rule runs the command's
 * condition as a dynamic subquery that collects the `_file` values of
 * every MATCHING row, and hands the scan `IN(_file, …)`. Filtering at
 * FILE granularity is the one pruning a group rewrite can do safely:
 * a kept file still contributes ALL its rows (carried over + changed),
 * and a dropped file provably contains no matching row — so a MERGE
 * touching 1% of files rewrites 1% of the table, not all of it. The
 * rule's subquery is complete by construction; anything unparseable is
 * ignored in the safe direction (keep every file).
 *
 * Engagement note (measured, BASELINE.md regime `merge` + its SMJ variant):
 * Spark plans the group-filter subquery with onlyInBroadcast=false, so
 * it engages for ANY source size — reusing the command join's
 * broadcast when one exists, and executing the matching-rows subquery
 * STANDALONE when the source is SMJ-sized (measured r18: 16-file
 * table, autoBroadcastJoinThreshold=-1, SortMergeJoin command join,
 * still exactly 1 file replaced). Damage-proportionality does not
 * depend on the source fitting in a broadcast. */
private[sources] case class GraftReplaceScan(path: String,
    required: StructType, op: GraftRowLevelOperation) extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftReplaceScan ReadSchema: ${required.catalogString}"

  @transient private var keepFiles: Option[Set[String]] = None

  /** The one listing and snapshot this operation reads: the file set
   * and the deletion vectors both come from it, so they are of one
   * version however the partition planning and the reader factory
   * interleave with other commits. */
  @transient private lazy val view = PlanningView(path, None)

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(Dsv2Parquet.FileMetaColumn))

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit = {
    import org.apache.spark.sql.connector.expressions.{Literal, NamedReference}
    predicates.foreach { p =>
      if (p.name() == "IN" && p.children().nonEmpty) {
        (p.children()(0) match {
          case nr: NamedReference if nr.fieldNames().sameElements(
            Array(Dsv2Parquet.FileMetaColumn)) =>
            val vals = p.children().drop(1).flatMap {
              case l: Literal[_] => Option(l.value()).map(_.toString)
              case _ => None
            }
            // all children after the reference must be literals, else
            // the set is not the complete match list — ignore (safe)
            if (vals.length == p.children().length - 1)
              Some(vals.toSet) else None
          case _ => None
        }).foreach { files =>
          keepFiles = Some(keepFiles.fold(files)(_.intersect(files)))
        }
      }
    }
    Dsv2RuntimeProbe.forPath(s"$path#replace").filterCalls
      .incrementAndGet(): Unit
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val all = view.dataFiles
    val files = all.filter(f => keepFiles.forall(_.contains(f.getPath.toString)))
    op.scannedFiles.set(files.map(_.getPath.getName))
    Dsv2RuntimeProbe.forPath(s"$path#replace").lastPlanned.set(all.length)
    Dsv2RuntimeProbe.forPath(s"$path#replace").lastKept.set(files.length)
    files.zip(Dsv2Parquet.fileFooters(files, Dsv2Parquet.readConf)).flatMap {
      case (f, (_, blocks, _)) =>
        blocks.map(b => GraftParquetPartition(f.getPath.toString,
          b.getStartingPos, b.getStartingPos + b.getCompressedSize)
          : InputPartition)
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // deletion vectors (if a mode-mixed table carries them) apply —
    // the rewrite must carry over LIVE rows only
    val dvMap = view.dvMap
    op.scannedDvs.set(dvMap.values.flatten
      .map(s => new Path(s).getName).toSet)
    GraftParquetReaderFactory(required, Array.empty[Filter], dvMap = dvMap)
  }
}

/** The replace-commit: a [[StagedCommit]] of the replacement files
 * whose ONE manifest version swaps the SCANNED files (and only them)
 * for the replacements. The replaced files stay on disk for time travel
 * until expire_snapshots. */
private[sources] case class GraftReplaceDataWrite(path: String,
    schema: StructType, queryId: String, op: GraftRowLevelOperation)
    extends BatchWrite {

  private val staging = StagedCommit(path, queryId)

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    GraftParquetWriterFactory(staging.dir, schema)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val conf = Dsv2Parquet.readConf
    val target = new Path(path)
    val staged = messages.collect {
      case GraftParquetCommitMessage(Some(f), _, _) => new Path(f)
    }
    val scanned = Option(op.scannedFiles.get()).getOrElse(
      throw new IllegalStateException(
        "graft-replace commit: the operation's scan never planned — " +
          "nothing to replace"))
    // the conflict check is version-based — a scanned file must still
    // be in the CURRENT manifest, else a concurrent rewrite replaced it
    // (this op's output carries stale copies of its rows) and the
    // operation aborts; losing the CAS re-validates against the new
    // version before retrying. Same race-guard philosophy as the
    // reference's read-before-delete (DBOperations.java:61-70), and
    // Iceberg's validate-then-retry stance on copy-on-write commits.
    val stagedNames = staged.map(_.getName).toSet
    val scannedSet = scanned.toSet
    staging.publish("replace", staged.toSeq) { cur =>
      val gone = scannedSet.filterNot(cur.dataFiles.contains)
      if (gone.nonEmpty) throw new IllegalStateException(
        "graft-replace commit: concurrent writer conflict — scanned " +
          s"file(s) no longer in version ${cur.version}: " +
          s"${gone.mkString(", ")}; aborting this operation (re-run " +
          "it against the current table)")
      // the op REQUIRED live-eq-empty at build time, so any sidecar
      // now targeting a scanned file is a concurrent equality-delete
      // commit this rewrite's output does not carry — publishing
      // would silently lose those deletes (the same guard compaction
      // applies; the eq commit's own target check covers the
      // opposite ordering)
      val newEq = cur.eqFiles.filter(n =>
        Dsv2Equality.read(target, n, conf).targets
          .exists(scannedSet.contains))
      if (newEq.nonEmpty) throw new IllegalStateException(
        "graft-replace commit: concurrent equality-delete commit " +
          s"targets scanned file(s): ${newEq.mkString(", ")}; " +
          "aborting this operation — publishing would lose those " +
          "deletes")
      // likewise a DV sidecar the scan did NOT apply: a concurrent
      // delta commit's deletes on rows this rewrite carried forward
      val appliedDvs = Option(op.scannedDvs.get()).getOrElse(Set.empty)
      val newDvs = cur.dvFiles.filter(v =>
        Dsv2Parquet.dvTarget(v).exists(scannedSet.contains)) -- appliedDvs
      if (newDvs.nonEmpty) throw new IllegalStateException(
        "graft-replace commit: concurrent delta commit landed " +
          s"deletion vector(s) on scanned file(s): " +
          s"${newDvs.mkString(", ")}; aborting this operation — " +
          "publishing would lose those deletes")
      Some(cur.copy(
        dataFiles = cur.dataFiles -- scannedSet ++ stagedNames,
        // a replaced file's deletion vectors die with it: the
        // rewrite carried over only live rows
        dvFiles = cur.dvFiles.filterNot(v =>
          Dsv2Parquet.dvTarget(v).exists(scannedSet.contains))))
    }
    Dsv2WriteProbe.forPath(path).lastCommittedFiles.set(staged.length)
    Dsv2WriteProbe.forPath(path).lastTruncated.set(scanned.length)
    Dsv2WriteProbe.forPath(path).lastCommittedRows.set(messages.collect {
      case GraftParquetCommitMessage(_, n, _) => n
    }.sum)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    staging.abort()
}

// ---------------------------------------------------------------------
// MERGE-ON-READ row-level operations (r17 verdict #7, stretch):
// copy-on-write rewrites whole FILES for per-mille damage; the delta
// face below writes a position-delete sidecar per touched file (a
// DELETION VECTOR the scan consults) plus ordinary insert files, so
// the periodic-repair write cost is proportional to damaged ROWS.
// Catalyst drives this through SupportsDelta: the rewritten MERGE
// plan tags each output row INSERT/DELETE (updates split, see
// representUpdateAsDeleteAndInsert) and routes them to a DeltaWriter
// with the row's (file, position) identity — served by this scan's
// `_file`/`_pos` metadata columns. The reconcile-then-SQL-repair
// round trip under this mode is oracle-pinned by
// `recon_post_repair_mor` (same oracle SQL as recon_post_repair).
// ---------------------------------------------------------------------

/** The delta (merge-on-read) operation: same scan surface as a plain
 * table read — column pruning, residual filter pushdown, runtime
 * row-group pruning on the command's join keys — plus the
 * `_file`/`_pos` row identity the writer addresses deletes by. */
private[sources] case class GraftDeltaOperation(path: String,
    tableSchema: StructType,
    cmd: RowLevelOperation.Command) extends RowLevelOperation
    with org.apache.spark.sql.connector.write.SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"graft-delta:$cmd"

  override def rowId()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(
      org.apache.spark.sql.connector.expressions.Expressions
        .column(Dsv2Parquet.FileMetaColumn),
      org.apache.spark.sql.connector.expressions.Expressions
        .column(Dsv2Parquet.PosMetaColumn))

  /** Parquet files are immutable: an UPDATE is a position delete plus
   * a re-insert — ask Catalyst to split them. */
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : ScanBuilder =
    new GraftParquetScanBuilder(path, tableSchema)

  override def newWriteBuilder(info: LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriteBuilder =
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.DeltaWrite =
        new org.apache.spark.sql.connector.write.DeltaWrite {
          override def toBatch
              : org.apache.spark.sql.connector.write.DeltaBatchWrite = {
            val idSchema = info.rowIdSchema.get()
            GraftDeltaBatchWrite(path, info.schema(), info.queryId(),
              idSchema.fieldIndex(Dsv2Parquet.FileMetaColumn),
              idSchema.fieldIndex(Dsv2Parquet.PosMetaColumn))
          }
        }
    }
}

/** Per-task commit payload: the task's (optional) insert file plus its
 * per-data-file deleted positions. */
private[sources] case class GraftDeltaCommitMessage(
    insert: GraftParquetCommitMessage,
    deletes: Map[String, Array[Long]]) extends WriterCommitMessage

private[sources] case class GraftDeltaWriterFactory(stagingDir: String,
    dataSchema: StructType, fileIdx: Int, posIdx: Int)
    extends org.apache.spark.sql.connector.write.DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] =
    new GraftDeltaWriter(stagingDir, dataSchema, fileIdx, posIdx,
      partitionId, taskId)
}

/** Executor-side delta writer: inserts go through the ordinary staged
 * parquet writer (lazily opened — a delete-only task stages nothing);
 * deletes accumulate per data file as position lists, bounded by the
 * task's share of the DAMAGE, not the table. */
private[sources] class GraftDeltaWriter(stagingDir: String,
    dataSchema: StructType, fileIdx: Int, posIdx: Int,
    partitionId: Int, taskId: Long)
    extends org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {

  private var inserts: GraftParquetDataWriter = _
  private val deletes = scala.collection.mutable.HashMap
    .empty[String, scala.collection.mutable.ArrayBuffer[Long]]

  override def insert(row: InternalRow): Unit = {
    if (inserts == null)
      inserts = new GraftParquetDataWriter(stagingDir, dataSchema,
        partitionId, taskId)
    inserts.write(row)
  }

  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    val name = new Path(id.getUTF8String(fileIdx).toString).getName
    deletes.getOrElseUpdate(name,
      scala.collection.mutable.ArrayBuffer.empty[Long]) += id.getLong(posIdx)
    ()
  }

  override def update(meta: InternalRow, id: InternalRow,
      row: InternalRow): Unit = {
    // defensive: representUpdateAsDeleteAndInsert makes Catalyst split
    // updates, but the split IS delete+insert, so honor it directly
    delete(meta, id)
    insert(row)
  }

  override def commit(): WriterCommitMessage = {
    val im =
      if (inserts != null)
        inserts.commit().asInstanceOf[GraftParquetCommitMessage]
      else GraftParquetCommitMessage(None, 0L)
    GraftDeltaCommitMessage(im,
      deletes.map { case (k, v) => k -> v.toArray }.toMap)
  }

  override def abort(): Unit = if (inserts != null) inserts.abort()
  override def close(): Unit = if (inserts != null) inserts.close()
}

/** The delta commit: write each touched file's new deleted positions as
 * a fresh deletion-vector sidecar beside the staged inserts, then one
 * [[StagedCommit]] publish of both. Write cost is proportional
 * to damaged rows + inserted rows — never to table size. Conflict
 * stance mirrors the copy-on-write commit: a referenced data file
 * retired from the manifest means a concurrent rewrite replaced it (its
 * row positions no longer name the same rows) — abort. */
private[sources] case class GraftDeltaBatchWrite(path: String,
    dataSchema: StructType, queryId: String, fileIdx: Int, posIdx: Int)
    extends org.apache.spark.sql.connector.write.DeltaBatchWrite {

  private val staging = StagedCommit(path, queryId)

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriterFactory =
    GraftDeltaWriterFactory(staging.dir, dataSchema, fileIdx, posIdx)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val conf = Dsv2Parquet.readConf
    val msgs = messages.collect { case m: GraftDeltaCommitMessage => m }
    val staged = msgs.flatMap(_.insert.file).map(new Path(_))
    val merged: Map[String, Array[Long]] = msgs.flatMap(_.deletes.toSeq)
      .groupBy(_._1).map { case (n, seqs) => n -> seqs.flatMap(_._2).toArray }
    // sidecars + inserts land invisibly, ONE CAS publish references
    // them. Delta commits COMMUTE (each commit publishes its OWN
    // immutable sidecar, unioned at read — no read-modify-write) so a
    // lost CAS retries — but each attempt re-validates that every
    // referenced data file is still in the new base version. A
    // compaction that retired a referenced file between this op's scan
    // and its publish makes the retry abort loudly: the row positions
    // no longer name the same rows.
    val stagingDir = new Path(staging.dir)
    var totalPos = 0L
    val sidecars = merged.map { case (name, pos) =>
      totalPos += pos.length
      new Path(stagingDir,
        Dsv2Parquet.writeDvSidecar(stagingDir, name, pos.distinct.sorted, conf))
    }.toSeq
    val sidecarNames = sidecars.map(_.getName).toSet
    val stagedNames = staged.map(_.getName).toSet
    staging.publish("delta", staged.toSeq ++ sidecars) { cur =>
      val gone = merged.keys.filterNot(cur.dataFiles.contains)
      if (gone.nonEmpty) throw new IllegalStateException(
        "graft-delta commit: concurrent writer conflict — data " +
          "file(s) referenced by position deletes no longer in " +
          s"version ${cur.version}: ${gone.mkString(", ")}")
      Some(cur.copy(dataFiles = cur.dataFiles ++ stagedNames,
        dvFiles = cur.dvFiles ++ sidecarNames))
    }
    val probe = Dsv2WriteProbe.forPath(path)
    probe.lastCommittedFiles.set(staged.length)
    probe.lastCommittedRows.set(msgs.map(_.insert.rows).sum)
    probe.lastTruncated.set(0)
    probe.lastDvFiles.set(merged.size)
    probe.lastDvPositions.set(totalPos)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    staging.abort()
}