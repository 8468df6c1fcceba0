package graft.sources

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/**
 * DataSource V2 STREAMING read for [[GraftParquetProvider]] — the
 * third face of the connector seam (batch read, batch write, and now
 * micro-batch read, the API a CDC/changefeed connector implements).
 * The directory is treated as an append-only log of immutable parquet
 * files; the offset space is the GLOBAL ROW-GROUP INDEX — the same
 * unit the batch scan splits on and the moral equivalent of a CDC
 * token-range/LSN cursor. Each `latestOffset` re-lists the directory
 * and appends newly arrived files to the END of a persisted order log
 * (`<checkpoint>/graft-file-order.log`), so the offset→(file, row
 * group) mapping is REPRODUCIBLE ACROSS RESTARTS: a recovered query
 * replans exactly the row groups its checkpointed offsets named, the
 * property exactly-once sinks need from a source. (Spark's own
 * FileStreamSource keeps the same seen-files log for the same
 * reason.) Uncommitted data can never be observed: the batch writer
 * stages under a `_`-prefixed directory the listing skips, and
 * Spark's own committers rename out of `_temporary`.
 *
 * Admission control: `graft.maxRowGroupsPerTrigger` caps row groups
 * per micro-batch (the connector analogue of maxFilesPerTrigger /
 * maxOffsetsPerTrigger), so a backlog drains in bounded batches
 * instead of one giant catch-up batch — at 100 TB the difference
 * between a streaming job and an accidental batch job. Column
 * pruning and filter pushdown flow through the SAME ScanBuilder as
 * the batch path: the micro-batch reader factory ships the pruned
 * projection and pushed predicates unchanged.
 */
private[sources] class GraftParquetMicroBatchStream(path: String,
    required: StructType, pushed: Array[Filter], checkpointLocation: String,
    maxPerTrigger: Option[Int])
    extends MicroBatchStream with SupportsAdmissionControl {

  private val conf = new Configuration()
  private val logPath = new Path(checkpointLocation, "graft-file-order.log")

  /** Discovery order, restart-stable: (file, per-row-group byte range).
   * Grows monotonically; never reordered. */
  private val files = mutable.ArrayBuffer.empty[(String, Array[(Long, Long)])]
  private val seen = mutable.HashSet.empty[String]

  /** Has THIS query observed the table at least once? The first-ever
   * discovery must deliver the table's current content wholesale —
   * including files that once entered via a maintenance rewrite —
   * while every later discovery skips maintenance-introduced files
   * (their rows were already streamed from the files they replaced). */
  private var initialized: Boolean = { loadLog(); seenLogExists }
  private def seenLogExists: Boolean =
    logPath.getFileSystem(conf).exists(logPath)

  private def rowGroupRanges(file: String): Array[(Long, Long)] = {
    val fs = new Path(file).getFileSystem(conf)
    Dsv2Parquet.fileFooter(fs.getFileStatus(new Path(file)), conf)._2
      .map(b => (b.getStartingPos, b.getStartingPos + b.getCompressedSize))
  }

  private def discoverFile(file: String): Unit = {
    files += file -> rowGroupRanges(file)
    seen += file
  }

  /** The log persists each file's ROW-GROUP BYTE RANGES beside its
   * name (`file\tstart:end,start:end,…`), so a RESTART rebuilds the
   * offset→(file, row group) mapping without touching any logged file
   * — a segment consumed and then PURGED by retention (normal for a
   * CDC log) cannot fail recovery; only actually re-reading its data
   * would. */
  private def loadLog(): Unit = {
    val fs = logPath.getFileSystem(conf)
    if (fs.exists(logPath)) {
      val text = Dsv2Parquet.readText(fs, logPath)
      text.split("\n").filter(_.nonEmpty).foreach { line =>
        val Array(file, rangesStr) = line.split("\t", 2)
        val ranges = rangesStr.split(",").filter(_.nonEmpty).map { r =>
          val Array(s, e) = r.split(":", 2)
          (s.toLong, e.toLong)
        }
        files += file -> ranges
        seen += file
      }
    }
  }

  private def persistLog(): Unit = {
    val fs = logPath.getFileSystem(conf)
    fs.mkdirs(logPath.getParent)
    val out = fs.create(logPath, true)
    val text = files.map { case (f, ranges) =>
      f + "\t" + ranges.map { case (s, e) => s"$s:$e" }.mkString(",")
    }.mkString("", "\n", "\n")
    try out.write(text.getBytes("UTF-8"))
    finally out.close()
  }

  /** Files a PURE-REWRITE commit introduced on a commit-logged table:
   * compaction/bin-pack/recluster rewrite live rows into fresh names,
   * zero NEW rows by definition — a continuous reader must not
   * re-deliver them (at fleet scale compaction runs constantly; a
   * changefeed that re-streams the table per maintenance cycle is
   * broken — the same reason Iceberg's streaming source skips replace
   * snapshots). A skip is taken only when it is PROVABLY a
   * re-delivery: the version pair must be consecutive (with
   * intermediate manifests expired the added set can't be attributed)
   * and every file the rewrite RETIRED must already be in this
   * stream's seen-set (a file appended and compacted between two
   * triggers was never delivered — its rows now live only in the
   * rewrite's output, which must stream). When the proof fails, the
   * conservative reading is "stream it": a duplicate beats a gap.
   * Data-carrying commits (append, delta/eq inserts, stream epochs,
   * overwrite, replace, rollback — whose re-added files may never have
   * been delivered to THIS stream) are never skipped; `seen` alone
   * dedups them. */
  /** Incremental walk state: versions at or below [[walkedThrough]]
   * have already contributed to [[skippedAcc]] — each trigger walks
   * only the NEW version pairs, so a long-lived table's trigger cost
   * is O(new commits), not O(total history × files). A restart walks
   * the surviving history once. */
  private var walkedThrough: Long = 0L
  private var skippedAcc: Set[String] = Set.empty

  private def maintenanceIntroduced(vs: Array[Long]): Set[String] = {
    val dir = new Path(path)
    if (vs.length < 2) return skippedAcc
    val fresh = vs.filter(_ > walkedThrough)
    if (fresh.isEmpty) return skippedAcc
    // the pair (walkedThrough, firstFresh) is new too when adjacent
    val startPrev = vs.filter(_ <= walkedThrough).lastOption
    val walk = startPrev.toArray ++ fresh
    val seenNames: Set[String] = seen.map(f => new Path(f).getName).toSet
    // walk version pairs in order, accumulating skips: a skipped
    // rewrite output counts as delivered when a LATER rewrite retires
    // it (its rows reached the stream through its ancestors)
    walk.sliding(2).foreach {
      case Array(prev, cur) if cur == prev + 1 =>
        val c = CommitLog.read(dir, cur, conf)
        val op = c.meta.getOrElse("operation", "")
        if (op == "compact" || op == "binpack" || op == "recluster" ||
            op == "compact-minor") {
          val p0 = CommitLog.read(dir, prev, conf)
          if ((p0.dataFiles -- c.dataFiles)
              .forall(f => seenNames.contains(f) || skippedAcc.contains(f)))
            skippedAcc ++= c.dataFiles -- p0.dataFiles
        }
      case _ => ()
    }
    walkedThrough = vs.last
    skippedAcc
  }

  /** List the directory; append unseen files (name-sorted within one
   * discovery for determinism) and persist the order BEFORE exposing
   * them through an offset — a crash between persist and processing
   * replays identically. */
  private def discover(): Unit = {
    // ONE view per trigger serves both the files and the versions (the
    // batch scan's single planning listing), and ORDER MATTERS:
    // the data-file view derives from a listing taken at-or-before the
    // version set — a rewrite publishing mid-discovery only makes the
    // skip-set NEWER than the listing — every rewrite output the
    // listing can contain has its version pair walked (the reverse
    // order streams an output whose commit landed between skip
    // computation and the listing). `skipped` accumulates retired
    // outputs too, so a stale listing's already-replaced rewrite files
    // stay filtered.
    val view = PlanningView(path, None)
    val listed = view.dataFiles.map(_.getPath.toString)
    val skip: Set[String] =
      if (initialized) maintenanceIntroduced(view.versions) else Set.empty
    val (skippedNow, fresh) = listed.filterNot(seen)
      .partition(f => skip.contains(new Path(f).getName))
    if (fresh.nonEmpty || skippedNow.nonEmpty) {
      fresh.sorted.foreach(discoverFile)
      // a SKIP is durable state: record the file as consumed with ZERO
      // row groups (it occupies no offsets), so the decision survives
      // a query restart and outlives the manifests that proved it —
      // without this, expire_snapshots dropping the version pair (or a
      // restart rebuilding `seen` from the log) re-delivers the output
      skippedNow.sorted.foreach { f =>
        files += f -> Array.empty[(Long, Long)]
        seen += f
      }
      persistLog()
    } else if (!initialized) persistLog() // mark first discovery done
    initialized = true
  }

  private def totalRowGroups: Long = files.iterator.map(_._2.length.toLong).sum

  override def initialOffset(): Offset = GraftStreamOffset(0L)

  override def deserializeOffset(json: String): Offset =
    GraftStreamOffset(json.trim.toLong)

  override def getDefaultReadLimit: ReadLimit =
    maxPerTrigger.map(m => ReadLimit.maxRows(m.toLong))
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset = {
    discover()
    GraftStreamOffset(totalRowGroups)
  }

  /** Admission-controlled variant: advance at most maxPerTrigger row
   * groups past `start` (our unit is the row group, not the row — the
   * granularity this source can actually split on). */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    discover()
    val s = start.asInstanceOf[GraftStreamOffset].n
    val total = totalRowGroups
    GraftStreamOffset(maxPerTrigger.map(m => math.min(total, s + m))
      .getOrElse(total))
  }

  override def reportLatestOffset(): Offset = GraftStreamOffset(totalRowGroups)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftStreamOffset].n
    val e = end.asInstanceOf[GraftStreamOffset].n
    val out = mutable.ArrayBuffer.empty[InputPartition]
    var idx = 0L
    files.foreach { case (file, ranges) =>
      ranges.foreach { case (lo, hi) =>
        if (idx >= s && idx < e)
          out += GraftParquetPartition(file, lo, hi)
        idx += 1L
      }
    }
    require(e <= idx, s"offset $e beyond known row groups $idx " +
      s"(file-order log out of sync at $logPath)")
    out.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // projection resolution is per file when each reader opens —
    // micro-batches routinely span files from different writers
    // equality deletes apply to streamed micro-batches exactly like
    // batch scans (the key probe composes with the DV application);
    // deletes, their key schema and the DVs come from ONE view, so from
    // one version
    val view = PlanningView(path, None)
    val eqInfo = Dsv2Equality.forSnapshot(path, view.snapshot, view.schema,
      Dsv2Parquet.readConf)
    GraftParquetReaderFactory(required, pushed,
      dvMap = view.dvMap,
      eqKeyFields = eqInfo.map(_._1).getOrElse(Array.empty),
      eqFilters = eqInfo.map(_._2).getOrElse(Array.empty))
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Row-group-index cursor; serialized as the bare number. */
private[sources] case class GraftStreamOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}
