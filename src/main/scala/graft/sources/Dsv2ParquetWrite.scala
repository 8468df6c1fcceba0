package graft.sources

import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.types._

/**
 * DataSource V2 WRITE path for [[GraftParquetProvider]] — the mutation
 * half of the connector seam. The reference's repair path binds CQL
 * DELETE/UPSERT statements against the live cluster
 * (DBOperations.java:58-194,240-387); a Spark-native connector serves
 * that surface through exactly this API: Catalyst's `V2Writes` rule
 * resolves `df.write.format(...).mode(...)` into an `AppendData` /
 * `OverwriteByExpression` node whose physical plan drives a
 * [[DataWriter]] per task. Swapping the data plane from parquet-group
 * writes to CQL batch mutations changes nothing above
 * [[GraftParquetWriterFactory.createWriter]].
 *
 * Commit protocol (the part a file-based sink genuinely needs and a
 * CQL sink replaces with idempotent writes) is [[StagedCommit]]'s, the
 * one every graft write shares: tasks write into its staging dir, which
 * no listing sees; a task that fails deletes its partial file; task
 * commit reports the closed file in a [[GraftParquetCommitMessage]].
 * Job [[GraftParquetBatchWrite.commit]] hands exactly the reported
 * files to [[StagedCommit.publish]], which promotes them and makes ONE
 * CAS manifest publish ([[CommitLog]]) the commit point; a retry or
 * speculative attempt whose message never reached the driver is
 * dropped with the staging dir. A failed job
 * ([[GraftParquetBatchWrite.abort]]) or a failed publish leaves the
 * table and its directory as they were. TRUNCATE (mode=overwrite) and a
 * filter overwrite retire the replaced files from the manifest; the
 * files stay on disk for time travel until `expire_snapshots`. A
 * clustered fixed-width write (`graft.clusterBy` + `graft.numPartitions`)
 * records its layout and each file's bucket id — its task's partition
 * id — in the manifest it publishes, which is all the scan's
 * storage-partitioning claim reads; no other file holds it. The
 * first write into a plain parquet directory imports its listing as
 * version 1 before any file is promoted ([[CommitLog.begin]]).
 *
 * Scale shape: one output file per non-empty task partition, written
 * through parquet's buffered page writer — no driver-side data, no
 * global coordination beyond the O(#tasks) commit-message rename loop.
 */
private[sources] case class GraftParquetWriteBuilder(path: String,
    info: LogicalWriteInfo)
    extends WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsOverwrite {
  private var truncateFirst = false
  private var overwriteFilters: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty

  /** FILTER-scoped overwrite (`INSERT OVERWRITE … WHERE` /
   * `writeTo(t).overwrite(cond)`): accepted only when footer
   * statistics PROVE the predicate file-aligned — every data file
   * either all-matches (replaced) or none-matches (kept), the same
   * metadata-proof posture as DELETE WHERE. `canOverwrite` is the
   * planning-time probe, so an unprovable predicate fails the
   * statement up front instead of mid-commit. mode=overwrite arrives
   * as OverwriteByExpression(AlwaysTrue) → plain truncate. */
  override def canOverwrite(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(_ == org.apache.spark.sql.sources.AlwaysTrue()) ||
      Dsv2Parquet.deleteDecisions(PlanningView(path, None), filters).isDefined

  override def overwrite(
      filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
    if (filters.forall(_ == org.apache.spark.sql.sources.AlwaysTrue()))
      truncateFirst = true
    else overwriteFilters = filters
    this
  }

  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  override def build(): Write = new Write
      with RequiresDistributionAndOrdering {
    private def cols(key: String): Array[String] =
      Option(info.options().get(key))
        .map(_.split(",").map(_.trim).filter(_.nonEmpty))
        .getOrElse(Array.empty)
    private val orderBy = cols(Dsv2Parquet.OrderByOption)
    private val clusterBy = cols(Dsv2Parquet.ClusterByOption)
    private val sortWithin = cols(Dsv2Parquet.SortWithinOption)
    require(orderBy.isEmpty || clusterBy.isEmpty,
      "graft-parquet: orderBy and clusterBy are mutually exclusive")
    require(sortWithin.isEmpty || clusterBy.nonEmpty,
      "graft-parquet: sortWithin requires clusterBy")

    /** SINK-REQUESTED distribution — the V2 contract a live sink uses
     * to make SPARK shuffle for it (a Cassandra writer clusters by
     * token so each task batches mutations per replica set; an
     * Iceberg writer orders globally for clustered data files):
     * `graft.orderBy` demands a RANGE exchange + in-partition sort
     * (output files carry disjoint sorted key ranges — verifiable
     * from their footers), `graft.clusterBy` a hash exchange (one
     * key never straddles two tasks' files). The sink declares WHAT
     * it needs; Catalyst plans the exchange. */
    override def requiredDistribution()
        : org.apache.spark.sql.connector.distributions.Distribution = {
      import org.apache.spark.sql.connector.distributions.Distributions
      if (orderBy.nonEmpty) Distributions.ordered(requiredOrdering())
      else if (clusterBy.nonEmpty) Distributions.clustered(
        clusterBy.map(c => Expressions.column(c)
          : org.apache.spark.sql.connector.expressions.Expression))
      else Distributions.unspecified()
    }

    override def requiredOrdering()
        : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
      (if (orderBy.nonEmpty) orderBy else sortWithin)
        .map(c => Expressions.sort(Expressions.column(c),
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))

    /** `graft.numPartitions`: exact task count for the sink-demanded
     * exchange (a Cassandra sink sizes this to its replica/batch
     * topology). A strict requirement — AQE cannot coalesce it away. */
    override def requiredNumPartitions(): Int =
      Option(info.options().get(Dsv2Parquet.NumPartitionsOption))
        .map(_.toInt).getOrElse(0)

    override def toBatch: BatchWrite =
      GraftParquetBatchWrite(path, info.schema(), info.queryId(), truncateFirst,
        clusterBy, requiredNumPartitions(), sortWithin, overwriteFilters,
        cols(Dsv2Parquet.BloomForOption),
        Option(info.options().get(Dsv2Parquet.BloomNdvOption))
          .map(_.toLong).getOrElse(0L))
    override def toStreaming: StreamingWrite =
      GraftParquetStreamingWrite(path, info.schema(), info.queryId(),
        truncateFirst)
  }
}

/** Per-task output: the staged file (None for an empty partition — no
 * zero-row files), its row count, summed into the probe at commit, and
 * the task's partition id — the file's bucket under a clustered write. */
private[sources] case class GraftParquetCommitMessage(file: Option[String],
    rows: Long, partition: Int = 0) extends WriterCommitMessage

private[sources] case class GraftParquetBatchWrite(path: String,
    schema: StructType, queryId: String, truncateFirst: Boolean,
    clusterBy: Array[String] = Array.empty, numPartitions: Int = 0,
    sortWithin: Array[String] = Array.empty,
    overwriteFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    bloomFor: Array[String] = Array.empty,
    bloomNdv: Long = 0L)
    extends BatchWrite {

  private val staging = StagedCommit(path, queryId)

  /** The layout a clustered fixed-width write places its files in. */
  private val layout =
    if (clusterBy.isEmpty || numPartitions <= 0) None
    else Some(CommitLog.Layout(clusterBy.toSeq, numPartitions,
      sortWithin.toSeq))

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    GraftParquetWriterFactory(staging.dir, schema, bloomFor, bloomNdv)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val t0 = System.nanoTime()
    val staged = messages.collect {
      case GraftParquetCommitMessage(Some(f), _, _) => new Path(f)
    }
    // under a clustered write a task's partition id IS its file's bucket
    val bucketOf = messages.collect {
      case GraftParquetCommitMessage(Some(f), _, b) => new Path(f).getName -> b
    }.toMap
    // files retire LOGICALLY: replaced files stay on disk for time
    // travel until expire_snapshots. Losing the CAS re-reads the new
    // base: appends commute (retry); truncate/overwrite recompute their
    // removal set against the new state (overwrite-wins semantics,
    // re-proved per attempt — a file landed since planning that breaks
    // the predicate's file alignment fails the commit, never a guess).
    val conf = Dsv2Parquet.readConf
    val stagedNames = staged.map(_.getName).toSet
    var removedCount = 0
    staging.publish(
      if (truncateFirst) "truncate"
      else if (overwriteFilters.nonEmpty) "overwrite" else "append",
      staged.toSeq
    ) { cur =>
      // never this write's own files, whatever a concurrent import of
      // the directory listed
      val removedNames: Set[String] = (
        if (truncateFirst) cur.dataFiles
        else if (overwriteFilters.nonEmpty)
          Dsv2Parquet.retiredBy(path, cur, overwriteFilters).getOrElse(
            throw new IllegalStateException(
              "graft-parquet overwrite: the predicate is no longer " +
                s"file-aligned (${overwriteFilters.mkString(", ")}) — " +
                "a file changed between planning and commit"))
        else Set.empty[String]) -- stagedNames
      removedCount = removedNames.size
      val remaining = cur.dataFiles -- removedNames
      // this write's layout becomes the table's when nothing else
      // survives; beside surviving files its files carry bucket ids only
      // when it extends their recorded layout — else they carry none and
      // the scan claims no layout
      val bucketed = layout.isDefined &&
        (remaining.isEmpty || cur.layout == layout)
      Some(cur.copy(
        layout = if (remaining.isEmpty) layout else cur.layout,
        buckets = if (bucketed) cur.buckets ++ bucketOf else cur.buckets,
        dataFiles = remaining ++ stagedNames,
        dvFiles = cur.dvFiles.filterNot(v =>
          Dsv2Parquet.dvTarget(v).exists(removedNames.contains)),
        // a truncate retires every file an equality delete could
        // target, and an overwrite may retire a sidecar's LAST live
        // target — either way the orphaned sidecar is dead weight
        // that would pin the row-path probe forever (no live target
        // left for compact_table to fold) and wedge row-level ops
        // behind the fold-first guard
        eqFiles =
          if (truncateFirst) Set.empty
          else if (removedNames.isEmpty) cur.eqFiles
          else cur.eqFiles.filter(n =>
            Dsv2Equality.read(new Path(path), n, conf)
              .targets.exists(remaining.contains))))
    }
    Dsv2WriteProbe.forPath(path).lastTruncated.set(removedCount)
    Dsv2WriteProbe.forPath(path).lastCommittedFiles.set(staged.length)
    Dsv2WriteProbe.forPath(path).lastCommittedRows.set(messages.collect {
      case GraftParquetCommitMessage(_, n, _) => n
    }.sum)
    Dsv2WriteProbe.forPath(path).lastCommitMillis.set(
      (System.nanoTime() - t0) / 1000000L)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    staging.abort()
}

/**
 * Streaming (micro-batch) write — the sink half of a streaming
 * connector. Same [[StagedCommit]] as the batch write, PER EPOCH (tag
 * `<queryId>-e<epochId>`) for staging, verify, publish and abort; only
 * the promotion is its own, and epoch commit is IDEMPOTENT through a marker file under
 * `path/_epochs/` whose atomic creation (temp + rename) IS the commit
 * point. The marker is written BEFORE any staged file becomes visible
 * and records the epoch's deterministic destination names, so every
 * crash window reconciles:
 *
 *  - crash before the marker: nothing committed, nothing visible; the
 *    replayed epoch re-stages and commits from scratch;
 *  - crash after the marker, before/among the renames: the replay reads
 *    the marker's ledger and renames its re-staged files onto exactly
 *    the missing destination names (micro-batch recomputation is
 *    deterministic — same offsets, same partitioning — the premise
 *    Spark's own file sink rests on); already-present destinations are
 *    left untouched, so nothing commits twice;
 *  - replay of a fully committed epoch: every ledger name exists, the
 *    re-staged files are dropped.
 *
 * This is file-visibility exactly-once, the property a CQL sink gets
 * from idempotent mutations and a file sink must build from a ledger
 * (Spark's own file sink keeps the same ledger in _spark_metadata).
 * Markers are garbage-collected past [[GraftParquetStreamingWrite
 * .MarkerRetain]] epochs behind the latest — once the checkpoint has
 * advanced that far, the purged epochs can never be replayed — so a
 * long-running stream's marker directory stays flat.
 *
 * Each epoch publishes one manifest version after its renames (the
 * files are invisible until then). `truncate` (outputMode = complete)
 * replaces the table's snapshot each epoch LOGICALLY — prior epochs
 * stay on disk for time travel until expire_snapshots. Epoch replays
 * stay idempotent: deterministic destination names re-union (append)
 * or re-pin (complete) the manifest to the identical state.
 */
private[sources] case class GraftParquetStreamingWrite(path: String,
    schema: StructType, queryId: String, truncateFirst: Boolean)
    extends StreamingWrite {
  import GraftParquetStreamingWrite.MarkerRetain

  private def staging(epochId: Long) = StagedCommit(path, s"$queryId-e$epochId")
  private def epochsDir = new Path(path, "_epochs")
  private def marker(epochId: Long) =
    new Path(epochsDir, s"epoch-$queryId-$epochId")

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new StreamingDataWriterFactory {
      override def createWriter(partitionId: Int, taskId: Long,
          epochId: Long): DataWriter[InternalRow] =
        new GraftParquetDataWriter(staging(epochId).dir, schema,
          partitionId, taskId)
    }

  /** The ledger: one destination file name per line, created atomically
   * (temp + rename) so a reader never observes a torn marker. */
  private def writeMarker(fs: org.apache.hadoop.fs.FileSystem,
      epochId: Long, dsts: Array[Path]): Unit = {
    fs.mkdirs(epochsDir)
    val tmp = new Path(epochsDir,
      s"epoch-$queryId-$epochId.tmp-${UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(dsts.map(_.getName).mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    require(fs.rename(tmp, marker(epochId)),
      s"graft-parquet epoch $epochId: marker rename failed")
  }

  private def readMarker(fs: org.apache.hadoop.fs.FileSystem,
      epochId: Long): Array[Path] = {
    val text = Dsv2Parquet.readText(fs, marker(epochId))
    text.split("\n").filter(_.nonEmpty).map(new Path(new Path(path), _))
  }

  /** Epochs more than [[MarkerRetain]] behind the one just committed
   * can never be replayed once the checkpoint advances — drop their
   * markers so they don't accumulate for the life of the stream. */
  private def gcMarkers(fs: org.apache.hadoop.fs.FileSystem,
      epochId: Long): Unit = {
    val prefix = s"epoch-$queryId-"
    if (fs.exists(epochsDir)) fs.listStatus(epochsDir).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith(prefix))
        n.stripPrefix(prefix).toLongOption.foreach { e =>
          if (e <= epochId - MarkerRetain) fs.delete(st.getPath, false): Unit
        }
    }
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val conf = Dsv2Parquet.readConf
    val target = new Path(path)
    val fs = target.getFileSystem(conf)
    val staged = messages.collect {
      case GraftParquetCommitMessage(Some(f), _, _) => new Path(f)
    }.sortBy(_.getName)
    var dsts = Array.empty[Path]
    // the ledger reconcile, run by the helper after it verified every
    // reported file: a fresh commit writes the ledger first. Destination
    // names are deterministic in (queryId, epochId, staged index), never
    // a fresh UUID, so a replayed rename lands on the same name instead
    // of beside it. Then a re-/staged file is renamed onto each missing
    // destination; destinations already present are first-attempt
    // commits and stay untouched.
    def reconcileLedger(files: Seq[Path]): Seq[String] = {
      dsts =
        if (fs.exists(marker(epochId))) readMarker(fs, epochId)
        else {
          fs.mkdirs(target)
          val d = files.indices.map(i =>
            new Path(target, f"part-$queryId-e$epochId-$i%05d.parquet")).toArray
          writeMarker(fs, epochId, d)
          d
        }
      dsts.zipWithIndex.collect { case (dst, i) if !fs.exists(dst) =>
        require(i < files.length,
          s"graft-parquet epoch $epochId replay: ledger names $dst but " +
            s"no staged file remains to fill it")
        require(fs.rename(files(i), dst),
          s"graft-parquet epoch $epochId commit: rename " +
            s"${files(i)} -> $dst failed")
        dst.getName
      }.toSeq
    }
    // the renamed epoch files are invisible until a manifest references
    // them — publish ONE version per epoch. Complete mode retires the
    // previous snapshot logically (files stay for time travel); append
    // unions.
    var removed = 0
    staging(epochId).publishWith("stream-epoch", staged.toSeq,
        reconcileLedger) { cur =>
      val dstNames = dsts.map(_.getName).toSet
      if (truncateFirst) {
        val retired = cur.dataFiles -- dstNames
        removed = retired.size
        Some(cur.copy(dataFiles = dstNames,
          dvFiles = cur.dvFiles.filterNot(v =>
            Dsv2Parquet.dvTarget(v).exists(retired.contains)),
          // every file an equality delete could target is retired —
          // carrying the sidecars forward would force the row-path
          // probe forever (compact_table can't fold targets that no
          // longer exist) and wedge row-level ops behind the
          // fold-first guard
          eqFiles = Set.empty))
      } else Some(cur.copy(dataFiles = cur.dataFiles ++ dstNames))
    }
    if (truncateFirst) Dsv2WriteProbe.forPath(path).lastTruncated.set(removed)
    gcMarkers(fs, epochId)
    Dsv2WriteProbe.forPath(path).lastCommittedFiles.set(dsts.length)
    Dsv2WriteProbe.forPath(path).epochsCommitted.incrementAndGet(): Unit
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    staging(epochId).abort()
}

private[sources] object GraftParquetStreamingWrite {
  /** Epoch markers kept behind the latest commit. Spark replays at most
   * the one epoch whose commit wasn't checkpointed; anything this far
   * back is unreachable, so the window is pure safety margin. */
  val MarkerRetain = 10L
}

private[sources] case class GraftParquetWriterFactory(stagingDir: String,
    schema: StructType,
    bloomFor: Array[String] = Array.empty,
    bloomNdv: Long = 0L) extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new GraftParquetDataWriter(stagingDir, schema, partitionId, taskId,
      bloomFor, bloomNdv)
}

/** Executor-side writer: one parquet file per non-empty partition,
 * named by (partitionId, taskId, uuid) so retried and speculative
 * attempts never collide. The file is opened lazily on the first row —
 * an empty partition costs nothing and stages nothing. */
private[sources] class GraftParquetDataWriter(stagingDir: String,
    schema: StructType, partitionId: Int, taskId: Long,
    bloomFor: Array[String] = Array.empty,
    bloomNdv: Long = 0L)
    extends DataWriter[InternalRow] {

  private var file: Path = _
  private var writer: ParquetWriter[InternalRow] = _
  private var rows = 0L

  private def open(): Unit = {
    val conf = Dsv2Parquet.readConf
    file = new Path(stagingDir,
      f"part-$partitionId%05d-$taskId-${UUID.randomUUID()}.parquet")
    // direct InternalRow → RecordConsumer write support (no per-row
    // Group materialization — see GraftInternalRowWriteSupport)
    val b = new GraftRowParquetWriterBuilder(
        HadoopOutputFile.fromPath(file, conf), schema)
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
    // sink-requested bloom filters (graft.bloomFor): the point-lookup
    // rung for high-cardinality columns where stats and dictionaries
    // can't prune
    bloomFor.foreach { c =>
      b.withBloomFilterEnabled(c, true)
      if (bloomNdv > 0L) b.withBloomFilterNDV(c, bloomNdv)
    }
    writer = b.build()
  }

  override def write(row: InternalRow): Unit = {
    if (writer == null) open()
    writer.write(row)
    rows += 1L
  }

  override def commit(): WriterCommitMessage = {
    if (writer != null) { writer.close(); writer = null }
    GraftParquetCommitMessage(Option(file).map(_.toString), rows, partitionId)
  }

  override def abort(): Unit = {
    if (writer != null) { writer.close(); writer = null }
    if (file != null) {
      val fs = file.getFileSystem(Dsv2Parquet.readConf)
      fs.delete(file, false)
    }
  }

  override def close(): Unit =
    if (writer != null) { writer.close(); writer = null }
}

/** Observability for the write path (spec + driver-row require()
 * surface only — never read by query logic): files/rows of the latest
 * job commit and how many previously committed files a truncate
 * removed. */
object Dsv2WriteProbe {
  final class PathProbe {
    val lastCommittedFiles = new java.util.concurrent.atomic.AtomicInteger
    val lastCommittedRows = new java.util.concurrent.atomic.AtomicLong
    val lastTruncated = new java.util.concurrent.atomic.AtomicInteger
    val epochsCommitted = new java.util.concurrent.atomic.AtomicLong
    /** Driver-side wall of the latest job commit (staging verify +
     * renames + manifest publish) — the only O(#tasks) serial section
     * of the write path (BASELINE.md regime `dsv2write`). */
    val lastCommitMillis = new java.util.concurrent.atomic.AtomicLong
    /** Merge-on-read evidence: files that received position deletes
     * and total positions deleted in the latest delta commit. */
    val lastDvFiles = new java.util.concurrent.atomic.AtomicInteger
    val lastDvPositions = new java.util.concurrent.atomic.AtomicLong
  }
  private val byPath =
    new java.util.concurrent.ConcurrentHashMap[String, PathProbe]()
  /** Keyed by target path so concurrently-running writes (parallel
   * test suites, parallel jobs) cannot clobber each other's readings. */
  def forPath(p: String): PathProbe =
    byPath.computeIfAbsent(p.stripSuffix("/"), _ => new PathProbe)
}
