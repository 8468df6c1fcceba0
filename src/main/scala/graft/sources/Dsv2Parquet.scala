package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Type}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

/**
 * DataSource V2 `TableProvider` over parquet files — the API seam a
 * LIVE connector implements (reference operator A/T: the Spark
 * Cassandra connector is exactly a DSv2 `TableProvider` whose scan
 * pushes projection and predicates to the cluster,
 * MvSync.java:245-247). The three [[Source]] implementations prove the
 * engine is format-agnostic; this provider proves the PUSHDOWN seam
 * through the connector API itself (r15 verdict #2): Catalyst's
 * `V2ScanRelationPushDown` hands required columns to
 * [[SupportsPushDownRequiredColumns.pruneColumns]] and predicates to
 * [[SupportsPushDownFilters.pushFilters]], and this scan forwards both
 * INTO the parquet reader — the requested-projection `MessageType`
 * skips non-projected column chunks entirely, and the translated
 * `FilterPredicate` skips whole row groups via their min/max
 * statistics. Swapping the data plane from parquet-hadoop calls to
 * CQL token-range reads changes nothing above `newScanBuilder`.
 *
 * The point is the connector-side seam, exercised end-to-end by
 * `recon_classify_dsv2` against the same oracle as `recon_classify` —
 * but the read path is production-shaped in its own right (r17-r18):
 * vectorized ColumnarBatch decode with bulk dictionary-id mode,
 * schema-evolved directories (per-file projection + null fill, union
 * schema inference), column-index page skipping, and measured AT or
 * ABOVE the built-in source's decode throughput on the smoke shapes
 * (BASELINE.md regime `dsv2scan`). What it deliberately skips is Hive-style
 * partition-directory discovery — the catalog + clustered layouts
 * cover that ground here.
 *
 * Scale shape: one [[InputPartition]] per parquet ROW GROUP (the same
 * split unit Spark's own parquet source uses, and the moral equivalent
 * of a Cassandra token range) — a 1000-executor cluster gets genuine
 * parallelism from a multi-row-group file, and each reader touches
 * only its byte range; SMALL row groups pack into multi-range tasks
 * (Spark's own split-size formula) so a small-file directory doesn't
 * drown in per-task overhead. Planning reads footers only (one per
 * file, JVM-cached).
 *
 * Supported leaf types: BOOLEAN, INT32, INT64, FLOAT, DOUBLE, UTF8
 * BINARY, raw BINARY — the TableSchema surface (SURVEY §1.3). Nested
 * and repeated groups fail fast at schema inference.
 */
class GraftParquetProvider extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true

  /** Schema from the `graft.schema` DDL option when present, else the
   * table's own ([[Dsv2Parquet.tableSchema]]) at the read's `VERSION AS
   * OF`. */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val ddl = options.get(Dsv2Parquet.SchemaOption)
    if (ddl != null && ddl.nonEmpty) StructType.fromDDL(ddl)
    else Dsv2Parquet.tableSchema(Dsv2Parquet.pathOf(options),
      Option(options.get(Dsv2Parquet.VersionAsOfOption)).map(_.toLong))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    GraftParquetTable(
      Dsv2Parquet.pathOf(new CaseInsensitiveStringMap(properties)), schema)
}

private[sources] case class GraftParquetTable(path: String,
    override val schema: StructType,
    mergeOnRead: Boolean = false,
    versionAsOf: Option[Long] = None) extends Table
    with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  /** MERGE / UPDATE / rewrite-DELETE via row-level operations in the
   * table's declared mode (`graft.merge.mode`): copy-on-write
   * ([[GraftRowLevelOperation]] — whole touched FILES rewritten, the
   * default) or merge-on-read ([[GraftDeltaOperation]] —
   * position-delete sidecars plus insert files, write cost
   * proportional to damaged ROWS). A `DELETE` whose predicate the
   * footer-proof metadata path refuses ([[canDeleteWhere]] false)
   * falls back here instead of erroring — the delete paths compose
   * exactly like Iceberg's metadata vs row-level deletes. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(versionAsOf.isEmpty,
      s"graft-parquet: cannot mutate $path pinned at VERSION AS OF " +
        s"${versionAsOf.get}")
    // live equality deletes would be invisible to the rewrite scans'
    // position bookkeeping — fold them into files first (sidecars all
    // of whose targets were retired are inert and don't block)
    require(PlanningView(path, None).snapshot.forall(s =>
        Dsv2Equality.liveSidecars(new Path(path), s,
          Dsv2Parquet.readConf).isEmpty),
      s"graft-parquet: $path carries live equality deletes — fold them " +
        "first (CALL <cat>.system.compact_table) before row-level " +
        "operations")
    () =>
      if (mergeOnRead) GraftDeltaOperation(path, schema, info.command())
      else GraftRowLevelOperation(path, schema, info.command())
  }

  // `CommitLog.enabled` is a full directory listing, and Spark calls
  // properties() repeatedly during analysis/DESCRIBE (r20 advice: large
  // directories paid a listing RPC per call). A log is never removed,
  // so a POSITIVE answer is immutable and cached on the instance; a
  // negative (a directory graft has not written yet) is re-checked, so
  // the import by a first write still surfaces on a long-lived table
  // object.
  @transient private[this] var logEnabledSeen = false
  private def logEnabled: Boolean = logEnabledSeen || {
    val e = CommitLog.enabled(path, Dsv2Parquet.readConf)
    if (e) logEnabledSeen = true
    e
  }

  override def properties(): util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    if (mergeOnRead)
      m.put(Dsv2Parquet.MergeModeProperty, Dsv2Parquet.MergeOnRead)
    // manifest presence IS the property (no sidecar flag to drift)
    if (logEnabled)
      m.put(Dsv2Parquet.CommitLogProperty, "true")
    m
  }

  /** The reference's scan-select surface `writetime(col)` / `ttl(col)`
   * (MvSync.java:222-228) as METADATA COLUMNS: every wide physical
   * `writetime_<c>` / `ttl_<c>` sibling (SURVEY §1.3) is also
   * queryable through catalog SQL as `` `writetime(c)` `` — the
   * idiomatic DSv2 home for per-cell provenance a connector computes
   * rather than stores. The scan serves them by mapping the metadata
   * name back onto the physical column ([[Dsv2Parquet.physicalName]]),
   * so both spellings read the same bytes and hash identically. */
  override def metadataColumns(): Array[MetadataColumn] =
    (GraftMetadataColumn(Dsv2Parquet.FileMetaColumn, StringType,
        nullable = false)
      +: GraftMetadataColumn(Dsv2Parquet.PosMetaColumn, LongType,
        nullable = false)
      +: schema.fields.collect {
        case f if f.name.startsWith("writetime_") =>
          GraftMetadataColumn(
            s"writetime(${f.name.stripPrefix("writetime_")})", f.dataType)
        case f if f.name.startsWith("ttl_") =>
          GraftMetadataColumn(s"ttl(${f.name.stripPrefix("ttl_")})", f.dataType)
      }.toSeq).toArray

  /** METADATA-ONLY DELETE WHERE — the posture of every file-backed
   * connector (Iceberg's metadata delete, a Cassandra range drop):
   * a file is dropped only when its footer statistics PROVE every row
   * matches the predicate, kept only when they prove none does, and
   * the whole DELETE is refused (canDeleteWhere=false → Spark raises
   * the standard rewrite-required error) if ANY file is undecidable —
   * correctness never depends on a guess. Pairs with the ordered
   * write: a range layout makes range deletes file-aligned. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    Dsv2Parquet.deleteDecisions(PlanningView(path, None), filters).isDefined

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(versionAsOf.isEmpty,
      s"graft-parquet: cannot delete from $path pinned at VERSION AS " +
        s"OF ${versionAsOf.get}")
    val (drop, keep) =
      Dsv2Parquet.deleteDecisions(PlanningView(path, None), filters)
        .getOrElse(throw new UnsupportedOperationException(
          s"graft-parquet: cannot metadata-delete by ${filters.mkString(", ")}"))
    val conf = Dsv2Parquet.readConf
    val base = CommitLog.begin(path, conf)
    // a delete (e.g. TRUNCATE) that removes the LAST data file must not
    // make the table vanish from the catalog — declare the schema the
    // way CREATE TABLE does before dropping the data
    if (keep.isEmpty && drop.nonEmpty) Dsv2Parquet.declareSchema(path, schema)
    // logical retire: the manifest drop IS the delete (re-proved per
    // CAS attempt); the bytes stay for time travel
    CommitLog.commitUpdate(path, conf, operation = "delete",
        base = Some(base)) { cur =>
      val removed = Dsv2Parquet.retiredBy(path, cur, filters).getOrElse(
        throw new IllegalStateException(
          s"graft-parquet: metadata delete no longer file-aligned " +
            s"(${filters.mkString(", ")}) — a file changed mid-commit"))
      val remaining = cur.dataFiles -- removed
      Some(cur.copy(dataFiles = remaining,
        dvFiles = cur.dvFiles.filterNot(v =>
          Dsv2Parquet.dvTarget(v).exists(removed.contains)),
        // an equality sidecar whose targets are ALL retired is dead
        // weight: it would pin the row-path probe forever (no live
        // target left for compact_table to fold) and wedge row-level
        // ops behind the fold-first guard
        eqFiles = cur.eqFiles.filter(n =>
          Dsv2Equality.read(new Path(path), n, conf)
            .targets.exists(remaining.contains))))
    }
    Dsv2DeleteProbe.forPath(path).lastDropped.set(drop.length)
    Dsv2DeleteProbe.forPath(path).lastKept.set(keep.length)
  }
  override def name(): String = s"graft-parquet:$path"
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftParquetScanBuilder(path, schema,
      Option(options.get(Dsv2Parquet.MaxRowGroupsPerTriggerOption))
        .map(_.toInt),
      // SQL `VERSION AS OF` (catalog loadTable) or the read option —
      // either pins every planning listing to that manifest
      versionAsOf.orElse(
        Option(options.get(Dsv2Parquet.VersionAsOfOption)).map(_.toLong)))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(versionAsOf.isEmpty,
      s"graft-parquet: cannot write to $path pinned at VERSION AS OF " +
        s"${versionAsOf.get} — writes go to the current version")
    GraftParquetWriteBuilder(path, info)
  }
}

private[sources] class GraftParquetScanBuilder(path: String,
    tableSchema: StructType,
    maxRowGroupsPerTrigger: Option[Int] = None,
    versionAsOf: Option[Long] = None) extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownAggregates with SupportsPushDownLimit {
  private var required: StructType = tableSchema
  private var pushed: Array[Filter] = Array.empty
  private var aggResult: Option[(StructType, Array[Any], String)] = None
  private var limit: Option[Int] = None
  /** The one planning view the footer-aggregate gate and the built scan
   * share. */
  private lazy val view = PlanningView(path, versionAsOf)

  /** PARTIAL limit pushdown: the scan plans only enough row groups to
   * cover the limit when no predicate is in play, and every reader
   * stops emitting at the limit regardless. A live connector serves the
   * same surface with per-token-range LIMIT clauses. */
  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }

  /** Pinned explicitly (not left to the interface default): Spark must
   * keep its own Limit on top, because each READER stops at `limit`
   * rows — a multi-partition scan can still emit up to
   * partitions×limit rows in total. Correctness never depends on our
   * truncation. */
  override def isPartiallyPushed(): Boolean = true

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Accept the predicates parquet statistics can serve; return ALL of
   * them as residual so Spark re-evaluates post-scan — pushdown here is
   * an IO optimization (row-group skipping), never a correctness
   * dependency. This is the conservative connector posture (the
   * Cassandra connector does the same for clustering-key predicates):
   * parquet record-level null/NaN semantics never get a chance to
   * diverge from Spark's. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f =>
      Dsv2Parquet.translate(f, tableSchema).isDefined)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** Footer metadata IS the aggregate for COUNT/MIN/MAX: row counts
   * are exact in block metadata, min/max/null counts in column chunk
   * statistics — so `SELECT count(*), min(k), max(k) FROM t` is
   * answered without reading a single data byte (the metadata-only
   * fast path every serious connector serves; a live Cassandra
   * connector does the same for `count(*)` per token range).
   * COMPLETE pushdown: the values are exact, Spark projects them
   * straight through. Refused whenever any predicate reached
   * [[pushFilters]] — ours are residual-advisory, so a filtered
   * aggregate must run on real rows. Restricted to int/long min/max
   * (string footer stats may be writer-truncated) and to footers
   * whose statistics are actually present. */
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    serveFromFooters(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    aggResult = serveFromFooters(agg)
    aggResult.isDefined
  }

  private def serveFromFooters(agg: Aggregation)
      : Option[(StructType, Array[Any], String)] = {
    if (pushed.nonEmpty || agg.groupByExpressions.nonEmpty) return None
    // deletion vectors make footer row counts/stats over-counts —
    // a table with DVs answers aggregates from real (DV-filtered) rows
    if (view.dvMap.nonEmpty) return None
    // equality deletes likewise: footer counts ignore the key probe
    if (view.snapshot.exists(_.eqFiles.nonEmpty)) return None
    val blocks = view.footerBlocks.map(_._2)
    def col(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[(String, DataType)] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        tableSchema.fields.find(_.name == nr.fieldNames()(0))
          .map(f => f.name -> f.dataType)
      case _ => None
    }
    def chunkStats(c: String) = blocks.map(
      _.getColumns.asScala.find(_.getPath.toDotString == c))
    val served = agg.aggregateExpressions.map {
      case _: CountStar =>
        Some((StructField("count(*)", LongType, nullable = false),
          blocks.map(_.getRowCount).sum: Any, "COUNT(*)"))
      case c: Count if !c.isDistinct => col(c.column).flatMap {
        case (n, _) =>
          val st = chunkStats(n)
          // count(col) = rows − nulls; every chunk must carry a null
          // count or the footer can't answer
          if (st.exists(s => s.isEmpty || s.get.getStatistics == null ||
              !s.get.getStatistics.isNumNullsSet)) None
          else Some((StructField(s"count($n)", LongType, nullable = false),
            blocks.map(_.getRowCount).sum -
              st.map(_.get.getStatistics.getNumNulls).sum: Any, s"COUNT($n)"))
      }
      case m: Min => col(m.column).flatMap { case (n, dt) =>
        footerExtreme(chunkStats(n), dt, isMin = true)
          .map(v => (StructField(s"min($n)", dt, nullable = true), v, s"MIN($n)"))
      }
      case m: Max => col(m.column).flatMap { case (n, dt) =>
        footerExtreme(chunkStats(n), dt, isMin = false)
          .map(v => (StructField(s"max($n)", dt, nullable = true), v, s"MAX($n)"))
      }
      case _ => None
    }
    if (served.exists(_.isEmpty)) None
    else {
      val flat = served.map(_.get)
      Some((StructType(flat.map(_._1)), flat.map(_._2),
        flat.map(_._3).mkString(", ")))
    }
  }

  /** Exact min or max from chunk statistics, int/long only. None =
   * footer can't answer (missing stats, unsupported type); Some(null)
   * = zero non-null values exist, the aggregate's null result. */
  private def footerExtreme(
      st: Array[Option[org.apache.parquet.hadoop.metadata.ColumnChunkMetaData]],
      dt: DataType, isMin: Boolean): Option[Any] = {
    if (dt != LongType && dt != IntegerType) return None
    if (st.exists(s => s.isEmpty || s.get.getStatistics == null ||
        s.get.getStatistics.isEmpty)) return None
    val vals = st.flatMap { s =>
      val stats = s.get.getStatistics
      if (!stats.hasNonNullValue) None
      else (if (isMin) stats.genericGetMin else stats.genericGetMax) match {
        case v: java.lang.Long => Some(v.longValue)
        case v: java.lang.Integer => Some(v.intValue.toLong)
        case _ => return None
      }
    }
    if (vals.isEmpty) Some(null)
    else {
      val ext = if (isMin) vals.min else vals.max
      Some(if (dt == IntegerType) ext.toInt else ext)
    }
  }

  override def build(): Scan = aggResult match {
    case Some((schema, values, desc)) =>
      GraftParquetAggScan(schema, values, desc)
    case None =>
      Dsv2Columnar.requireReadable(required)
      GraftParquetScan(path, required, pushed, maxRowGroupsPerTrigger, limit,
        versionAsOf, Some(view))
  }
}

/** THE table view: the one answer to "which data files, deletion
 * vectors, equality deletes, schema and versions make up this version
 * of the table at `path`". Every planning read of a graft table —
 * scans, the stream, the catalog's load, the write's base
 * ([[CommitLog.begin]]), maintenance, the metadata-delete proof — builds
 * one and reads it; nothing else lists a table directory for its
 * state. The rule: ONE directory listing; when it shows a commit log
 * ([[CommitLog]] manifests) the state is the MANIFEST's — the latest
 * version, or exactly `versionAsOf` (time travel) — and files present
 * in the directory but not in it (uncommitted, replaced, orphaned) are
 * invisible. A directory graft never wrote (plain parquet output, read
 * through the provider) serves its listing until a graft write imports
 * it; a missing path reads as an empty one. So no two facts of one view
 * can come from different versions, and a view pays one listing RPC
 * however many of them it consults. Built per scan or decision, never
 * cached on a table object. Equal by what it pins, so scans that share
 * one still compare by their fields. */
private[sources] final case class PlanningView(path: String,
    versionAsOf: Option[Long]) {
  @transient private lazy val listing: (Array[FileStatus], Boolean) = {
    val p = new Path(path)
    val fs = p.getFileSystem(Dsv2Parquet.readConf)
    try {
      val st = fs.getFileStatus(p)
      if (st.isDirectory) (fs.listStatus(p), true) else (Array(st), false)
    } catch {
      case _: java.io.FileNotFoundException => (Array.empty[FileStatus], true)
    }
  }

  /** The published commit-log versions, ascending (empty: no log). */
  @transient lazy val versions: Array[Long] =
    listing._1.flatMap(f => CommitLog.versionOf(f.getPath.getName)).sorted

  /** The pinned manifest: `versionAsOf`, else the latest; None for a
   * directory graft never wrote. An explicit version there fails
   * loudly — silently serving current state would misanswer a
   * time-travel query. */
  @transient lazy val snapshot: Option[CommitLog.Snapshot] = {
    val dir = new Path(path)
    versionAsOf match {
      case Some(v) =>
        require(versions.nonEmpty,
          s"graft-manifest: VERSION AS OF $v on $dir, which has no " +
            "commit log (graft has never written it)")
        Some(CommitLog.read(dir, v, Dsv2Parquet.readConf))
      case None => versions.lastOption.map(CommitLog.read(dir, _,
        Dsv2Parquet.readConf))
    }
  }

  /** The version's data files, in name order for a logged table. */
  @transient lazy val dataFiles: Array[FileStatus] = {
    val files = listing._1.filter { f =>
      val n = f.getPath.getName
      (!listing._2 || f.isFile) && n.endsWith(".parquet") &&
        !n.startsWith("_") && !n.startsWith(".")
    }
    snapshot.fold(files) { s =>
      val byName = files.map(f => f.getPath.getName -> f).toMap
      s.dataFiles.toArray.sorted.map(n => byName.getOrElse(n,
        throw new IllegalStateException(
          s"graft-manifest: version ${s.version} of $path references " +
            s"missing data file $n (expired or physically deleted)")))
    }
  }

  /** Each data file's row groups, keyed by the file's full path. */
  @transient lazy val footerBlocks
      : Array[(String, org.apache.parquet.hadoop.metadata.BlockMetaData)] =
    dataFiles.zip(Dsv2Parquet.fileFooters(dataFiles, Dsv2Parquet.readConf))
      .flatMap { case (f, (_, blocks, _)) =>
        blocks.map(b => f.getPath.toString -> b)
      }

  /** The pinned version's table schema ([[Dsv2Parquet.tableSchema]]);
   * the footers are read only when neither DDL exists. */
  @transient lazy val schema: StructType =
    snapshot.flatMap(_.meta.get("schema"))
      .orElse(Dsv2Parquet.declaredDdl(path))
      .fold(Dsv2Parquet.footerUnion(path, dataFiles))(StructType.fromDDL)

  /** Data file name → its deletion-vector sidecar paths: the
   * manifest's sidecars, or every sidecar a directory graft never wrote
   * lists. Shipped to readers, so a delta commit landing mid-query is
   * invisible, like any file-source snapshot. */
  @transient lazy val dvMap: Map[String, Array[String]] =
    snapshot.fold {
      listing._1.map(_.getPath)
        .flatMap(s => Dsv2Parquet.dvTarget(s.getName).map(_ -> s.toString))
        .groupBy(_._1).map { case (f, xs) => f -> xs.map(_._2) }
    }(_.dvMapUnder(new Path(path)))
}

/** The metadata-only aggregate scan: one partition, one row, values
 * already computed from footers on the driver. */
private[sources] case class GraftParquetAggScan(aggSchema: StructType,
    values: Array[Any], desc: String) extends Scan with Batch {
  override def readSchema(): StructType = aggSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftParquetAggScan PushedAggregates: [$desc]"
  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftAggPartition(values))
  override def createReaderFactory(): PartitionReaderFactory =
    GraftAggReaderFactory()
}

private[sources] case class GraftAggPartition(values: Array[Any])
    extends InputPartition

private[sources] case class GraftAggReaderFactory()
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var done = false
      override def next(): Boolean = { val r = !done; done = true; r }
      override def get(): InternalRow =
        new GenericInternalRow(p.asInstanceOf[GraftAggPartition].values)
      override def close(): Unit = ()
    }
}

private[sources] case class GraftParquetScan(path: String,
    required: StructType, pushed: Array[Filter],
    maxRowGroupsPerTrigger: Option[Int] = None,
    limit: Option[Int] = None,
    versionAsOf: Option[Long] = None,
    planned: Option[PlanningView] = None) extends Scan with Batch
    with SupportsRuntimeFiltering with SupportsReportStatistics
    with SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Streaming face of the same scan: column pruning and pushed
   * filters carry over unchanged; offsets index row groups. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftParquetMicroBatchStream(path, required, pushed,
      checkpointLocation, maxRowGroupsPerTrigger)

  /** Exact row count and uncompressed byte size from the cached
   * footers — what Spark's planner (join strategy selection, DPP
   * benefit estimation) consults instead of flying blind on a V2
   * relation. */
  override def estimateStatistics(): Statistics = new Statistics {
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(footerBlocks.map(_._2.getRowCount).sum)
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(footerBlocks.map(_._2.getTotalByteSize).sum)
  }

  /** Join-time filters, set by `BatchScanExec` AFTER planning: Spark
   * calls [[filter]] with the `In(joinKey, values)` it derived from the
   * broadcast side (dynamic partition pruning), then re-invokes
   * [[planInputPartitions]] through `toBatch` — which returns this same
   * instance, so the re-plan sees them. */
  @transient private var runtime: Array[Filter] = Array.empty

  /** The columns Spark may runtime-filter on — every leaf type this
   * scan can serve from statistics or record-level predicates. A live
   * Cassandra connector would list its partition-key columns here (the
   * token-range analogue); for parquet row groups every stats-bearing
   * column prunes. */
  override def filterAttributes(): Array[NamedReference] =
    required.fields.collect {
      case f if f.dataType == LongType || f.dataType == IntegerType ||
        f.dataType == StringType => Expressions.column(f.name)
    }

  override def filter(filters: Array[Filter]): Unit = {
    // keep what EITHER path can use: record-level parquet predicates
    // (translate) or driver-side row-group stats pruning — an integer
    // `In`, which also covers the empty and null IN that translate
    // can't express
    runtime = filters.filter {
      case In(_, vs) if vs.forall(v =>
          v == null || v.isInstanceOf[Long] || v.isInstanceOf[Int]) => true
      case f => Dsv2Parquet.translate(f, required).isDefined
    }
    Dsv2RuntimeProbe.forPath(path).filterCalls.incrementAndGet()
  }

  /** Explain surface: the audited plan tree must show what reached the
   * source, exactly like the built-in scan's PushedFilters/ReadSchema
   * lines. */
  override def description(): String =
    s"GraftParquetScan PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${required.catalogString}" +
      limit.map(l => s", PushedLimit: LIMIT $l").getOrElse("")

  /** Planning state, resolved ONCE per scan from one listing (the
   * builder's, when it built this scan): Spark plans partitions at
   * least twice when runtime filtering engages (initial plan, then the
   * post-[[filter]] re-plan), and the footer pass over a large file
   * count is itself real IO — the re-plan prunes from memory. */
  @transient private lazy val view =
    planned.getOrElse(PlanningView(path, versionAsOf))
  @transient private lazy val footerBlocks = view.footerBlocks

  /** Planning-time deletion vectors present ⇒ row counts are inexact —
   * gates limit truncation; readers get the map through the factory. */
  @transient private lazy val dvPresent: Boolean = view.dvMap.nonEmpty

  /** Planning-time EQUALITY-DELETE snapshot ([[Dsv2Equality]]): the
   * key fields and one bloom-gated key filter per sidecar. Non-empty ⇒
   * the readers synthesize position deletes from a narrow key pass at
   * range open and the limit/row-count shortcuts are off — transient
   * state compact_table folds away. */
  @transient private lazy val eqInfo: Option[(Array[StructField],
      Array[(Set[String], Dsv2Equality.KeyFilter)])] =
    // key fields resolve against the schema of THIS scan's version (the
    // latest may hold a different — even empty — file set), which
    // forSnapshot touches only once it finds a live sidecar
    Dsv2Equality.forSnapshot(path, view.snapshot, view.schema,
      Dsv2Parquet.readConf)
  @transient private lazy val eqPresent: Boolean = eqInfo.nonEmpty

  /** The clustered layout the pinned snapshot's files prove
   * ([[CommitLog.Snapshot.claimedLayout]]), with the manifest's bucket
   * id of every data file. A table with no row group reports no
   * partitioning (a zero-partition KeyGroupedPartitioning is not a
   * layout claim). */
  @transient private lazy val clusteringInfo
      : Option[(CommitLog.Layout, Map[String, Int])] =
    view.snapshot.flatMap(s => s.claimedLayout.map(_ -> s.buckets))
      .filter(_ => footerBlocks.nonEmpty)

  /** STORAGE-PARTITIONED JOIN surface (SupportsReportPartitioning):
   * a version whose files a clustered write placed through the
   * sink-demanded `graft.clusterBy` exchange reads back with its hash
   * layout CLAIMED — each file is one bucket of murmur3(clusterCols)
   * pmod N, recorded per file in the manifest, so Spark's key-grouped
   * planning co-locates equal buckets of two such tables and the
   * reconcile full-outer SMJ plans with ZERO exchanges (the DSv2 twin
   * of the bucketed-catalog configuration; at 100 TB the eliminated
   * exchange IS the network cost of the join). The claim is derived
   * from the scan's pinned version, never declared: time travel and
   * rollback see their own version's layout. The `bucket` transform
   * resolves against [[GraftCatalog]]'s FunctionCatalog, whose bound
   * function replicates the writer-side hash exactly. */
  override def outputPartitioning(): Partitioning = clusteringInfo match {
    case Some((l, buckets)) =>
      // the distinct ids present are the partitioning's width — empty
      // buckets simply have no partitions, which Spark's partition-value
      // push handles on the join side
      new KeyGroupedPartitioning(
        Array(Expressions.bucket(l.width, l.cols: _*)),
        footerBlocks.map(fb => buckets(new Path(fb._1).getName))
          .distinct.length)
    case None => new UnknownPartitioning(0)
  }

  /** The recorded WITHIN-FILE sort (`graft.sortWithin` at write time),
   * reported so a key-grouped SMJ can skip its per-partition sorts —
   * Spark honors it only when every key group holds exactly one
   * partition (a concatenation of row groups makes no order claim),
   * which a one-file-per-bucket clustered write satisfies. Empty when
   * the layout makes no sort claim. */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    clusteringInfo match {
      case Some((l, _)) =>
        l.sortWithin.map(c => Expressions.sort(Expressions.column(c),
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
          .toArray
      case None => Array.empty
    }

  override def planInputPartitions(): Array[InputPartition] = {
    val survivors = footerBlocks.filter { case (_, b) =>
      // one partition per row group, addressed by byte range —
      // parquet selects row groups by midpoint offset;
      // runtime-filtered re-plans drop row groups whose footer
      // min/max exclude every join-side value BEFORE any task
      // launches (the IO win dynamic pruning exists for), and PUSHED
      // band predicates prune the same way (driver-side, so a pruned
      // row group never launches a task)
      Dsv2Parquet.blockMayMatchFilters(b, pushed ++ runtime)
    }
    // pushed-limit row-group truncation: with NO predicate in play
    // (pushed or runtime — either makes per-group yield unknowable),
    // footer row counts say exactly how many leading row groups cover
    // the limit; the rest never become tasks. Spark's own Limit on
    // top takes the final cut (partial pushdown).
    val limited = limit match {
      case Some(l) if pushed.isEmpty && runtime.isEmpty && !dvPresent &&
          !eqPresent =>
        var need = l.toLong
        survivors.takeWhile { case (_, b) =>
          val take = need > 0L
          need -= b.getRowCount
          take
        }
      case _ => survivors
    }
    val parts: Array[InputPartition] = clusteringInfo match {
      case Some((_, buckets)) =>
        // keyed partitions: Spark groups same-bucket row groups into
        // one task under spark.sql.sources.v2.bucketing.enabled
        limited.map { case (file, b) =>
          GraftParquetBucketPartition(file, b.getStartingPos,
            b.getStartingPos + b.getCompressedSize,
            buckets(new Path(file).getName)): InputPartition
        }
      case None =>
        // SMALL-SPLIT PACKING (the builtin source's discipline, and
        // the 100k-file survival trait): one task per row group is
        // right for 128 MB row groups and pathological for a directory
        // of small files — per-task scheduling + footer-open overhead
        // dominates decode. Pack row groups greedily into splits of
        // Spark's own target size formula (maxPartitionBytes capped,
        // floored by openCost, spread over default parallelism), each
        // range still byte-addressed so a packed reader chain touches
        // exactly its row groups.
        val sqlConf = org.apache.spark.sql.internal.SQLConf.get
        val openCost = sqlConf.filesOpenCostInBytes
        val par = math.max(1, org.apache.spark.sql.SparkSession.active
          .sparkContext.defaultParallelism)
        val totalBytes =
          limited.map(_._2.getCompressedSize + openCost).sum
        val target = math.min(sqlConf.filesMaxPartitionBytes,
          math.max(openCost, totalBytes / par))
        val packed = scala.collection.mutable.ArrayBuffer
          .empty[scala.collection.mutable.ArrayBuffer[GraftParquetPartition]]
        var acc = 0L
        limited.foreach { case (file, b) =>
          val cost = b.getCompressedSize + openCost
          if (packed.isEmpty || acc + cost > target) {
            packed += scala.collection.mutable.ArrayBuffer.empty
            acc = 0L
          }
          packed.last += GraftParquetPartition(file, b.getStartingPos,
            b.getStartingPos + b.getCompressedSize)
          acc += cost
        }
        packed.map { rs =>
          (if (rs.length == 1) rs.head
           else GraftParquetPackedPartition(rs.toArray)): InputPartition
        }.toArray
    }
    Dsv2RuntimeProbe.forPath(path).lastPlanned.set(footerBlocks.length)
    // kept counts ROW GROUPS (the pruning evidence), not packed tasks
    Dsv2RuntimeProbe.forPath(path).lastKept.set(limited.length)
    parts
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // runtime filters ride along as record-level predicates too: a
    // kept row group may still skip pages/records on them. BatchScanExec
    // resolves filtered partitions before building the reader factory,
    // so `runtime` is populated here whenever pruning ran. Correctness
    // never depends on it: the join that produced the filter re-checks
    // every surviving row. The requested projection is resolved against
    // EACH FILE's own schema when its reader opens — one directory may
    // mix writers whose column sets and repetitions differ.
    GraftParquetReaderFactory(required, pushed ++ runtime,
      // reader-level early stop counts PRE-probe rows — with equality
      // deletes in play Spark's own Limit takes the whole cut
      if (eqPresent) None else limit,
      dvMap = view.dvMap,
      eqKeyFields = eqInfo.map(_._1).getOrElse(Array.empty),
      eqFilters = eqInfo.map(_._2).getOrElse(Array.empty))
  }
}

/** Observability for the runtime-filtering path (spec + plan-audit
 * surface only — never read by query logic): how many times Spark
 * handed this scan a join-time filter, and the planned vs kept row
 * groups of the latest re-plan. */
object Dsv2RuntimeProbe {
  final class PathProbe {
    val filterCalls = new java.util.concurrent.atomic.AtomicInteger
    val lastPlanned = new java.util.concurrent.atomic.AtomicInteger
    val lastKept = new java.util.concurrent.atomic.AtomicInteger
    /** Rows ADMITTED by parquet's filtered reads across the columnar
     * readers of this path (cumulative; reset between measurements) —
     * rowsAdmitted ≪ nominal rows of the kept row groups is the
     * page-index skip evidence. */
    val rowsAdmitted = new java.util.concurrent.atomic.AtomicLong
    /** Chunks decoded in dictionary-id mode (cumulative). */
    val dictChunks = new java.util.concurrent.atomic.AtomicInteger
    def reset(): Unit = {
      filterCalls.set(0); lastPlanned.set(0); lastKept.set(0)
      rowsAdmitted.set(0L); dictChunks.set(0)
    }
  }
  private val byPath =
    new java.util.concurrent.ConcurrentHashMap[String, PathProbe]()
  /** Keyed by scan path so concurrently-planned scans (parallel test
   * suites, parallel queries) cannot clobber each other's readings. */
  def forPath(p: String): PathProbe =
    byPath.computeIfAbsent(p.stripSuffix("/"), _ => new PathProbe)
}

private[sources] case class GraftMetadataColumn(name: String,
    dataType: DataType, nullable: Boolean = true) extends MetadataColumn {
  /** `_file`/`_pos` are per-row constants the readers always produce —
   * non-nullable, which is also what qualifies them as SupportsDelta
   * ROW ID attributes; provenance columns stay nullable. */
  override def isNullable: Boolean = nullable
  override def comment(): String =
    "cell provenance (reference writetime()/ttl() scan surface)"
}

private[sources] case class GraftParquetPartition(file: String, start: Long,
    end: Long) extends InputPartition

/** Several small row-group ranges packed into ONE task (see the
 * packing note in [[GraftParquetScan.planInputPartitions]]); the
 * reader factory chains one reader per range. */
private[sources] case class GraftParquetPackedPartition(
    ranges: Array[GraftParquetPartition]) extends InputPartition

/** A row-group partition of a layout-claiming scan: carries the
 * file's bucket id as its partition key so key-grouped planning can
 * co-locate it with the matching bucket of another clustered scan. */
private[sources] case class GraftParquetBucketPartition(file: String,
    start: Long, end: Long, bucket: Int)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucket))
}

private[sources] case class GraftParquetReaderFactory(
    required: StructType, pushed: Array[Filter],
    limit: Option[Int] = None,
    /** data file name → DV sidecar paths, from the scan's planning-time
     * listing (snapshot semantics); empty for DV-free tables. */
    dvMap: Map[String, Array[String]] = Map.empty,
    /** EQUALITY-DELETE snapshot ([[Dsv2Equality]]): the table's key
     * fields and one shared bloom-gated filter per sidecar with its
     * target file set, translated to position deletes at range open
     * ([[eqDeadPositions]]). */
    eqKeyFields: Array[StructField] = Array.empty,
    eqFilters: Array[(Set[String], Dsv2Equality.KeyFilter)] = Array.empty)
    extends PartitionReaderFactory {

  private def dvOf(p: GraftParquetPartition): Array[String] =
    if (dvMap.isEmpty) Array.empty
    else dvMap.getOrElse(new Path(p.file).getName, Array.empty)
  /** All partition shapes read through the same per-range readers —
   * the bucket id is planner-side metadata, not reader state, and a
   * packed partition is a CHAIN of ranges. */
  private def ranges(p: InputPartition): Array[GraftParquetPartition] =
    p match {
      case gp: GraftParquetPartition => Array(gp)
      case b: GraftParquetBucketPartition =>
        Array(GraftParquetPartition(b.file, b.start, b.end))
      case pk: GraftParquetPackedPartition => pk.ranges
    }

  private def open(r: GraftParquetPartition): PartitionReader[ColumnarBatch] =
    new GraftColumnarPartitionReader(r, required, pushed, limit,
      dvOf(r), eqDeadPositions(r))

  /** Drain one reader per range in order; ranges after the first open
   * lazily, so a pushed-limit early stop never opens them. */
  private final class ChainedReader(rs: Array[GraftParquetPartition])
      extends PartitionReader[ColumnarBatch] {
    private var idx = 0
    private var cur: PartitionReader[ColumnarBatch] =
      if (rs.nonEmpty) open(rs(0)) else null
    override def next(): Boolean = {
      while (cur != null) {
        if (cur.next()) return true
        cur.close()
        idx += 1
        cur = if (idx < rs.length) open(rs(idx)) else null
      }
      false
    }
    override def get(): ColumnarBatch = cur.get()
    override def close(): Unit = if (cur != null) { cur.close(); cur = null }
  }

  /** Every scan decodes columnar ([[createColumnarReader]]); Spark
   * still requires the row entry point. */
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException(
      "graft-parquet: scans are columnar only")

  override def supportColumnarReads(p: InputPartition): Boolean = true

  /** EQUALITY deletes → POSITION deletes, per range: read ONLY the
   * key columns (+ `_pos`) of this range, probe each key against the
   * filters targeting this file, and hand the dead rows' file-absolute
   * positions to the columnar reader's DV skip. The FULL projection
   * decodes at full speed; untargeted files (rows inserted after the
   * repair — the exemption that makes upsert work) pay nothing;
   * targeted files pay one narrow key pass. Transient either way —
   * compact_table folds the sidecars and removes even the key pass. */
  private def eqDeadPositions(r: GraftParquetPartition): Array[Long] = {
    if (eqFilters.isEmpty) return Array.empty
    val applicable = eqFilters.collect {
      case (targets, f) if targets.contains(new Path(r.file).getName) => f
    }
    if (applicable.isEmpty) return Array.empty
    val keySchema = StructType(eqKeyFields :+
      StructField(Dsv2Parquet.PosMetaColumn,
        org.apache.spark.sql.types.LongType))
    val idx = eqKeyFields.indices.toArray
    val types = eqKeyFields.map(_.dataType)
    val posIdx = eqKeyFields.length
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    // single-INTEGRAL-key fast path (the common repair shape): raw
    // long probe against sorted tables — no per-row canonical string.
    // Gated on the TABLE's key type: a string key's canonical form
    // could parse as a number, so only integral columns take this path
    val longTables: Array[Array[Long]] =
      if (eqKeyFields.length == 1 && (eqKeyFields(0).dataType match {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.ByteType => true
        case _ => false
      })) applicable.flatMap(_.longTable)
      else Array.empty
    val fastLong = longTables.length == applicable.length &&
      applicable.nonEmpty
    // the key pass itself is VECTORIZED (key types are always
    // columnar-supported: integral/string, plus the long `_pos`)
    val rd = new GraftColumnarPartitionReader(r, keySchema)
    try {
      while (rd.next()) {
        val it = rd.get().rowIterator()
        while (it.hasNext) {
          val row = it.next()
          if (fastLong) {
            // null keys never match (the writer refuses null keys)
            if (!row.isNullAt(0)) {
              val v = types(0) match {
                case org.apache.spark.sql.types.LongType => row.getLong(0)
                case org.apache.spark.sql.types.IntegerType =>
                  row.getInt(0).toLong
                case org.apache.spark.sql.types.ShortType =>
                  row.getShort(0).toLong
                case _ => row.getByte(0).toLong
              }
              var i = 0
              var hit = false
              while (!hit && i < longTables.length) {
                hit = java.util.Arrays.binarySearch(longTables(i), v) >= 0
                i += 1
              }
              if (hit) out += row.getLong(posIdx)
            }
          } else {
            val k = Dsv2Equality.canonicalOf(row, idx, types)
            var i = 0
            var hit = false
            while (!hit && i < applicable.length) {
              hit = applicable(i).contains(k); i += 1
            }
            if (hit) out += row.getLong(posIdx)
          }
        }
      }
    } finally rd.close()
    out.toArray
  }

  override def createColumnarReader(
      p: InputPartition): PartitionReader[ColumnarBatch] = {
    val rs = ranges(p)
    if (rs.length == 1) open(rs(0)) else new ChainedReader(rs)
  }
}

private[graft] object Dsv2Parquet {
  /** One JVM-wide READ Configuration: constructing a Hadoop
   * Configuration parses the default XML resources — measured
   * ~10-14 ms, which per-reader construction made the DOMINANT cost of
   * small-row-group scans (open 0.88s vs decode 0.34s over 64 files in
   * the r18 open-cost probe). The readers treat it strictly read-only;
   * concurrent gets are safe. Never handed to code that mutates. */
  lazy val readConf: Configuration = new Configuration()

  /** Option key carrying a Spark DDL schema — the stand-in for the
   * cluster catalog a live connector would consult. */
  val SchemaOption = "graft.schema"

  /** Streaming admission-control option: max row groups per
   * micro-batch (the connector analogue of maxFilesPerTrigger). */
  val MaxRowGroupsPerTriggerOption = "graft.maxRowGroupsPerTrigger"

  /** Read option: pin the scan to one published [[CommitLog]] version
   * (time travel). SQL `VERSION AS OF n` resolves to the same thing
   * through the catalog's versioned loadTable. */
  val VersionAsOfOption = "graft.versionAsOf"

  /** Table property naming the [[CommitLog]] (versioned manifests, CAS
   * commits, snapshot isolation, time travel). Every graft table has
   * the log, so the only accepted value is 'true': manifests ARE the
   * table state — deleting them would resurrect every orphaned file the
   * log had retired. */
  val CommitLogProperty = "graft.commit.log"

  /** Write options requesting a sink-driven exchange: ordered (range
   * partition + sort — disjoint sorted files) or clustered (hash —
   * one key, one task). Comma-separated column lists. */
  val OrderByOption = "graft.orderBy"
  val ClusterByOption = "graft.clusterBy"
  val NumPartitionsOption = "graft.numPartitions"

  /** With clusterBy: additionally sort WITHIN each bucket's task, so
   * every committed file is internally ordered — the layout that lets
   * a storage-partitioned SMJ skip its per-partition sorts. */
  val SortWithinOption = "graft.sortWithin"

  /** Write option: comma-separated columns to build parquet BLOOM
   * FILTERS for — the missing rung of the selective-scan ladder for
   * HIGH-cardinality point lookups, where min/max can't prune an
   * unsorted layout and the dictionary overflows to plain encoding.
   * Readers exploit them automatically: a flat scan opens with a
   * record filter, and parquet's row-group filtering consults blooms
   * (executor-side — footer stats stay the driver-side prune). */
  val BloomForOption = "graft.bloomFor"

  /** Expected distinct values per bloom column (sizing hint): parquet
   * defaults to 1M NDV (~1.2 MB of bloom per chunk), which at small
   * row groups costs more IO than it saves — size it to the real
   * per-file cardinality. */
  val BloomNdvOption = "graft.bloomNdv"

  /** The declared-schema file, the cluster-metadata stand-in: catalog
   * CREATE / ALTER and a delete that empties the table write it
   * ([[declareSchema]]); [[declaredDdl]] reads it. No other code
   * touches it. */
  private[sources] val SchemaFileName = "_schema.ddl"

  /** The table's declared schema DDL (`_schema.ddl`), if it has one. */
  private[sources] def declaredDdl(path: String): Option[String] = {
    val p = new Path(path, SchemaFileName)
    val fs = p.getFileSystem(readConf)
    if (fs.exists(p)) Some(readText(fs, p)).filter(_.nonEmpty) else None
  }

  /** Declare `schema` as the table's (`_schema.ddl`), atomically: write
   * to a temp name, then rename over the file — the same discipline the
   * data-file committer uses — so a reader racing an ALTER can never
   * observe a truncated or empty schema file (`StructType.fromDDL` would
   * crash on torn bytes). Rename-over-existing is atomic on the local
   * and HDFS filesystems this targets; concurrent declarations remain
   * last-writer-wins (single-writer DDL is the documented discipline,
   * as for any file-backed catalog without a lock service). */
  private[sources] def declareSchema(path: String, schema: StructType): Unit = {
    val fs = new Path(path).getFileSystem(readConf)
    fs.mkdirs(new Path(path))
    val tmp = new Path(path,
      s"$SchemaFileName.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(schema.toDDL.getBytes("UTF-8")) finally out.close()
    // Hadoop's RawLocalFileSystem.rename refuses to clobber an existing
    // destination, so route through java.nio ATOMIC_MOVE for local
    // paths and delete-then-rename elsewhere (the non-local window is
    // the pre-existing one; local — every test and local[] deployment —
    // is genuinely atomic)
    val dst = new Path(path, SchemaFileName)
    val local = fs.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem] ||
      fs.isInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem]
    if (local) {
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(dst.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    } else {
      if (fs.exists(dst)) fs.delete(dst, false)
      require(fs.rename(tmp, dst), s"graft-parquet: DDL rename failed for $path")
    }
  }

  /** A small metadata file's whole text (manifest, DDL, ledger). */
  private[sources] def readText(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** `_file` metadata column: the data file a row came from — the
   * group identity row-level operations regroup by (and the standard
   * connector debugging surface). Served as a per-partition constant;
   * never a physical column. */
  val FileMetaColumn = "_file"

  /** `_pos` metadata column: a row's FILE-ABSOLUTE row index — the
   * second half of the (file, position) row identity merge-on-read
   * delta writes address deletes by. Served by the columnar reader's
   * decode cursor, which reads the full sequential row stream whenever
   * `_pos` is projected; never a physical column. */
  val PosMetaColumn = "_pos"

  // ---- deletion-vector sidecars (merge-on-read row-level ops) ----
  // `_dv-<datafile>-<uuid>.bin` beside its data file: sorted
  // file-absolute row positions the scan must drop. Format: magic,
  // count, longs. Each delta COMMIT stages its own IMMUTABLE sidecar
  // (promoted with its commit, never read-modify-write), and readers union
  // every sidecar of their file — so concurrent delta commits COMMUTE
  // (set union): no lost deletes without any lock service, the
  // Iceberg multiple-delete-files stance. Sidecars die with their
  // data file (drop/overwrite/rewrite/compaction). A 100 TB
  // deployment would use a compressed bitmap (roaring) per sidecar;
  // the PROTOCOL is the industry-standard shape.
  val DvPrefix = "_dv-"
  private val DvMagic = 0x47445631 // "GDV1"

  /** Table property selecting the row-level operation mode; persisted
   * by the catalog in the `_props` sidecar. */
  val MergeModeProperty = "graft.merge.mode"
  val MergeOnRead = "merge-on-read"
  val CopyOnWrite = "copy-on-write"

  /** Table-properties sidecar (`k=v` lines), written by createTable
   * for the graft.* properties it honors. */
  val PropsFileName = "_props"

  /** JVM-wide deletion-vector cache. Sidecars are IMMUTABLE once
   * promoted, so the (path, mtime, length) key can never serve stale
   * positions; absence is never cached (readers get the sidecar LIST
   * from the driver's planning-time listing — snapshot semantics). */
  private val dvCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, Long, Array[Long])]()

  /** One sidecar's sorted positions (cached). */
  def readDvSidecar(sidecar: Path, conf: Configuration): Array[Long] = {
    val fs = sidecar.getFileSystem(conf)
    val st = fs.getFileStatus(sidecar)
    val key = sidecar.toString
    val hit = dvCache.get(key)
    if (hit != null && hit._1 == st.getModificationTime &&
        hit._2 == st.getLen) hit._3
    else {
      val in = new java.io.DataInputStream(fs.open(sidecar))
      val out = try {
        require(in.readInt() == DvMagic,
          s"graft-parquet: corrupt deletion vector $sidecar")
        val n = in.readInt()
        val arr = new Array[Long](n)
        var i = 0
        while (i < n) { arr(i) = in.readLong(); i += 1 }
        arr
      } finally in.close()
      if (dvCache.size > 16384) dvCache.clear()
      dvCache.put(key, (st.getModificationTime, st.getLen, out))
      out
    }
  }

  /** Union of a file's sidecars: sorted, deduplicated. */
  def readDvUnion(sidecars: Array[String],
      conf: Configuration): Array[Long] =
    if (sidecars.isEmpty) Array.empty
    else sidecars.flatMap(s => readDvSidecar(new Path(s), conf))
      .distinct.sorted

  /** Write ONE commit's positions for one data file as a fresh
   * immutable sidecar under `dir` (a commit's staging dir) and return
   * its unique name; it is invisible until a manifest names it. */
  def writeDvSidecar(dir: Path, dataFileName: String,
      positions: Array[Long], conf: Configuration): String = {
    val name = s"$DvPrefix$dataFileName-${java.util.UUID.randomUUID()}.bin"
    val out = new java.io.DataOutputStream(
      dir.getFileSystem(conf).create(new Path(dir, name), true))
    try {
      out.writeInt(DvMagic)
      out.writeInt(positions.length)
      positions.foreach(out.writeLong)
    } finally out.close()
    name
  }

  /** `_dv-<datafile>-<uuid>.bin` → `<datafile>`; data file names always
   * end in .parquet (and contain hyphens, as does the uuid), so the
   * unambiguous cut is after the LAST ".parquet" before the uuid. */
  def dvTarget(sidecarName: String): Option[String] =
    if (!sidecarName.startsWith(DvPrefix) || !sidecarName.endsWith(".bin"))
      None
    else {
      val n = sidecarName.stripPrefix(DvPrefix).stripSuffix(".bin")
      val cut = n.lastIndexOf(".parquet-")
      if (cut < 0) None
      else Some(n.substring(0, cut + ".parquet".length))
    }

  /** Metadata-column name → the physical wide column carrying its
   * bytes: `writetime(c)` ↔ `writetime_c`, `ttl(c)` ↔ `ttl_c` (the
   * SupportsMetadataColumns surface on [[GraftParquetTable]]). Any
   * other name is already physical. */
  private val WtMeta = "writetime\\((.+)\\)".r
  private val TtlMeta = "ttl\\((.+)\\)".r
  def physicalName(name: String): String = name match {
    case WtMeta(c) => s"writetime_$c"
    case TtlMeta(c) => s"ttl_$c"
    case n => n
  }

  /** Spark schema → parquet message type, the exact inverse of
   * [[sparkSchema]]: every field an optional primitive, strings as
   * UTF8-annotated BINARY. Unsupported Spark types fail fast at write
   * planning, mirroring the read side's posture. */
  /** Bytes needed for a two's-complement decimal of the given
   * precision (parquet FLBA sizing; 16 covers precision 38). */
  def decimalFlbaBytes(precision: Int): Int =
    (1 to 16).find(n => math.pow(10, precision) - 1 <=
      math.pow(2, 8 * n - 1) - 1).getOrElse(16)

  private def primitiveBuilder(dt: DataType, name: String,
      rep: Type.Repetition = Type.Repetition.OPTIONAL)
      : org.apache.parquet.schema.Types.PrimitiveBuilder[PrimitiveType] = {
    import org.apache.parquet.schema.Types.primitive
    dt match {
      case LongType => primitive(PrimitiveTypeName.INT64, rep)
      case IntegerType => primitive(PrimitiveTypeName.INT32, rep)
      case DoubleType => primitive(PrimitiveTypeName.DOUBLE, rep)
      case FloatType => primitive(PrimitiveTypeName.FLOAT, rep)
      case BooleanType => primitive(PrimitiveTypeName.BOOLEAN, rep)
      case StringType => primitive(PrimitiveTypeName.BINARY, rep)
        .as(LogicalTypeAnnotation.stringType())
      case BinaryType => primitive(PrimitiveTypeName.BINARY, rep)
      case DateType => primitive(PrimitiveTypeName.INT32, rep)
        .as(LogicalTypeAnnotation.dateType())
      case TimestampType => primitive(PrimitiveTypeName.INT64, rep)
        .as(LogicalTypeAnnotation.timestampType(true,
          LogicalTypeAnnotation.TimeUnit.MICROS))
      case TimestampNTZType => primitive(PrimitiveTypeName.INT64, rep)
        .as(LogicalTypeAnnotation.timestampType(false,
          LogicalTypeAnnotation.TimeUnit.MICROS))
      case ShortType => primitive(PrimitiveTypeName.INT32, rep)
        .as(LogicalTypeAnnotation.intType(16, true))
      case ByteType => primitive(PrimitiveTypeName.INT32, rep)
        .as(LogicalTypeAnnotation.intType(8, true))
      case d: DecimalType if d.precision <= 9 =>
        primitive(PrimitiveTypeName.INT32, rep)
          .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision))
      case d: DecimalType if d.precision <= 18 =>
        primitive(PrimitiveTypeName.INT64, rep)
          .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision))
      case d: DecimalType =>
        primitive(PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY, rep)
          .length(decimalFlbaBytes(d.precision))
          .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision))
      case other => throw new UnsupportedOperationException(
        s"graft-parquet: unsupported write type $other ($name)")
    }
  }

  def parquetMessageType(schema: StructType): MessageType = {
    val b = org.apache.parquet.schema.Types.buildMessage()
    schema.fields.foreach { f =>
      val t: Type = f.dataType match {
        case ArrayType(elem, _) =>
          // the standard 3-level LIST shape Spark itself writes
          org.apache.parquet.schema.Types.optionalList()
            .element(primitiveBuilder(elem, f.name).named("element"))
            .named(f.name)
        case MapType(k, v, _) =>
          // the standard 3-level MAP shape: required key, optional value
          org.apache.parquet.schema.Types.optionalGroup()
            .as(LogicalTypeAnnotation.mapType())
            .addField(org.apache.parquet.schema.Types.repeatedGroup()
              .addField(primitiveBuilder(k, f.name,
                Type.Repetition.REQUIRED).named("key"))
              .addField(primitiveBuilder(v, f.name).named("value"))
              .named("key_value"))
            .named(f.name)
        case dt => primitiveBuilder(dt, f.name).named(f.name)
      }
      b.addField(t)
    }
    b.named("graft")
  }

  /** Per-file DELETE-WHERE decisions from footer statistics: Some((
   * dropFiles, keepFiles)) when EVERY data file is provably all-match
   * or none-match under the conjunction; None (refuse) when any file
   * is undecidable, any filter form is unsupported, or the filter list
   * is empty. Supported forms: </, <=, >, >=, = on int/long columns
   * with present statistics; a row group with nulls in the filtered
   * column can never be all-match (nulls don't satisfy comparisons).
   * The proof covers exactly `view`'s data files. */
  def deleteDecisions(view: PlanningView,
      filters: Array[Filter]): Option[(Array[Path], Array[Path])] = {
    if (filters.isEmpty) return None
    sealed trait Tri
    case object All extends Tri
    case object NoneM extends Tri
    case object Unknown extends Tri
    val conf = Dsv2Parquet.readConf

    def colStats(b: org.apache.parquet.hadoop.metadata.BlockMetaData,
        c: String): Option[(Long, Long, Long)] =
      b.getColumns.asScala.find(_.getPath.toDotString == c).flatMap { cc =>
        val st = cc.getStatistics
        if (st == null || st.isEmpty || !st.hasNonNullValue) None
        else (st.genericGetMin, st.genericGetMax) match {
          case (mn: java.lang.Long, mx: java.lang.Long) =>
            Some((mn.longValue, mx.longValue, st.getNumNulls))
          case (mn: java.lang.Integer, mx: java.lang.Integer) =>
            Some((mn.longValue, mx.longValue, st.getNumNulls))
          case _ => None
        }
      }

    def lit(v: Any): Option[Long] = v match {
      case x: Long => Some(x)
      case x: Int => Some(x.toLong)
      case _ => None
    }

    def one(b: org.apache.parquet.hadoop.metadata.BlockMetaData,
        f: Filter): Tri = {
      def cmp(n: String, v: Any,
          all: (Long, Long, Long) => Boolean,
          none: (Long, Long, Long) => Boolean): Tri =
        (colStats(b, n), lit(v)) match {
          case (Some((mn, mx, nulls)), Some(x)) =>
            if (none(mn, mx, x)) NoneM
            else if (nulls == 0 && all(mn, mx, x)) All
            else Unknown
          case _ => Unknown
        }
      f match {
        // TRUNCATE TABLE arrives as deleteWhere(AlwaysTrue): every row
        // matches trivially, no stats needed
        case org.apache.spark.sql.sources.AlwaysTrue() => All
        case LessThan(n, v) => cmp(n, v,
          (_, mx, x) => mx < x, (mn, _, x) => mn >= x)
        case LessThanOrEqual(n, v) => cmp(n, v,
          (_, mx, x) => mx <= x, (mn, _, x) => mn > x)
        case GreaterThan(n, v) => cmp(n, v,
          (mn, _, x) => mn > x, (_, mx, x) => mx <= x)
        case GreaterThanOrEqual(n, v) => cmp(n, v,
          (mn, _, x) => mn >= x, (_, mx, x) => mx < x)
        case EqualTo(n, v) => cmp(n, v,
          (mn, mx, x) => mn == x && mx == x,
          (mn, mx, x) => x < mn || x > mx)
        case _ => Unknown
      }
    }

    val files = view.dataFiles
    val drop = scala.collection.mutable.ArrayBuffer.empty[Path]
    val keep = scala.collection.mutable.ArrayBuffer.empty[Path]
    val footers = fileFooters(files, conf)
    files.zip(footers).foreach { case (fstat, (_, blockArr, _)) =>
      val blocks = blockArr.toSeq
      // conjunction per row group: any NoneM filter → no row matches;
      // all All → every row matches; else unknown
      val rgs = blocks.map { b =>
        val ts = filters.map(one(b, _))
        if (ts.contains(NoneM)) NoneM
        else if (ts.forall(_ == All)) All
        else Unknown
      }
      if (rgs.forall(_ == All)) drop += fstat.getPath
      else if (rgs.forall(_ == NoneM)) keep += fstat.getPath
      else return None
    }
    Some((drop.toArray, keep.toArray))
  }

  /** The names of the data files a commit on `cur` retires under
   * `filters` — [[deleteDecisions]] proved inside the CAS closure over
   * exactly `cur`'s files, so a file landed since planning is decided
   * too; None when one no longer is. The empty unpublished version 0
   * retires nothing. */
  def retiredBy(path: String, cur: CommitLog.Snapshot,
      filters: Array[Filter]): Option[Set[String]] =
    if (cur.version == 0L) Some(Set.empty)
    else deleteDecisions(PlanningView(path, Some(cur.version)), filters)
      .map(_._1.map(_.getName).toSet)

  def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "graft-parquet requires a path")
    p
  }

  /** JVM-wide parquet FOOTER cache + parallel cold reads — the scan-
   * SETUP cost at fleet scale (r17 smoke: planning a 64-file scan
   * spent ~0.6s of DRIVER wall opening footers one at a time, ~4× the
   * actual decode; at 100k files that serial pass would dominate the
   * job). Keyed by (path, mtime, length) — the same staleness
   * discipline as Spark's own file-index caches: an in-place rewrite
   * preserving both fields within timestamp granularity could serve
   * stale metadata, which the commit protocol never does (files are
   * immutable once renamed in; replacements get fresh names). Entries
   * are (schema, row groups, createdBy) — everything schema inference,
   * partition planning, statistics, and the columnar reader need. */
  private val footerCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, Long, MessageType,
      Array[org.apache.parquet.hadoop.metadata.BlockMetaData], String)]()

  def fileFooter(f: FileStatus, conf: Configuration)
      : (MessageType, Array[org.apache.parquet.hadoop.metadata.BlockMetaData], String) = {
    val key = f.getPath.toString
    val hit = footerCache.get(key)
    if (hit != null && hit._1 == f.getModificationTime && hit._2 == f.getLen)
      (hit._3, hit._4, hit._5)
    else {
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      val out = try {
        val ft = r.getFooter
        (ft.getFileMetaData.getSchema,
          ft.getBlocks.asScala.toArray,
          ft.getFileMetaData.getCreatedBy)
      } finally r.close()
      // crude bound: the cache exists for re-planned/re-run scans, not
      // as a metastore — a blow-away at the cap keeps it O(1) memory
      if (footerCache.size > 16384) footerCache.clear()
      footerCache.put(key, (f.getModificationTime, f.getLen,
        out._1, out._2, out._3))
      out
    }
  }

  /** All files' footers, cold reads in parallel (common ForkJoin pool
   * — footer IO is tiny and independent; 64 serial ~9ms opens become
   * one parallel wave). Order follows `files`. */
  def fileFooters(files: Array[FileStatus], conf: Configuration)
      : Array[(MessageType, Array[org.apache.parquet.hadoop.metadata.BlockMetaData], String)] = {
    val out = new Array[(MessageType,
      Array[org.apache.parquet.hadoop.metadata.BlockMetaData], String)](files.length)
    java.util.stream.IntStream.range(0, files.length).parallel()
      .forEach(i => out(i) = fileFooter(files(i), conf))
    out
  }

  /** One file's schema from its own footer (executor-side, per task;
   * served from the JVM footer cache — the tasks of a multi-row-group
   * file share one footer read per executor). */
  def singleFileSchema(file: String): MessageType = {
    val conf = readConf
    val p = new Path(file)
    fileFooter(p.getFileSystem(conf).getFileStatus(p), conf)._1
  }

  /** THE schema of the graft table at `path` as of `versionAsOf` (None:
   * the latest) — the one rule every reader, writer and maintenance job
   * takes a table's columns from, standing in for the reference's
   * cluster-metadata discovery (MvSync.java:171-214). The first of:
   *  1. the DDL recorded in that version's manifest, so time travel
   *     serves the as-of schema: a column added later does not leak in;
   *  2. the declared `_schema.ddl` ([[declaredDdl]]), which after ALTER
   *     TABLE ADD COLUMN is wider than every file (the reader null-fills
   *     what a file lacks);
   *  3. the UNION of that version's live files' footers — a path-written
   *     table that never declared. The union, not whichever file lists
   *     first: a schema-evolved directory holds wider files beside older
   *     narrow ones. A same-name column whose Spark type differs across
   *     files fails fast — silently picking one decode would corrupt the
   *     other files' bytes.
   * A table with none of the three fails ("no parquet data files"). */
  def tableSchema(path: String, versionAsOf: Option[Long]): StructType =
    PlanningView(path, versionAsOf).schema

  private[sources] def footerUnion(path: String,
      files: Array[FileStatus]): StructType = {
    require(files.nonEmpty, s"no parquet data files under $path")
    fileFooters(files, readConf).map { case (schema, _, _) =>
      sparkSchema(schema)
    }.reduce { (a, b) =>
      b.fields.foldLeft(a) { (acc, bf) =>
        acc.fields.find(_.name == bf.name) match {
          case None => acc.add(bf)
          case Some(af) =>
            require(af.dataType == bf.dataType,
              s"graft-parquet: conflicting types for column ${bf.name} " +
                s"under $path (${af.dataType.sql} vs ${bf.dataType.sql})")
            acc
        }
      }
    }
  }

  private def primitiveSparkType(p: PrimitiveType, name: String): DataType = {
    import LogicalTypeAnnotation._
    (p.getPrimitiveTypeName, p.getLogicalTypeAnnotation) match {
      case (_, d: DecimalLogicalTypeAnnotation) =>
        DecimalType(d.getPrecision, d.getScale)
      case (PrimitiveTypeName.INT64, t: TimestampLogicalTypeAnnotation) =>
        require(t.getUnit == TimeUnit.MICROS,
          s"graft-parquet: only MICROS timestamps supported ($name)")
        // isAdjustedToUTC distinguishes the instant type from the
        // wall-clock (NTZ) type; both carry int64 micros
        if (t.isAdjustedToUTC) TimestampType else TimestampNTZType
      case (PrimitiveTypeName.INT32, _: DateLogicalTypeAnnotation) => DateType
      case (PrimitiveTypeName.INT32, i: IntLogicalTypeAnnotation)
          if i.getBitWidth == 16 => ShortType
      case (PrimitiveTypeName.INT32, i: IntLogicalTypeAnnotation)
          if i.getBitWidth == 8 => ByteType
      case (PrimitiveTypeName.INT64, _) => LongType
      case (PrimitiveTypeName.INT32, _) => IntegerType
      case (PrimitiveTypeName.DOUBLE, _) => DoubleType
      case (PrimitiveTypeName.FLOAT, _) => FloatType
      case (PrimitiveTypeName.BOOLEAN, _) => BooleanType
      case (PrimitiveTypeName.BINARY, s)
          if s == LogicalTypeAnnotation.stringType() => StringType
      case (PrimitiveTypeName.BINARY, _) => BinaryType
      case (other, _) => throw new UnsupportedOperationException(
        s"graft-parquet: unsupported parquet type $other ($name)")
    }
  }

  /** The standard 3-level LIST shape: `optional group f (LIST) {
   * repeated group list { optional <prim> element } }`. The repeated
   * group's single child is taken by POSITION, not name — Spark writes
   * `element`, pyarrow writes `item`. Returns the element's primitive
   * type. The CQL motivation: list/set are first-class collection
   * columns a live connector must carry (reference SURVEY §1.2). */
  private def listElement(g: org.apache.parquet.schema.GroupType,
      name: String): PrimitiveType = {
    require(g.getFieldCount == 1 && !g.getType(0).isPrimitive,
      s"graft-parquet: unsupported nested field $name (only 3-level LIST)")
    val repeated = g.getType(0).asGroupType()
    require(repeated.isRepetition(Type.Repetition.REPEATED) &&
      repeated.getFieldCount == 1 && repeated.getType(0).isPrimitive,
      s"graft-parquet: unsupported LIST shape for $name")
    repeated.getType(0).asPrimitiveType()
  }

  /** The standard 3-level MAP shape: `optional group f (MAP) {
   * repeated group key_value { required <prim> key; optional <prim>
   * value } }` — CQL map columns through the connector. Children by
   * POSITION like the list shape. */
  private def mapKeyValue(g: org.apache.parquet.schema.GroupType,
      name: String): (PrimitiveType, PrimitiveType) = {
    require(g.getFieldCount == 1 && !g.getType(0).isPrimitive,
      s"graft-parquet: unsupported nested field $name (only 3-level MAP)")
    val kv = g.getType(0).asGroupType()
    require(kv.isRepetition(Type.Repetition.REPEATED) &&
      kv.getFieldCount == 2 && kv.getType(0).isPrimitive &&
      kv.getType(1).isPrimitive,
      s"graft-parquet: unsupported MAP shape for $name")
    (kv.getType(0).asPrimitiveType(), kv.getType(1).asPrimitiveType())
  }

  def sparkSchema(m: MessageType): StructType =
    StructType(m.getFields.asScala.map { f =>
      require(!f.isRepetition(Type.Repetition.REPEATED),
        s"graft-parquet: unsupported repeated field ${f.getName}")
      val dt =
        if (f.isPrimitive) primitiveSparkType(f.asPrimitiveType(), f.getName)
        else if (f.asGroupType().getLogicalTypeAnnotation ==
            LogicalTypeAnnotation.mapType()) {
          val (k, v) = mapKeyValue(f.asGroupType(), f.getName)
          MapType(primitiveSparkType(k, f.getName),
            primitiveSparkType(v, f.getName), valueContainsNull = true)
        } else if (f.asGroupType().getLogicalTypeAnnotation ==
            LogicalTypeAnnotation.listType())
          ArrayType(primitiveSparkType(
            listElement(f.asGroupType(), f.getName), f.getName),
            containsNull = true)
        else throw new UnsupportedOperationException(
          s"graft-parquet: unsupported nested field ${f.getName}")
      // always nullable, matching Spark's own file-source posture: the
      // directory can accumulate files from writers with laxer schemas
      StructField(f.getName, dt, nullable = true)
    }.toArray)

  /** Can this row group contain a row satisfying EVERY filter — the
   * scan's pushed ones and the runtime (dynamic-pruning) `In`s alike?
   * false only on a footer-statistics PROOF of none-match (int/long
   * min/max); anything unsupported, missing, or uncertain keeps the
   * block — pushed filters are residual-advisory, so this pruning is
   * an IO optimization, never a correctness dependency. Drives
   * DRIVER-side task elimination: the executor-side readers skip the
   * same row groups from their own footers, but a pruned partition
   * here never launches a task at all (at 100k-file scale the task
   * overhead of provably-empty row groups is itself real cost). */
  def blockMayMatchFilters(
      b: org.apache.parquet.hadoop.metadata.BlockMetaData,
      filters: Array[Filter]): Boolean = {
    def stats(c: String): Option[(Long, Long)] =
      b.getColumns.asScala.find(_.getPath.toDotString == c).flatMap { cc =>
        val st = cc.getStatistics
        if (st == null || st.isEmpty || !st.hasNonNullValue) None
        else (st.genericGetMin, st.genericGetMax) match {
          case (mn: java.lang.Long, mx: java.lang.Long) =>
            Some((mn.longValue, mx.longValue))
          case (mn: java.lang.Integer, mx: java.lang.Integer) =>
            Some((mn.longValue, mx.longValue))
          case _ => None
        }
      }
    def lit(v: Any): Option[Long] = v match {
      case x: Long => Some(x)
      case x: Int => Some(x.toLong)
      case _ => None
    }
    def may(f: Filter): Boolean = {
      def cmp(n: String, v: Any, ok: (Long, Long, Long) => Boolean): Boolean =
        (stats(n), lit(v)) match {
          case (Some((mn, mx)), Some(x)) => ok(mn, mx, x)
          case _ => true
        }
      f match {
        case EqualTo(n, v) => cmp(n, v, (mn, mx, x) => mn <= x && x <= mx)
        case GreaterThan(n, v) => cmp(n, v, (_, mx, x) => mx > x)
        case GreaterThanOrEqual(n, v) => cmp(n, v, (_, mx, x) => mx >= x)
        case LessThan(n, v) => cmp(n, v, (mn, _, x) => mn < x)
        case LessThanOrEqual(n, v) => cmp(n, v, (mn, _, x) => mn <= x)
        case In(n, vs) => stats(n) match {
          case Some((mn, mx)) =>
            // per-value: provably empty only when NO candidate value
            // falls inside the chunk band, so `IN ()` prunes every
            // stats-bearing row group. A null never satisfies In; a
            // non-integer value can't be placed and keeps the block.
            vs.exists(v => v != null && lit(v).forall(x => mn <= x && x <= mx))
          case None => true
        }
        case _ => true
      }
    }
    filters.forall(may)
  }

  /** Spark source filter → parquet statistics predicate, for the leaf
   * types whose min/max ordering matches Spark's (no float/double:
   * their NaN/-0.0 statistics ordering is a known divergence — those
   * stay residual-only). None = not pushable. */
  def translate(f: Filter, schema: StructType): Option[FilterPredicate] = {
    def typed(name: String): Option[DataType] =
      schema.fields.find(_.name == name).map(_.dataType)
    def cmp(name: String, v: Any,
        mkL: (org.apache.parquet.filter2.predicate.Operators.LongColumn,
          java.lang.Long) => FilterPredicate,
        mkI: (org.apache.parquet.filter2.predicate.Operators.IntColumn,
          java.lang.Integer) => FilterPredicate,
        mkB: (org.apache.parquet.filter2.predicate.Operators.BinaryColumn,
          Binary) => FilterPredicate): Option[FilterPredicate] =
      (typed(name), v) match {
        case (Some(LongType), x: Long) =>
          Some(mkL(FilterApi.longColumn(name), Long.box(x)))
        case (Some(IntegerType), x: Int) =>
          Some(mkI(FilterApi.intColumn(name), Int.box(x)))
        case (Some(StringType), x: String) =>
          Some(mkB(FilterApi.binaryColumn(name), Binary.fromString(x)))
        case _ => None
      }
    f match {
      case IsNotNull(n) => typed(n).collect {
        case LongType => FilterApi.notEq(FilterApi.longColumn(n),
          null.asInstanceOf[java.lang.Long])
        case IntegerType => FilterApi.notEq(FilterApi.intColumn(n),
          null.asInstanceOf[java.lang.Integer])
        case StringType => FilterApi.notEq(FilterApi.binaryColumn(n),
          null.asInstanceOf[Binary])
      }
      case EqualTo(n, v) => cmp(n, v, FilterApi.eq(_, _), FilterApi.eq(_, _),
        FilterApi.eq(_, _))
      case GreaterThan(n, v) => cmp(n, v, FilterApi.gt(_, _),
        FilterApi.gt(_, _), FilterApi.gt(_, _))
      case GreaterThanOrEqual(n, v) => cmp(n, v, FilterApi.gtEq(_, _),
        FilterApi.gtEq(_, _), FilterApi.gtEq(_, _))
      case LessThan(n, v) => cmp(n, v, FilterApi.lt(_, _),
        FilterApi.lt(_, _), FilterApi.lt(_, _))
      case LessThanOrEqual(n, v) => cmp(n, v, FilterApi.ltEq(_, _),
        FilterApi.ltEq(_, _), FilterApi.ltEq(_, _))
      // the runtime-filter shape: dynamic pruning hands the scan
      // In(joinKey, broadcastSideValues). Null values are unpushable
      // (IN's null never matches, but parquet's dictionary test has no
      // null slot); the empty set prunes driver-side
      // (blockMayMatchFilters).
      case In(n, vs) if vs.nonEmpty && !vs.contains(null) =>
        typed(n) match {
          case Some(LongType) if vs.forall(_.isInstanceOf[Long]) =>
            val s = new util.HashSet[java.lang.Long]()
            vs.foreach(v => s.add(Long.box(v.asInstanceOf[Long])))
            Some(FilterApi.in(FilterApi.longColumn(n), s))
          case Some(IntegerType) if vs.forall(_.isInstanceOf[Int]) =>
            val s = new util.HashSet[java.lang.Integer]()
            vs.foreach(v => s.add(Int.box(v.asInstanceOf[Int])))
            Some(FilterApi.in(FilterApi.intColumn(n), s))
          case Some(StringType) if vs.forall(_.isInstanceOf[String]) =>
            val s = new util.HashSet[Binary]()
            vs.foreach(v => s.add(Binary.fromString(v.asInstanceOf[String])))
            Some(FilterApi.in(FilterApi.binaryColumn(n), s))
          case _ => None
        }
      case _ => None
    }
  }
}

/**
 * [[Source]] implementation through the DSv2 provider — the fourth
 * offline implementation of the trait boundary, and the one whose READ
 * PATH is the connector API itself: `Source.project`'s select becomes a
 * genuine `pruneColumns` call into [[GraftParquetScanBuilder]], so the
 * scan's requested `MessageType` — not a post-scan projection — is what
 * limits the bytes read.
 */
final case class Dsv2ParquetSource(path: String) extends Source {
  override def load(spark: org.apache.spark.sql.SparkSession,
      schema: graft.schema.TableSchema): org.apache.spark.sql.DataFrame =
    Source.project(
      spark.read.format(classOf[GraftParquetProvider].getName).load(path),
      schema)
}
