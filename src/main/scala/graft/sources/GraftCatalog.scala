package graft.sources

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{FunctionCatalog, Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{DataType, IntegerType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/**
 * Minimal DataSource V2 `TableCatalog` over a directory root — the
 * CATALOG surface of the connector seam: a live Cassandra connector
 * registers exactly this plugin (`spark.sql.catalog.<name>=...`) and
 * resolves keyspace.table identifiers against cluster metadata, so
 * `SELECT … FROM cass.ks.t` and `DELETE FROM …` work as plain SQL.
 * Here an identifier `ns….t` maps to `<root>/ns…/t`, and its schema
 * is the one a path read of that directory serves
 * ([[Dsv2Parquet.tableSchema]]): the DDL the pinned version's manifest
 * recorded, else the declared `_schema.ddl` `createTable` writes (the
 * cluster-metadata stand-in), else the union of the live files'
 * footers.
 *
 * Register with:
 *   spark.sql.catalog.graft       = graft.sources.GraftCatalog
 *   spark.sql.catalog.graft.root  = /path/to/root
 */
class GraftCatalog extends TableCatalog with FunctionCatalog
    with org.apache.spark.sql.connector.catalog.SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {
  private var catalogName: String = _
  private var root: String = _
  private val conf = new Configuration()

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = options.get("root")
    require(root != null && root.nonEmpty,
      s"catalog $name requires spark.sql.catalog.$name.root")
  }

  override def name(): String = catalogName

  private def pathOf(ident: Identifier): String =
    (root +: (ident.namespace() :+ ident.name()).toSeq).mkString("/")

  /** A table exists when it declares a schema or `view` shows a data
   * file; the view is listed only for an undeclared one. */
  private def exists(p: String, view: PlanningView): Boolean =
    Dsv2Parquet.declaredDdl(p).isDefined || view.dataFiles.nonEmpty

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new Path((root +: namespace.toSeq).mkString("/"))
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) Array.empty
    else fs.listStatus(dir).filter(_.isDirectory)
      // "."-prefixed dirs are in-flight staged tables / trash — not
      // catalog state until their one-rename publish
      .filterNot(_.getPath.getName.startsWith("."))
      .map(s => Identifier.of(namespace, s.getPath.getName))
  }

  override def tableExists(ident: Identifier): Boolean = {
    val p = pathOf(ident)
    exists(p, PlanningView(p, None))
  }

  /** One view per load: the existence check and the schema share its
   * listing. */
  override def loadTable(ident: Identifier): Table = {
    val p = pathOf(ident)
    val view = PlanningView(p, None)
    if (!exists(p, view)) throw new NoSuchTableException(ident)
    GraftParquetTable(p, view.schema, readMergeMode(p))
  }

  /** SQL time travel: `SELECT … FROM cat.ns.t VERSION AS OF n` — the
   * loaded table pins every planning listing (data files + DV
   * sidecars) to commit-log version n. Mutations through a pinned
   * table are refused ([[GraftParquetTable]] require()s). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val v = version.toLongOption.getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog: VERSION AS OF '$version' — graft versions are " +
          "the commit log's integer manifest numbers"))
    loadTable(ident) match {
      case t: GraftParquetTable => pinVersion(t, v)
      case other => other
    }
  }

  /** Pin a loaded table to commit-log version `v`, with that version's
   * schema — a column added by a later ALTER must not appear
   * (null-filled) in a version committed before it existed. */
  private def pinVersion(t: GraftParquetTable, v: Long): GraftParquetTable =
    t.copy(schema = Dsv2Parquet.tableSchema(t.path, Some(v)),
      versionAsOf = Some(v))

  /** SQL `TIMESTAMP AS OF t`: resolve to the NEWEST version whose
   * commit timestamp is ≤ t (manifests stamp `ts` millis at publish;
   * a version predating the metadata counts as old enough). Spark
   * hands the timestamp in MICROseconds. */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    loadTable(ident) match {
      case t: GraftParquetTable =>
        val millis = timestamp / 1000L
        val dir = new Path(t.path)
        val vs = CommitLog.versions(dir, conf)
        require(vs.nonEmpty,
          s"graft catalog: TIMESTAMP AS OF on $ident, which has no " +
            "commit log (graft has never written it)")
        val eligible = vs.filter(v =>
          CommitLog.read(dir, v, conf).meta.get("ts")
            .flatMap(_.toLongOption).forall(_ <= millis))
        require(eligible.nonEmpty,
          s"graft catalog: TIMESTAMP AS OF precedes $ident's history " +
            s"(first commit at ts ${CommitLog.read(dir, vs.min, conf)
              .meta.getOrElse("ts", "?")} ms)")
        pinVersion(t, eligible.max)
      case other => other
    }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      "graft catalog: partition transforms not supported")
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    checkCommitLog(properties)
    val p = pathOf(ident)
    Dsv2Parquet.declareSchema(p, schema)
    // honor the row-level operation mode, persisted next to the DDL so
    // a fresh session loads the table in the declared mode
    val mor = parseMergeMode(properties)
    if (mor) writeProps(p, Map(
      Dsv2Parquet.MergeModeProperty -> Dsv2Parquet.MergeOnRead))
    // publish version 1, an empty snapshot — from here every commit is
    // a CAS manifest publish and the table is time-travelable
    CommitLog.enable(p, conf)
    GraftParquetTable(p, schema, mor)
  }

  private def parseMergeMode(properties: util.Map[String, String]): Boolean =
    Option(properties.get(Dsv2Parquet.MergeModeProperty)) match {
      case Some(Dsv2Parquet.MergeOnRead) => true
      case Some(Dsv2Parquet.CopyOnWrite) | None => false
      case Some(other) => throw new IllegalArgumentException(
        s"graft catalog: unknown ${Dsv2Parquet.MergeModeProperty} '$other' " +
          s"(expected ${Dsv2Parquet.CopyOnWrite} | ${Dsv2Parquet.MergeOnRead})")
    }

  /** `graft.commit.log` is not a knob: every graft table has the log,
   * so 'true' is accepted as a no-op and anything else refused. */
  private def checkCommitLog(properties: util.Map[String, String]): Unit =
    Option(properties.get(Dsv2Parquet.CommitLogProperty)).foreach { v =>
      require(v == "true",
        s"graft catalog: ${Dsv2Parquet.CommitLogProperty} is " +
          s"enable-only, got '$v' — published manifests ARE the table " +
          "state and cannot be disavowed (expire_snapshots reclaims " +
          "history)")
    }

  /** Shared with [[GraftStagedTable]]: persist the graft.* properties
   * inside a (possibly still-invisible staging) table dir. */
  private[sources] def writeStagedProps(p: String,
      properties: util.Map[String, String]): Unit =
    if (parseMergeMode(properties)) writeProps(p, Map(
      Dsv2Parquet.MergeModeProperty -> Dsv2Parquet.MergeOnRead))

  private def propsFile(p: String) = new Path(p, Dsv2Parquet.PropsFileName)

  private def writeProps(p: String, props: Map[String, String]): Unit = {
    val fs = new Path(p).getFileSystem(conf)
    val out = fs.create(propsFile(p), true)
    try out.write(props.map { case (k, v) => s"$k=$v" }
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  private def readMergeMode(p: String): Boolean = {
    val fs = new Path(p).getFileSystem(conf)
    if (!fs.exists(propsFile(p))) false
    else {
      val text = Dsv2Parquet.readText(fs, propsFile(p))
      text.linesIterator.map(_.trim).exists(
        _ == s"${Dsv2Parquet.MergeModeProperty}=${Dsv2Parquet.MergeOnRead}")
    }
  }

  /** Schema evolution, metadata-only: ADD COLUMN rewrites the declared
   * schema; data files are untouched — existing rows read the new
   * column as null (the reader's heterogeneous-directory support),
   * exactly the Cassandra ALTER TABLE semantics. Other changes are
   * refused: dropping/renaming/retyping would silently change how
   * EXISTING parquet bytes decode. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val p = pathOf(ident)
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val current = Dsv2Parquet.tableSchema(p, None)
    var mor = readMergeMode(p)
    val next = changes.foldLeft(current) {
      case (s, add: TableChange.AddColumn) =>
        require(add.fieldNames().length == 1,
          "graft catalog: nested ADD COLUMN not supported")
        require(!s.fieldNames.contains(add.fieldNames()(0)),
          s"column ${add.fieldNames()(0)} already exists")
        s.add(StructField(add.fieldNames()(0), add.dataType(),
          nullable = true))
      // ALTER TABLE … SET TBLPROPERTIES('graft.merge.mode'=…): switch
      // the ROW-LEVEL OPERATION mode of an existing table. Metadata
      // only — existing deletion vectors keep applying either way (the
      // copy-on-write paths fold them into any rewrite they do).
      case (s, set: TableChange.SetProperty)
          if set.property() == Dsv2Parquet.MergeModeProperty =>
        mor = parseMergeMode(
          java.util.Collections.singletonMap(set.property(), set.value()))
        s
      case (s, rm: TableChange.RemoveProperty)
          if rm.property() == Dsv2Parquet.MergeModeProperty =>
        mor = false
        s
      // ALTER TABLE … SET TBLPROPERTIES('graft.commit.log'='true'): a
      // no-op, every table has the log. Any other value is refused:
      // manifests ARE the table state — disavowing them would resurrect
      // every file the log has since retired.
      case (s, set: TableChange.SetProperty)
          if set.property() == Dsv2Parquet.CommitLogProperty =>
        checkCommitLog(java.util.Collections.singletonMap(
          set.property(), set.value()))
        s
      case (_, rm: TableChange.RemoveProperty)
          if rm.property() == Dsv2Parquet.CommitLogProperty =>
        throw new UnsupportedOperationException(
          s"graft catalog: cannot UNSET ${Dsv2Parquet.CommitLogProperty} " +
            "— published manifests ARE the table state; dropping the log " +
            "would resurrect every file it retired")
      case (_, other) => throw new UnsupportedOperationException(
        s"graft catalog: unsupported ALTER $other")
    }
    // a schema change is a commit like any other: publish a version
    // (file sets unchanged) so the history records it and VERSION AS
    // OF at-or-after serves the new schema. A plain parquet table is
    // imported first, while it still declares the old schema.
    val base = if (next != current) Some(CommitLog.begin(p, conf)) else None
    Dsv2Parquet.declareSchema(p, next)
    base.foreach(b =>
      CommitLog.commitUpdate(p, conf, "alter schema", Some(b))(Some(_)))
    if (mor) writeProps(p, Map(
      Dsv2Parquet.MergeModeProperty -> Dsv2Parquet.MergeOnRead))
    else {
      val fs = new Path(p).getFileSystem(conf)
      if (fs.exists(propsFile(p))) fs.delete(propsFile(p), false)
    }
    GraftParquetTable(p, next, mor)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = new Path(pathOf(ident))
    val fs = p.getFileSystem(conf)
    try fs.exists(p) && fs.delete(p, true)
    finally CommitLog.forget(p)
  }

  /** ALTER TABLE RENAME — one directory rename (the whole table state:
   * data files + `_schema.ddl` + sidecars move together). Cross-
   * namespace renames work the same way; the destination namespace
   * must exist, the destination table must not. */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    val src = new Path(pathOf(oldIdent))
    val dst = new Path(pathOf(newIdent))
    val fs = src.getFileSystem(conf)
    fs.mkdirs(dst.getParent)
    require(fs.rename(src, dst),
      s"graft catalog: RENAME $oldIdent -> $newIdent failed")
    CommitLog.forget(src)
    CommitLog.forget(dst)
  }

  // ---- atomic CTAS / RTAS (StagingTableCatalog): the staged write
  // lands in an invisible "."-prefixed sibling directory and ONE
  // rename publishes the whole table — a crash at any point leaves
  // the catalog exactly as it was (old table intact for REPLACE,
  // no table for CREATE), never a schema-only husk ----

  private def staged(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String],
      replacing: Boolean): GraftStagedTable = {
    require(partitions.isEmpty,
      "graft catalog: partition transforms not supported")
    checkCommitLog(properties)
    val ns = (root +: ident.namespace().toSeq).mkString("/")
    val staging = new Path(ns,
      s".staging-${ident.name}-${java.util.UUID.randomUUID()}")
    GraftStagedTable(this, pathOf(ident), staging.toString, schema,
      properties, replacing)
  }

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    staged(ident, schema, partitions, properties, replacing = false)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    staged(ident, schema, partitions, properties, replacing = true)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    staged(ident, schema, partitions, properties, replacing = true)

  // ---- namespace surface (CREATE/DROP/SHOW NAMESPACES as plain SQL;
  // a namespace is a directory under the root, the same mapping a
  // live connector serves from cluster keyspaces) ----

  private def nsPath(ns: Array[String]): Path =
    new Path((root +: ns.toSeq).mkString("/"))

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.nonEmpty && {
      val p = nsPath(namespace)
      val fs = p.getFileSystem(conf)
      fs.exists(p) && fs.getFileStatus(p).isDirectory
    }

  override def listNamespaces(): Array[Array[String]] = {
    val r = new Path(root)
    val fs = r.getFileSystem(conf)
    if (!fs.exists(r)) Array.empty
    else fs.listStatus(r).filter(_.isDirectory)
      .map(s => Array(s.getPath.getName))
  }

  /** One level deep, like a keyspace listing: nested namespaces are
   * not modeled (a directory under a namespace is a table). */
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchNamespaceException(namespace)

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(namespace)
    java.util.Collections.singletonMap(
      org.apache.spark.sql.connector.catalog.SupportsNamespaces.PROP_LOCATION,
      nsPath(namespace).toString)
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    require(namespace.length == 1,
      "graft catalog: only single-level namespaces (keyspaces)")
    if (namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NamespaceAlreadyExistsException(namespace)
    val p = nsPath(namespace)
    p.getFileSystem(conf).mkdirs(p): Unit
  }

  override def alterNamespace(namespace: Array[String],
      changes: org.apache.spark.sql.connector.catalog.NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft catalog: ALTER NAMESPACE not supported")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) return false
    if (!cascade && listTables(namespace).nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis
        .NonEmptyNamespaceException(namespace)
    val p = nsPath(namespace)
    p.getFileSystem(conf).delete(p, true)
  }

  /** FUNCTION surface: the one function storage-partitioned joins need
   * — `bucket`, the transform a clustered table's scan reports
   * ([[GraftParquetScan.outputPartitioning]]). Catalyst resolves the
   * reported `bucket(N, cols…)` against the RELATION's catalog
   * (`V2ExpressionUtils.toCatalystOpt` → `FunctionCatalog
   * .loadFunction`), so two scans of this catalog carry the same
   * canonical function and their equal bucket ids co-locate without an
   * exchange — the Iceberg SPJ pattern, served here over the writer's
   * own hash. */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) Array(Identifier.of(namespace, "bucket"))
    else Array.empty

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name().equalsIgnoreCase("bucket")) GraftBucketFunction
    else throw new NoSuchFunctionException(ident)

  /** PROCEDURE surface — table maintenance as plain SQL, the way every
   * catalog-complete connector ships it (Iceberg's
   * `CALL cat.system.rewrite_data_files`):
   *   CALL <cat>.system.compact_table('ns.table')             — major
   *   CALL <cat>.system.compact_deletion_vectors('ns.table')  — minor
   *   CALL <cat>.system.compact_small_files('ns.table', mb)   — binpack
   *   CALL <cat>.system.rewrite_clustered('ns.t','k',8,'k')   — layout
   *   CALL <cat>.system.expire_snapshots('ns.table', n)       — reclaim
   *   CALL <cat>.system.snapshots('ns.table')                 — history
   *   CALL <cat>.system.rollback_to_version('ns.table', v)    — undo
   *   CALL <cat>.system.remove_orphan_files('ns.table', ms)   — gc
   * Each returns one row with the affected file count (snapshots: one
   * row per published version; rollback: the new version). */
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.length == 1 && namespace(0) == "system")
      procedures.map(p => Identifier.of(namespace, p.name)).toArray
    else Array.empty

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace().sameElements(Array("system")),
      s"graft catalog: procedures live in the `system` namespace, not " +
        s"${ident.namespace().mkString(".")}")
    procedures.find(_.name == ident.name()).getOrElse(
      throw new UnsupportedOperationException(
        s"graft catalog: unknown procedure ${ident.name()}"))
  }

  /** The one procedure registry both methods above read. Every procedure
   * takes the table ('ns.table') first and runs on the driver. */
  private lazy val procedures: Seq[GraftProcedure] = {
    import org.apache.spark.sql.SparkSession.{active => spark}
    import org.apache.spark.sql.types.{LongType, StringType}
    def path(in: InternalRow) =
      (root +: in.getUTF8String(0).toString.split('.').toSeq).mkString("/")
    def csv(in: InternalRow, i: Int) = in.getUTF8String(i).toString
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq
    def str(v: Option[String]) =
      v.map(org.apache.spark.unsafe.types.UTF8String.fromString).orNull
    def count(col: String) = new StructType().add(col, IntegerType, false)
    val table = "table" -> StringType
    Seq(
      GraftProcedure("compact_table",
        "rewrite DV-carrying data files to fold deletion vectors",
        Seq(table), count("files"))(in =>
        Seq(Seq(GraftMaintenance.compactDeletionVectors(spark, path(in))))),
      GraftProcedure("compact_deletion_vectors",
        "merge each data file's deletion-vector sidecars into one",
        Seq(table), count("files"))(in =>
        Seq(Seq(GraftMaintenance.compactDvSidecars(path(in))))),
      GraftProcedure("compact_small_files",
        "bin-pack data files below target_mb into ~target-sized files",
        Seq(table, "target_mb" -> IntegerType), count("packed_files"))(in =>
        Seq(Seq(GraftMaintenance.compactSmallFiles(spark, path(in),
          in.getInt(1).toLong * 1024L * 1024L)))),
      // rewrite through the sink-demanded hash exchange and record the
      // layout — restores the zero-exchange storage-partitioned
      // reconcile after repairs turned the claim off; '' for
      // sort_within skips the within-bucket sort
      GraftProcedure("rewrite_clustered",
        "rewrite the table hash-clustered and record the SPJ layout",
        Seq(table, "cluster_by" -> StringType, "buckets" -> IntegerType,
          "sort_within" -> StringType), count("replaced_files"))(in =>
        Seq(Seq(GraftMaintenance.reclusterTable(spark, path(in), csv(in, 1),
          in.getInt(2), csv(in, 3))))),
      GraftProcedure("expire_snapshots",
        "drop commit-log versions past retain_last, deleting their orphaned files",
        Seq(table, "retain_last" -> IntegerType), count("deleted_files"))(in =>
        Seq(Seq(GraftMaintenance.expireSnapshots(path(in), in.getInt(1))))),
      // one row per published version: the DESCRIBE HISTORY face of the
      // log an operator consults before VERSION AS OF or expiry
      GraftProcedure("snapshots",
        "list the table's published commit-log versions", Seq(table),
        new StructType().add("version", LongType, false)
          .add("data_files", IntegerType, false)
          .add("dv_files", IntegerType, false)
          .add("eq_files", IntegerType, false)
          .add("operation", StringType).add("ts_millis", LongType)
          .add("schema", StringType)) { in =>
        val dir = new Path(path(in))
        CommitLog.versions(dir, conf).toSeq.map { v =>
          val s = CommitLog.read(dir, v, conf)
          Seq(s.version, s.dataFiles.size, s.dvFiles.size, s.eqFiles.size,
            str(s.meta.get("operation")),
            s.meta.get("ts").flatMap(_.toLongOption)
              .map(java.lang.Long.valueOf).orNull,
            str(s.meta.get("schema")))
        }
      },
      // metadata-only undo that preserves history; returns the newly
      // published version
      GraftProcedure("rollback_to_version",
        "set the table back to a prior commit-log version (history preserved)",
        Seq(table, "version" -> LongType),
        new StructType().add("version", LongType, false))(in =>
        Seq(Seq(GraftMaintenance.rollbackTo(path(in), in.getLong(1))))),
      GraftProcedure("remove_orphan_files",
        "delete unreferenced table files older than the age guard",
        Seq(table, "older_than_ms" -> LongType), count("deleted_files"))(in =>
        Seq(Seq(GraftMaintenance.removeOrphanFiles(path(in),
          in.getLong(1))))))
  }
}

/** One CALL procedure: its parameters (all IN, in order), its result
 * schema, and a body that runs on the driver and returns the result
 * rows — served as one local scan. */
private[sources] final case class GraftProcedure(name: String,
    override val description: String, params: Seq[(String, DataType)],
    result: StructType)(body: InternalRow => Seq[Seq[Any]])
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
    with org.apache.spark.sql.connector.catalog.procedures.BoundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter}

  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] =
    params.map { case (n, t) => ProcedureParameter.in(n, t).build() }.toArray

  override def call(input: InternalRow)
      : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
    val out = body(input).map(r => new org.apache.spark.sql.catalyst
      .expressions.GenericInternalRow(r.toArray): InternalRow).toArray
    java.util.Collections.singletonList(
      new org.apache.spark.sql.connector.read.LocalScan {
        override def rows(): Array[InternalRow] = out
        override def readSchema(): StructType = result
      }: org.apache.spark.sql.connector.read.Scan).iterator()
  }
}

/** `bucket(numBuckets, cols…)` — bit-exact twin of the hash the V2
 * write exchange applied (`Distributions.clustered` plans Spark's
 * murmur3 hash partitioning: pmod(murmur3(cols, seed=42), n)), so a
 * value Spark routes to writer task `i` evaluates to bucket `i` here.
 * Bound per input shape; the canonical name is shape-independent so
 * both join sides' transforms compare equal. */
object GraftBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(numBuckets, cols...): writer-exchange hash bucket id"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length >= 2,
      "graft bucket(numBuckets, col, ...) needs at least two arguments")
    require(inputType.fields(0).dataType == IntegerType,
      "graft bucket: numBuckets must be INT")
    GraftBucketBound(inputType.fields.map(_.dataType))
  }
}

final case class GraftBucketBound(types: Array[DataType])
    extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = types
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String = "graft.bucket"
  override def isResultNullable: Boolean = false

  override def produceResult(input: InternalRow): Integer = {
    val n = input.getInt(0)
    // HashPartitioning.partitionIdExpression semantics exactly:
    // Murmur3Hash folds seed 42 over the columns with per-step Int
    // truncation, then Pmod against the width
    var h = 42
    var i = 1
    while (i < types.length) {
      h = org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
        .hash(input.get(i, types(i)), types(i), h.toLong).toInt
      i += 1
    }
    Integer.valueOf(((h % n) + n) % n)
  }
}

/** A table mid-CTAS/RTAS: writes land in the invisible staging
 * directory through the SAME WriteBuilder as any batch write (all
 * sink options — clusterBy, sortWithin, orderBy — compose with atomic
 * creation), and [[commitStagedChanges]] publishes with one rename.
 * REPLACE moves the old table aside first and drops it only after the
 * publish succeeded — recoverable at every crash point. */
private[sources] case class GraftStagedTable(catalog: GraftCatalog,
    finalPath: String, stagingPath: String,
    override val schema: StructType,
    props: java.util.Map[String, String], replacing: Boolean)
    extends org.apache.spark.sql.connector.catalog.StagedTable
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  import org.apache.spark.sql.connector.catalog.TableCapability

  override def name(): String = s"graft-staged:$finalPath"
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    GraftParquetWriteBuilder(stagingPath, info)

  override def commitStagedChanges(): Unit = {
    val staging = new Path(stagingPath)
    val dst = new Path(finalPath)
    val fs = staging.getFileSystem(new Configuration())
    // data writers open files lazily on the first row, so a zero-row
    // CTAS/RTAS (… AS SELECT … WHERE false) never created the staging
    // dir — the publish must still land a schema-only table
    fs.mkdirs(staging)
    // declare the schema inside the still-invisible staging dir, so
    // the published table is complete the instant the rename lands
    Dsv2Parquet.declareSchema(stagingPath, schema)
    // graft.* table properties (e.g. the merge mode) publish with the
    // same rename — a staged CTAS honors them like a plain CREATE
    catalog.writeStagedProps(stagingPath, props)
    val trash: Option[Path] =
      if (replacing && fs.exists(dst)) {
        val t = new Path(dst.getParent, s".trash-${dst.getName}-" +
          java.util.UUID.randomUUID())
        require(fs.rename(dst, t),
          s"graft catalog: could not move the replaced table aside")
        Some(t)
      } else None
    require(fs.rename(staging, dst),
      s"graft catalog: publish rename $stagingPath -> $finalPath failed")
    // the replaced table's cached manifests carry the same names
    CommitLog.forget(dst)
    trash.foreach(fs.delete(_, true))
  }

  override def abortStagedChanges(): Unit = {
    val staging = new Path(stagingPath)
    staging.getFileSystem(new Configuration()).delete(staging, true): Unit
  }
}

/** Observability for the metadata-delete path (spec + driver-row
 * require() surface only). */
object Dsv2DeleteProbe {
  final class PathProbe {
    val lastDropped = new java.util.concurrent.atomic.AtomicInteger
    val lastKept = new java.util.concurrent.atomic.AtomicInteger
  }
  private val byPath =
    new java.util.concurrent.ConcurrentHashMap[String, PathProbe]()
  /** Keyed by table path — parallel deletes cannot clobber readings. */
  def forPath(p: String): PathProbe =
    byPath.computeIfAbsent(p.stripSuffix("/"), _ => new PathProbe)
}
