package graft.sources

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * EQUALITY-DELETE sidecars for [[GraftParquetProvider]] tables —
 * deletes by KEY VALUE instead of by (file, position), the
 * Iceberg equality-delete idea reduced to this connector's shape. The
 * clients that need them are repairers (`graft.MvSyncJob.repair`, the
 * streaming repair): each knows which KEYS are damaged (from the
 * reconcile classification) but not where their
 * rows physically live — position deletes would force a scan-planning
 * round trip per repair; an equality delete is write-only.
 *
 * Shape:
 *  - `_eq-<uuid>.bin` holds the key-column names, the TARGET data-file
 *    names (the table's data files at commit time — rows inserted
 *    later are exempt, which is what gives upsert = eq-delete + insert
 *    its semantics), and the deleted keys in a canonical string
 *    encoding. Sidecars are written FROM EXECUTORS (one per non-empty
 *    partition of the delete-key frame; only names return to the
 *    driver) and are invisible until ONE CAS manifest publish commits
 *    them together with the staged insert files ([[EqualityRepair
 *    .commit]]).
 *  - Scans translate them to POSITION deletes at range
 *    open: a narrow vectorized key pass (key columns + `_pos`) over
 *    each TARGETED file probes every row's key — raw-long binary
 *    search for the single-integral-key shape, bloom-gated canonical
 *    probe otherwise — and the dead positions ride the columnar DV
 *    skip, so the FULL projection decodes at full speed (eqdelete
 *    smoke: read tax ≈ 1.0×). Untargeted files (rows inserted after
 *    the repair) pay nothing.
 *  - Equality deletes are TRANSIENT state: `compact_table` folds them
 *    into rewritten files and retires the sidecars from the manifest,
 *    removing even the key pass. The window is
 *    repair-to-next-maintenance, the same trade the reference accepts
 *    between repair and Cassandra compaction.
 *
 * v1 boundaries (fail-fast, documented): the manifest IS what
 * sequences deletes against inserts, so a plain parquet directory is
 * imported into the log before the first repair; one key
 * tuple per table (every sidecar must agree on keyCols); key types
 * integral or string (canonical encoding = Spark's CAST AS STRING);
 * row-level operations (MERGE/UPDATE/DELETE rewrites) refuse tables
 * with live equality deletes — fold them first.
 */
object Dsv2Equality {
  val EqPrefix = "_eq-"
  private val Magic = 0x47454144 // "GEAD"

  /** One sidecar's content: keys deleted from exactly `targets`. */
  final case class EqDelete(keyCols: Array[String], targets: Set[String],
      keys: Array[String])

  /** Bloom-gated exact membership probe: a power-of-two bitset of key
   * hashes in front of the hash set, so the common LIVE row pays one
   * hash + one bit test and only bloom hits touch the set. */
  final class KeyFilter(keys: Array[String]) extends Serializable {
    private val set = new java.util.HashSet[String](
      math.max(16, keys.length * 2))
    keys.foreach(set.add)
    private val nbits = Integer.highestOneBit(
      math.max(64, keys.length * 8)) * 2
    private val words = new Array[Long](nbits >>> 6)
    keys.foreach { k =>
      val b = k.hashCode & (nbits - 1)
      words(b >>> 6) |= 1L << (b & 63)
    }
    def contains(k: String): Boolean = {
      val b = k.hashCode & (nbits - 1)
      ((words(b >>> 6) >>> (b & 63)) & 1L) != 0L && set.contains(k)
    }
    def size: Int = set.size

    /** Allocation-free probe table for the SINGLE-INTEGRAL-KEY case
     * (by far the common repair shape): every canonical key parses
     * back to one long → a sorted array binary-searched per row, no
     * per-row string build. None when any key is multi-column or
     * non-integral. */
    @transient lazy val longTable: Option[Array[Long]] = buildLongTable()
    private def buildLongTable(): Option[Array[Long]] = {
      val out = new Array[Long](keys.length)
      var i = 0
      while (i < keys.length) {
        val k = keys(i)
        val cut = k.indexOf(':')
        if (k.indexOf('\u0000') >= 0 || cut <= 0) return None
        try out(i) = java.lang.Long.parseLong(k.substring(cut + 1))
        catch { case _: NumberFormatException => return None }
        i += 1
      }
      java.util.Arrays.sort(out)
      Some(out)
    }
  }

  private[sources] def supportedKeyType(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | StringType => true
    case _ => false
  }

  /** Canonical key encoding, defined ONCE for both sides: integral
   * components render as decimal digits, string components as
   * `<utf8ByteLen>:<value>` (the length prefix makes multi-column
   * tuples injective even when values contain the separator), null
   * components as a bare U+0001 sentinel no delete key can carry
   * (the writer refuses null keys), components joined by U+0000.
   * [[canonicalExpr]] is the writer-side Spark expression;
   * [[canonicalOf]] the reader-side per-row twin. */
  def canonicalExpr(keyCols: Seq[String]): org.apache.spark.sql.Column =
    concat_ws("\u0000", keyCols.map { c =>
      when(col(c).isNull,
        raise_error(lit(s"graft-eq: null key component $c")))
        .otherwise(concat(
          octet_length(col(c).cast("string")).cast("string"),
          lit(":"), col(c).cast("string")))
    }: _*)

  def canonicalOf(r: InternalRow, idx: Array[Int],
      types: Array[DataType]): String = {
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < idx.length) {
      if (i > 0) sb.append('\u0000')
      if (r.isNullAt(idx(i))) sb.append('\u0001')
      else {
        val s = types(i) match {
          case LongType => java.lang.Long.toString(r.getLong(idx(i)))
          case IntegerType => java.lang.Integer.toString(r.getInt(idx(i)))
          case ShortType =>
            java.lang.Integer.toString(r.getShort(idx(i)).toInt)
          case ByteType => java.lang.Integer.toString(r.getByte(idx(i)).toInt)
          case StringType => r.getUTF8String(idx(i)).toString
          case other => throw new IllegalStateException(
            s"graft-eq: unsupported key type $other")
        }
        sb.append(s.getBytes("UTF-8").length).append(':').append(s): Unit
      }
      i += 1
    }
    sb.toString
  }

  /** Write one sidecar (executor-side; the file is invisible until a
   * manifest references it). Returns its name. */
  def write(dir: Path, keyCols: Array[String], targets: Set[String],
      keys: Iterator[String], conf: Configuration): String = {
    val fs = dir.getFileSystem(conf)
    val name = s"$EqPrefix${UUID.randomUUID()}.bin"
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(fs.create(new Path(dir, name), true)))
    try {
      out.writeInt(Magic)
      out.writeInt(1)
      out.writeInt(keyCols.length)
      keyCols.foreach(out.writeUTF)
      out.writeInt(targets.size)
      targets.toArray.sorted.foreach(out.writeUTF)
      // key count back-patched cheaply by buffering names only: keys
      // stream through — count written first requires two passes, so
      // write a sentinel-terminated stream instead
      var n = 0
      keys.foreach { k => out.writeBoolean(true); out.writeUTF(k); n += 1 }
      out.writeBoolean(false)
    } finally out.close()
    name
  }

  /** Sidecars are immutable once committed — parse once per JVM. */
  private val cache = new ConcurrentHashMap[String, EqDelete]()

  def read(dir: Path, name: String, conf: Configuration): EqDelete = {
    val key = new Path(dir, name).toString
    val cached = cache.get(key)
    if (cached != null) return cached
    val fs = dir.getFileSystem(conf)
    val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(fs.open(new Path(dir, name))))
    val eq = try {
      require(in.readInt() == Magic, s"graft-eq: bad magic in $name")
      require(in.readInt() == 1, s"graft-eq: unknown version in $name")
      val keyCols = Array.fill(in.readInt())(in.readUTF())
      val targets = Array.fill(in.readInt())(in.readUTF()).toSet
      val keys = scala.collection.mutable.ArrayBuffer.empty[String]
      while (in.readBoolean()) keys += in.readUTF()
      EqDelete(keyCols, targets, keys.toArray)
    } finally in.close()
    cache.put(key, eq)
    eq
  }

  /** The snapshot's equality sidecars that still delete anything —
   * those targeting at least one of its live data files. Sidecars all
   * of whose targets were retired (overwrite/delete/stream-truncate)
   * are inert: readers skip them, row-level ops need not refuse over
   * them, and a new repair need not key-match them. */
  def liveSidecars(dir: Path, snap: CommitLog.Snapshot,
      conf: Configuration): Array[EqDelete] =
    snap.eqFiles.toArray.sorted.map(read(dir, _, conf))
      .filter(_.targets.exists(snap.dataFiles.contains))

  /** The scan-side bundle for one snapshot: the (single, enforced) key
   * tuple's fields resolved against the table schema, and one shared
   * [[KeyFilter]] per sidecar with its target set — a reader of file F
   * probes exactly the filters targeting F. None when the snapshot
   * carries no equality deletes. */
  def forSnapshot(path: String, snap: Option[CommitLog.Snapshot],
      tableSchema: => StructType, conf: Configuration)
      : Option[(Array[StructField], Array[(Set[String], KeyFilter)])] = {
    val eqNames = snap.map(_.eqFiles).getOrElse(Set.empty)
    if (eqNames.isEmpty) return None
    val dir = new Path(path)
    // a sidecar none of whose targets is a live data file of THIS
    // snapshot deletes nothing here — skip it, and when every sidecar
    // is dead keep the scan on the vectorized zero-probe path (the
    // retirement commits prune these, but a manifest published before
    // that pruning existed may still carry them)
    val eqs = liveSidecars(dir, snap.get, conf)
    if (eqs.isEmpty) return None
    val keyCols = eqs.head.keyCols
    require(eqs.forall(_.keyCols.sameElements(keyCols)),
      s"graft-eq: sidecars of $path disagree on key columns")
    val fields = keyCols.map(c => tableSchema.fields.find(_.name == c)
      .getOrElse(throw new IllegalStateException(
        s"graft-eq: key column $c missing from the table schema")))
    Some((fields, eqs.map(e => e.targets -> new KeyFilter(e.keys))))
  }
}

/**
 * The repair face `graft.MvSyncJob.repair` and a STREAMING reconciler
 * drive: upserts and deletes by KEY, one atomic commit, no
 * `_file`/`_pos` knowledge (the
 * reference's repair statements are exactly this shape —
 * DBOperations.java:58-194,240-387 bind keys, never storage
 * positions). `deleteKeys` rows name keys to remove from the CURRENT
 * data files; `inserts` rows land beside them exempt from those
 * deletes — so an upsert is (key ∈ deleteKeys) + (new row ∈ inserts).
 * Inserts are projected onto the table's schema
 * ([[Dsv2Parquet.tableSchema]]) under its store-assignment rule, as a
 * DSv2 append does: a column whose type cannot be stored into the
 * table's fails the commit before anything stages, and a value that
 * overflows its narrower table type fails the job. The table is
 * unchanged either way, and also when the job stages nothing (no delete
 * key, no insert row): that commit publishes no version.
 */
object EqualityRepair {
  def commit(spark: SparkSession, path: String, keyCols: Seq[String],
      deleteKeys: DataFrame, inserts: DataFrame): Unit = {
    val conf = Dsv2Parquet.readConf
    // one listing: the view validated against is the one the commit
    // builds on
    val view = PlanningView(path, None)
    val tableSchema = view.schema
    val kc = keyCols.toArray
    kc.foreach { c =>
      val f = tableSchema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"graft-eq: key column $c not in the table schema"))
      require(Dsv2Equality.supportedKeyType(f.dataType),
        s"graft-eq: unsupported key type ${f.dataType} for $c " +
          "(integral and string keys only)")
      require(deleteKeys.schema.fieldNames.contains(c),
        s"graft-eq: deleteKeys frame lacks key column $c")
    }
    if (inserts.schema.nonEmpty) {
      val from = inserts.select(
        tableSchema.fieldNames.toIndexedSeq.map(col): _*).schema.fields
      tableSchema.fields.zip(from).foreach { case (t, f) =>
        require(Cast.canANSIStoreAssign(f.dataType, t.dataType),
          s"graft-eq: cannot store insert column ${t.name} of type " +
            s"${f.dataType.sql} into table column type ${t.dataType.sql}")
      }
    }
    // a plain parquet directory is imported here, after validation and
    // before the job below stages any file
    val commit = StagedCommit.fresh(path, "eq", view)
    val base = commit.base
    // one key tuple per table: a second repair must agree with the
    // sidecars still LIVE (compaction retires them; sidecars whose
    // targets were all retired are inert and don't constrain the key)
    Dsv2Equality.liveSidecars(new Path(path), base, conf)
        .headOption.foreach { prev =>
      require(prev.keyCols.sameElements(kc),
        s"graft-eq: table already carries equality deletes keyed by " +
          s"${prev.keyCols.mkString(",")}; fold them (compact_table) " +
          "before changing the key tuple")
    }
    val targets = base.dataFiles

    // ONE tagged-union job writes BOTH file kinds (r22, guide §1.2 —
    // the r21 ledger's #1 carry-over): the sidecar write and the insert
    // staging used to run as two sequential jobs, so the commit paid
    // two scheduling barriers and the cluster ran each half at half
    // utilization. The union carries `_ek` (the canonical delete key,
    // null on insert rows) beside the table columns; union preserves
    // child partitions, so each task sees one side — but the writer
    // below handles a mixed partition anyway. Delete keys are computed
    // IN SPARK (CAST AS STRING, null keys refused at runtime) exactly
    // as before; insert rows flow through the same
    // GraftRowParquetWriterBuilder the DSv2 writer uses (same codec,
    // same InternalRow write support). Both kinds are written into the
    // commit's staging dir and promoted under the single CAS manifest
    // publish. Only O(#partitions) file names return to the driver.
    //
    // The empty-insert guard stays SCHEMA-based, not isEmpty (r21):
    // isEmpty EXECUTED the whole insert subtree once. A pure-delete
    // repair passes a zero-COLUMN frame (caught structurally, no job);
    // a zero-ROW frame with columns opens no file (lazy first-row
    // open), so nothing stages and nothing renames.
    val canon = Dsv2Equality.canonicalExpr(kc.toIndexedSeq)
    val bTargets = spark.sparkContext.broadcast(targets)
    val staging = commit.dir
    // at most 8 sidecars: a narrow coalesce, so the cap adds no shuffle
    // and no job, and never runs the delete frame's own stages to count
    // its partitions
    val delSide = deleteKeys.select(
      (canon.as("_ek") +: tableSchema.fields.toIndexedSeq.map(f =>
        lit(null).cast(f.dataType).as(f.name))): _*)
      .coalesce(8)
    def ansiCast(c: Column, t: DataType): Column = GraftSqlBridge.column(
      Cast(GraftSqlBridge.expression(c), t, None, EvalMode.ANSI))
    val tagged =
      if (inserts.schema.isEmpty) delSide
      else delSide.unionAll(inserts.select(
        (lit(null).cast(StringType).as("_ek") +:
          tableSchema.fields.toIndexedSeq.map(f =>
            ansiCast(col(f.name), f.dataType).as(f.name))): _*))
    val writeSchema = tableSchema
    val names: Array[String] = commit.stage {
      tagged.queryExecution.toRdd.mapPartitions { it =>
        import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
        val wConf = Dsv2Parquet.readConf
        val proj = UnsafeProjection.create(
          writeSchema.fields.zipWithIndex.map { case (f, i) =>
            BoundReference(i + 1, f.dataType, nullable = true)
          }.toIndexedSeq)
        val keys = scala.collection.mutable.ArrayBuffer.empty[String]
        var file: Path = null
        var writer: org.apache.parquet.hadoop.ParquetWriter[InternalRow] = null
        try {
          it.foreach { row =>
            if (!row.isNullAt(0)) keys += row.getUTF8String(0).toString
            else {
              if (writer == null) {
                file = new Path(staging, s"part-${
                  org.apache.spark.TaskContext.getPartitionId()}-${
                  UUID.randomUUID()}.parquet")
                writer = new GraftRowParquetWriterBuilder(
                    org.apache.parquet.hadoop.util.HadoopOutputFile
                      .fromPath(file, wConf), writeSchema)
                  .withConf(wConf)
                  .withCompressionCodec(
                    org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
                  .build()
              }
              writer.write(proj(row))
            }
          }
          if (writer != null) { writer.close(); writer = null }
        } catch { case e: Throwable =>
          // failed attempt: close and drop its partial file so a retry
          // never double-stages (the DSv2 writer's abort() discipline)
          if (writer != null) writer.close()
          if (file != null)
            file.getFileSystem(wConf).delete(file, false): Unit
          throw e
        }
        val eqName =
          if (keys.isEmpty) None
          else Some(Dsv2Equality.write(new Path(staging), kc,
            bTargets.value, keys.iterator, wConf))
        (Option(file).map(_.getName).iterator ++ eqName.iterator)
      }.collect()
    }
    // nothing staged — no delete key, no insert row: nothing to publish
    if (names.isEmpty) return commit.abort()
    val (eqNames, insertNames) =
      names.partition(_.startsWith(Dsv2Equality.EqPrefix))
    commit.publish("eq-repair", names.toSeq.map(new Path(staging, _))) { cur =>
      // a targeted file retired by a concurrent rewrite means its
      // replacement does NOT carry these deletes — abort, never lose
      val gone = targets.filterNot(cur.dataFiles.contains)
      if (gone.nonEmpty) throw new IllegalStateException(
        "graft-eq commit: concurrent writer conflict — targeted " +
          s"file(s) no longer in version ${cur.version}: " +
          s"${gone.mkString(", ")}")
      // re-prove the one-key-tuple invariant against CUR, not just
      // the pre-job base (r20 advice): two concurrent FIRST repairs
      // with different key tuples both passed the base check (no
      // sidecars yet) — without this, both publish and every later
      // scan fails the sidecars-agree require, including the
      // compact_table fold needed to repair it
      Dsv2Equality.liveSidecars(new Path(path), cur, conf)
          .headOption.foreach { prev =>
        if (!prev.keyCols.sameElements(kc)) throw new IllegalStateException(
          "graft-eq commit: concurrent repair conflict — table now " +
            s"carries equality deletes keyed by " +
            s"${prev.keyCols.mkString(",")}, not ${kc.mkString(",")}; " +
            "fold them (compact_table) before changing the key tuple")
      }
      Some(cur.copy(dataFiles = cur.dataFiles ++ insertNames,
        eqFiles = cur.eqFiles ++ eqNames))
    }: Unit
  }
}
