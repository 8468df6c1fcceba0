package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.ColumnReader
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.{Converter, GroupConverter, PrimitiveConverter}
import org.apache.parquet.schema.{MessageType, PrimitiveType, Type}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

/**
 * The read path of [[GraftParquetProvider]] — the vectorized decode
 * shape a production connector ships (a row-at-a-time
 * `PartitionReader[InternalRow]` measured ~2× the CPU per core on every
 * scan, a tax that grows linearly with data). The reader decodes each
 * parquet row group COLUMN BY COLUMN straight into Spark
 * [[OnHeapColumnVector]]s and hands Spark [[ColumnarBatch]]es, so
 * per-row costs (one object tree per record, boxed field access,
 * per-field type dispatch) collapse into tight per-column loops with
 * one virtual call per value — and Spark's ColumnarToRow transition is
 * whole-stage-codegen'd on top.
 *
 * Decode engine: parquet-column's [[ColumnReadStoreImpl]] triplet
 * cursors (definition level, repetition level, value) — the same
 * public API parquet's own tooling reads columns with. Flat columns
 * are one triplet per record; LIST/MAP columns re-assemble records
 * from repetition levels into Spark's offset+child-vector layout
 * (`appendArray` + child appends), covering the provider's whole type
 * surface: the 11 flat primitives, the 4 decimal physical encodings,
 * 3-level LIST and 3-level MAP of primitives (SURVEY §1.2 via §1.3).
 * Any other type is refused at planning ([[Dsv2Columnar.requireReadable]]).
 *
 * Semantics preserved exactly (the oracle rows that pin them:
 * `recon_classify_dsv2`, `recon_classify_alltypes_dsv2`,
 * `sim_ann_ivf_dsv2`, `recon_stream_dsv2`):
 *  - per-file projection against each file's OWN schema; columns a
 *    file lacks null-fill (schema evolution);
 *  - pushed/runtime predicates stay RESIDUAL-ONLY (they always were —
 *    pushdown is an IO optimization, Spark re-applies every filter
 *    above the scan). They are handed to parquet's filtered-read path
 *    (row-group stats + PAGE INDEX, r17 verdict #4): a flat-schema
 *    scan opens with a record filter and reads
 *    `readNextFilteredRowGroup()`, so pages whose column-index min/max
 *    provably exclude the predicate are never decompressed — the rows
 *    that survive are a SUPERSET of the matches, and Spark's residual
 *    filter takes the exact cut. Collection columns (LIST/MAP) keep
 *    the unfiltered read: their repetition re-assembly assumes the
 *    full triplet stream.
 *  - DICTIONARY-AWARE string/binary decode (r17 verdict #3): when a
 *    chunk's EncodingStats prove every data page dictionary-encoded,
 *    the decoder writes dictionary IDS into the vector (4 bytes/value,
 *    no byte copies) and installs the page dictionary on the vector —
 *    the same lazy-materialization shape Spark's builtin reader uses.
 *  - the pushed-limit early stop truncates batches at `limit` rows
 *    (partial pushdown: Spark's own Limit takes the final cut, and
 *    limit never co-occurs with residual filters — V2 pushdown only
 *    pushes a limit that sits directly on the scan).
 *
 * Scale shape: one reader per row-group partition, batches of
 * [[Dsv2Columnar.BatchSize]] rows, vectors allocated once per reader
 * and reset per batch — no per-batch allocation beyond vector growth,
 * no driver-side anything.
 */
private[sources] object Dsv2Columnar {
  val BatchSize = 4096

  private def primitiveSupported(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | FloatType | BooleanType |
         StringType | BinaryType | DateType | TimestampType |
         TimestampNTZType | ShortType | ByteType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Physical types the decoders can actually serve a Spark type
   * from — the TYPE-drift guard's compatibility map (exactly what
   * [[valuePutter]] and the dictionary decoder handle; anything else
   * fails loudly with the column named instead of surfacing an opaque
   * parquet internal error). */
  def physicalCompatible(dt: DataType, pt: PrimitiveType): Boolean = {
    import PrimitiveType.PrimitiveTypeName._
    val name = pt.getPrimitiveTypeName
    // a decimal-annotated column's raw values are UNSCALED — serving
    // them under any non-decimal (or differently-scaled) reading is
    // silent ×10^scale corruption, not a cast
    val decScale: Option[Int] = pt.getLogicalTypeAnnotation match {
      case d: org.apache.parquet.schema.LogicalTypeAnnotation
          .DecimalLogicalTypeAnnotation => Some(d.getScale)
      case _ => None
    }
    dt match {
      case d: DecimalType =>
        (name == INT32 || name == INT64 || name == BINARY ||
          name == FIXED_LEN_BYTE_ARRAY) && decScale.contains(d.scale)
      case LongType | TimestampType | TimestampNTZType =>
        name == INT64 && decScale.isEmpty
      case IntegerType | DateType | ShortType | ByteType =>
        name == INT32 && decScale.isEmpty
      case DoubleType => name == DOUBLE
      case FloatType => name == FLOAT
      case BooleanType => name == BOOLEAN
      case StringType | BinaryType =>
        (name == BINARY || name == FIXED_LEN_BYTE_ARRAY) && decScale.isEmpty
      case _ => true // collections validated structurally by the casts
    }
  }

  /** Planning-time gate of every scan: the first projected column
   * whose type the decoders cannot serve (a STRUCT, a nested
   * collection) fails the query with the column named, before any
   * task runs — never a null-filled column or an anonymous task
   * failure. */
  def requireReadable(schema: StructType): Unit = schema.fields.foreach { f =>
    require(f.dataType match {
        case ArrayType(e, _) => primitiveSupported(e)
        case MapType(k, v, _) => primitiveSupported(k) && primitiveSupported(v)
        case dt => primitiveSupported(dt)
      },
      s"graft-parquet: cannot read column '${f.name}' of type " +
        s"${f.dataType.sql} — the reader serves flat primitives, " +
        "decimals, and arrays/maps of them")
  }

  /** Minimal converter tree for [[ColumnReadStoreImpl]]. Dictionary
   * support IS declared: for dictionary-encoded pages the column
   * reader then binds in id mode, which serves BOTH access shapes —
   * the typed getters decode through the page dictionary exactly as
   * before, and `getCurrentValueDictionaryID` becomes legal, which is
   * what the id-mode string decoder reads. (The converter callbacks
   * themselves are never invoked — decode drives the triplet cursors
   * directly.) */
  /** RLE / bit-packed hybrid stream reader exposing RUN state (parquet
   * spec: header varint — even = RLE run of `header >> 1` repeats of
   * one padded-LE value, odd = `header >> 1` groups of 8 bit-packed
   * values). Callers consume runs in bulk by decrementing
   * [[rleLeft]] / advancing [[unpackedIdx]] after [[ensure]]; a run
   * larger than the caller's remaining demand simply persists across
   * calls. Used for both def-level and dictionary-id streams of the
   * bulk dictionary decoder. */
  private[sources] final class HybridRunReader(bitWidth: Int,
      in: org.apache.parquet.bytes.ByteBufferInputStream) {
    private val packer =
      if (bitWidth > 0)
        org.apache.parquet.column.values.bitpacking.Packer.LITTLE_ENDIAN
          .newBytePacker(bitWidth)
      else null
    private val groupBytes = new Array[Byte](math.max(bitWidth, 1))
    val unpacked = new Array[Int](8)
    var unpackedIdx = 8
    var rleLeft = 0
    var rleVal = 0
    private var groupsLeft = 0

    /** Make some run current: rleLeft > 0 OR unpackedIdx < 8. */
    def ensure(): Unit = {
      if (rleLeft > 0 || unpackedIdx < 8) return
      if (groupsLeft > 0) { unpackGroup(); return }
      val header = org.apache.parquet.bytes.BytesUtils.readUnsignedVarInt(in)
      if ((header & 1) == 0) {
        rleLeft = header >>> 1
        rleVal = org.apache.parquet.bytes.BytesUtils
          .readIntLittleEndianPaddedOnBitWidth(in, bitWidth)
      } else {
        groupsLeft = header >>> 1
        unpackGroup()
      }
    }

    private def unpackGroup(): Unit = {
      if (packer == null) java.util.Arrays.fill(unpacked, 0)
      else {
        var off = 0
        while (off < bitWidth) {
          val r = in.read(groupBytes, off, bitWidth - off)
          require(r > 0, "graft-parquet: truncated bit-packed group")
          off += r
        }
        packer.unpack8Values(groupBytes, 0, unpacked, 0)
      }
      groupsLeft -= 1
      unpackedIdx = 0
    }
  }

  private[sources] class NoopGroupConverter extends GroupConverter {
    override def start(): Unit = ()
    override def end(): Unit = ()
    override def getConverter(fieldIndex: Int): Converter =
      new PrimitiveConverter {
        override def hasDictionarySupport: Boolean = true
        override def setDictionary(
            d: org.apache.parquet.column.Dictionary): Unit = ()
        override def asGroupConverter(): GroupConverter = new NoopGroupConverter
      }
  }
}

private[sources] class GraftColumnarPartitionReader(p: GraftParquetPartition,
    required: StructType,
    pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    limit: Option[Int] = None,
    dvSidecars: Array[String] = Array.empty,
    extraDeletes: Array[Long] = Array.empty)
    extends PartitionReader[ColumnarBatch] {
  import Dsv2Columnar.BatchSize

  private val conf = Dsv2Parquet.readConf

  /** This file's deletion vector (merge-on-read): union of its
   * planning-time sidecars — plus any SYNTHESIZED positions (equality
   * deletes translated at range open) — sorted file-absolute positions
   * the decode loop skips via run-aware decoder skip()s. */
  private val dv: Array[Long] = {
    val base = Dsv2Parquet.readDvUnion(dvSidecars, conf)
    if (extraDeletes.isEmpty) base
    else (base ++ extraDeletes).distinct.sorted
  }

  /** Collection re-assembly reads the FULL triplet stream, so filtered
   * (page-index) reads engage only on all-flat projections — which is
   * also the only shape [[Dsv2Parquet.translate]] produces predicates
   * for. DV application composes with collections regardless: the
   * LIST/MAP decoders skip deleted records at record granularity
   * through their repetition runs. */
  private val flatOnly: Boolean = required.fields.forall(f =>
    !f.dataType.isInstanceOf[ArrayType] && !f.dataType.isInstanceOf[MapType])

  /** Does the projection request the `_pos` row-lineage column? Its
   * values are the decode cursor's absolute positions, which requires
   * the FULL sequential row stream — it disables parquet's filtered
   * read below. (Only row-level operations project `_pos`, and their
   * scans want every live row anyway.) */
  private val wantsPos: Boolean =
    required.fieldNames.contains(Dsv2Parquet.PosMetaColumn)

  /** Record-level filter from the pushed+runtime predicates THIS file
   * can serve (a predicate on a column the file lacks is dropped —
   * every one is residual-advisory): drives parquet's
   * row-group statistics, dictionary, and COLUMN-INDEX (page-level
   * min/max) filtering — surviving rows are a superset of the matches,
   * Spark's residual filter takes the exact cut. DV application
   * COMPOSES with the filtered read (r18 verdict #1: a selective band
   * on a merge-on-read table must not decode every live row): the
   * store's retained-row-index stream (`PageReadStore.getRowIndexes` +
   * `getRowIndexOffset`) gives each surviving row's exact
   * file-absolute position, which merges against the sorted DV
   * positions run by run. Disabled only for `_pos` projections (the
   * sequential cursor is that column's value source). */
  private val rowFilter: Option[FilterCompat.Filter] = {
    if (!flatOnly || wantsPos) None
    else {
      val fileSchemaPre = Dsv2Parquet.singleFileSchema(p.file)
      val preds = pushed
        .filter(_.references.forall(fileSchemaPre.containsField))
        .flatMap(Dsv2Parquet.translate(_, required))
      if (preds.isEmpty) None
      else Some(FilterCompat.get(preds.reduce(FilterApi.and)))
    }
  }

  private val reader: ParquetFileReader = {
    val file = new Path(p.file)
    val b = HadoopReadOptions.builder(conf, file).withRange(p.start, p.end)
    val opts = rowFilter.fold(b)(f =>
      b.withRecordFilter(f).useColumnIndexFilter(true)).build()
    ParquetFileReader.open(HadoopInputFile.fromPath(file, conf), opts)
  }
  private val fileSchema: MessageType =
    reader.getFooter.getFileMetaData.getSchema
  private val createdBy: String =
    reader.getFooter.getFileMetaData.getCreatedBy

  /** Blocks of this reader in read order, consumed in lockstep with
   * `readNextRowGroup` on the UNFILTERED path only (the filtered path
   * may skip groups, breaking alignment) — feeds the per-chunk
   * EncodingStats gate of the dictionary decoder. */
  private val blocksIter: Iterator[
    org.apache.parquet.hadoop.metadata.BlockMetaData] =
    if (rowFilter.isEmpty) reader.getRowGroups.asScala.iterator
    else Iterator.empty

  /** Observability (spec/probe surface): rows ADMITTED by parquet's
   * filtered read vs the partition's nominal rows — the page-skip
   * evidence at probe granularity. Scheme-stripped (`toUri.getPath`)
   * so the executor-side key (file:/dir/part.parquet) meets the
   * driver-side key (/dir) probes are read by. */
  private val probe =
    Dsv2RuntimeProbe.forPath(new Path(p.file).getParent.toUri.getPath)

  /** Physical column per required field (metadata names map onto
   * their wide writetime_/ttl_ siblings). A physical column can back
   * MORE THAN ONE required field (both spellings of a provenance
   * column in one select): it is projected and decoded ONCE, and the
   * duplicate output slots share the decoded vector. */
  private val physNames: Array[String] =
    required.fieldNames.map(Dsv2Parquet.physicalName)
  private val uniquePhys: Array[String] = physNames.distinct

  /** Requested unique columns THIS file has, in first-appearance order:
   * the projection is resolved against each file's OWN schema, so one
   * directory may mix column sets (missing columns null-fill) and
   * writers whose repetitions differ. */
  private val present: Array[String] =
    uniquePhys.filter(fileSchema.containsField)
  private val projection: Option[MessageType] =
    if (present.isEmpty) None
    else {
      val proj = new MessageType(fileSchema.getName,
        present.map(n => fileSchema.getType(Seq(n): _*)).toIndexedSeq: _*)
      reader.setRequestedSchema(proj.getColumns)
      Some(proj)
    }

  /** One vector per UNIQUE physical column (typed by the first
   * required field backed by it — duplicates share the type since
   * they name the same bytes); the batch maps each output slot onto
   * its column's vector. */
  private val uniqueVectors: Array[OnHeapColumnVector] =
    uniquePhys.map { phys =>
      val dt = required.fields(physNames.indexOf(phys)).dataType
      new OnHeapColumnVector(BatchSize, dt)
    }
  private val vectors: Array[OnHeapColumnVector] =
    physNames.map(phys => uniqueVectors(uniquePhys.indexOf(phys)))
  private val batch = new ColumnarBatch(
    vectors.map(v => v: ColumnVector).toArray)

  /** Rows this reader may still emit (pushed-limit early stop). */
  private var limitLeft: Long = limit.map(_.toLong).getOrElse(Long.MaxValue)

  // ---- per-row-group decode state ----------------------------------
  private var decoders: Array[ColumnDecoder] = _
  private var rowsLeftInGroup: Long = 0L

  /** File-absolute row index of the NEXT row the decoders will
   * produce — drives [[PosDecoder]] and DV run-skipping. Meaningful
   * only on the unfiltered path (rowFilter empty), which _pos
   * forces. */
  private var absCursor: Long = 0L
  /** Index into [[dv]] of the first position >= absCursor. */
  private var dvIdx: Int = 0

  /** FILTERED DV path only: file-absolute positions of the current
   * group's retained rows, in decode-stream order (parquet's
   * retained-row-index stream shifted by the group's row-index
   * offset) — the decoders' triplet streams are synchronized to
   * exactly these rows, so position k of this iterator IS stream
   * row k. One-value lookahead via [[pendingPos]]. */
  private var posIter: java.util.PrimitiveIterator.OfLong = _
  private var pendingPos: Long = -1L
  private var hasPending = false
  private def peekPos(): Long = {
    if (!hasPending) { pendingPos = posIter.nextLong(); hasPending = true }
    pendingPos
  }
  private def popPos(): Unit = hasPending = false

  /** Row-group start offset (file-absolute row index) by the group's
   * starting byte position, from the file's FULL footer — exact
   * regardless of which groups this range selected. */
  private lazy val rowOffsets: Map[Long, Long] = {
    val fp = new Path(p.file)
    val (_, blocks, _) = Dsv2Parquet.fileFooter(
      fp.getFileSystem(conf).getFileStatus(fp), conf)
    var acc = 0L
    blocks.map { b =>
      val r = b.getStartingPos -> acc
      acc += b.getRowCount
      r
    }.toMap
  }

  /** Row counts of the range-selected row groups, for the
   * zero-projected-columns case (no pages to read — counts only). */
  private val countBlocks: Iterator[
    org.apache.parquet.hadoop.metadata.BlockMetaData] =
    reader.getRowGroups.asScala.iterator

  /** Advance to the next row group; false when the partition is done. */
  private def nextGroup(): Boolean = projection match {
    case None =>
      if (!countBlocks.hasNext) false
      else {
        val b = countBlocks.next()
        rowsLeftInGroup = b.getRowCount
        absCursor = rowOffsets(b.getStartingPos)
        decoders = uniquePhys.map(n =>
          (if (n == Dsv2Parquet.FileMetaColumn) FileConstDecoder
           else if (n == Dsv2Parquet.PosMetaColumn) PosDecoder
           else NullDecoder): ColumnDecoder)
        true
      }
    case Some(proj) =>
      val pages =
        if (rowFilter.isDefined) reader.readNextFilteredRowGroup()
        else reader.readNextRowGroup()
      if (pages == null) false
      else {
        rowsLeftInGroup = pages.getRowCount
        probe.rowsAdmitted.addAndGet(rowsLeftInGroup): Unit
        val block = if (blocksIter.hasNext) Some(blocksIter.next()) else None
        block.foreach(b => absCursor = rowOffsets(b.getStartingPos))
        if (dv.nonEmpty && rowFilter.isDefined) {
          // retained-row positions for the DV merge: within-group
          // indexes from the store, shifted to file-absolute by the
          // group's offset; a store with no index stream retained
          // every row — synthesize the contiguous range
          val off: Long = pages.getRowIndexOffset.orElseThrow(() =>
            new IllegalStateException(
              s"graft-parquet: no row-index offset for ${p.file}"))
          hasPending = false
          posIter = pages.getRowIndexes
            .map[java.util.PrimitiveIterator.OfLong] { inner =>
              new java.util.PrimitiveIterator.OfLong {
                override def hasNext: Boolean = inner.hasNext
                override def nextLong(): Long = inner.nextLong() + off
              }
            }
            .orElseGet(() =>
              java.util.stream.LongStream
                .range(off, off + pages.getRowCount).iterator())
        }
        // id-mode decode gate: every data page of the chunk must be
        // dictionary-encoded (EncodingStats proof) — a mixed chunk
        // materializes values like any other
        def allDict(phys: String): Boolean = block.exists(
          _.getColumns.asScala.find(_.getPath.toDotString == phys).exists {
            cc =>
              val es = cc.getEncodingStats
              // V1 pages only: the bulk decoder walks the V1 page
              // layout (V2 chunks take the materializing path)
              es != null && es.hasDictionaryPages &&
                !es.hasNonDictionaryEncodedPages && !es.usesV2Pages
          })
        val store = new ColumnReadStoreImpl(pages,
          new Dsv2Columnar.NoopGroupConverter, proj, createdBy)
        // leaf ColumnDescriptors in projection order: primitives and
        // lists carry one leaf, maps two (key, value)
        val descs = proj.getColumns.asScala.iterator
        decoders = uniquePhys.map { phys =>
          val dt = required.fields(physNames.indexOf(phys)).dataType
          if (phys == Dsv2Parquet.FileMetaColumn) FileConstDecoder
          else if (phys == Dsv2Parquet.PosMetaColumn) PosDecoder
          else if (!fileSchema.containsField(phys)) NullDecoder
          else {
            val fileType = proj.getType(Seq(phys): _*)
            // TYPE drift guard (flat columns): a file storing a
            // different physical type than the scan schema requires
            // must fail with the column named — the putters are
            // requested-type-driven and would otherwise surface an
            // opaque parquet internal error (or garbage). Missing
            // columns null-fill; changed types need a rewrite.
            if (!dt.isInstanceOf[ArrayType] && !dt.isInstanceOf[MapType]) {
              val fpt = fileType.asPrimitiveType()
              require(Dsv2Columnar.physicalCompatible(dt, fpt),
                s"graft-parquet: column '$phys' of ${p.file} stores " +
                  s"$fpt, but the scan requires $dt — TYPE drift across " +
                  "a directory's files is not supported (missing columns " +
                  "null-fill; changed types need a rewrite)")
            }
            dt match {
              case ArrayType(elem, _) =>
                new ListDecoder(store.getColumnReader(descs.next()),
                  fileType.asGroupType(), elem)
              case MapType(kt, vt, _) =>
                new MapDecoder(store.getColumnReader(descs.next()),
                  store.getColumnReader(descs.next()),
                  fileType.asGroupType(), kt, vt)
              case StringType | BinaryType if allDict(phys) =>
                // the bulk decoder OWNS this column's page reader —
                // no store.getColumnReader here, which would consume
                // the same page queue a second time
                val desc = descs.next()
                val pr = pages.getPageReader(desc)
                val dictPage = pr.readDictionaryPage()
                if (dictPage != null) {
                  probe.dictChunks.incrementAndGet(): Unit
                  new DictDecoder(pr, desc,
                    dictPage.getEncoding.initDictionary(desc, dictPage))
                } else new FlatDecoder(store.getColumnReader(desc),
                  fileType.asPrimitiveType(), dt)
              case other =>
                new FlatDecoder(store.getColumnReader(descs.next()),
                  fileType.asPrimitiveType(), other)
            }
          }
        }
        // vector dictionaries follow the decoders: id mode installs the
        // page dictionary (lazy materialization — Spark's own shape),
        // everything else clears it
        var i = 0
        while (i < uniqueVectors.length) {
          decoders(i) match {
            case d: DictDecoder => uniqueVectors(i).setDictionary(
              new org.apache.spark.sql.execution.datasources.parquet
                .ParquetDictionary(d.dict, false))
            case _ => uniqueVectors(i).setDictionary(null)
          }
          i += 1
        }
        true
      }
  }

  override def next(): Boolean = {
    var filled = 0
    // loop — never recurse — across zero-yield row groups (a group
    // whose tail is pure deletes fills nothing): a partition with many
    // consecutive all-deleted groups must not grow the stack one frame
    // per group.
    while (filled == 0) {
      if (limitLeft <= 0L) return false
      while (rowsLeftInGroup <= 0L) if (!nextGroup()) return false
      var i = 0
      while (i < uniqueVectors.length) { uniqueVectors(i).reset(); i += 1 }
      filled = fillBatch()
    }
    batch.setNumRows(filled)
    limitLeft -= filled
    true
  }

  /** Fill up to one batch from the current row group; 0 when the
   * group's remaining rows were all deleted (caller advances groups
   * and retries). */
  private def fillBatch(): Int = {
    var i = 0
    var filled = 0
    if (dv.isEmpty) {
      // fast path: one contiguous decode per column
      val n = math.min(BatchSize.toLong,
        math.min(rowsLeftInGroup, limitLeft)).toInt
      i = 0
      while (i < uniqueVectors.length) {
        decoders(i).decode(n, uniqueVectors(i))
        i += 1
      }
      rowsLeftInGroup -= n
      absCursor += n
      filled = n
    } else if (rowFilter.isDefined) {
      // FILTERED DV path: the decoders' triplet streams hold only the
      // rows parquet's filtered read retained (page-index skipping
      // intact — the r18 verdict's one remaining scale-soft spot);
      // their file-absolute positions come from [[posIter]], merged
      // against the sorted DV. Runs of same liveness decode/skip in
      // bulk exactly like the sequential path — they just need not be
      // positionally contiguous.
      while (filled < BatchSize && rowsLeftInGroup > 0L &&
          filled < limitLeft) {
        val first = peekPos()
        while (dvIdx < dv.length && dv(dvIdx) < first) dvIdx += 1
        val live0 = dvIdx >= dv.length || dv(dvIdx) != first
        val cap: Long =
          if (live0) math.min(
            math.min(BatchSize - filled, limitLeft - filled),
            rowsLeftInGroup)
          else math.min(rowsLeftInGroup, Int.MaxValue.toLong)
        popPos()
        var n = 1
        var break = false
        while (!break && n < cap) {
          val pos = peekPos()
          while (dvIdx < dv.length && dv(dvIdx) < pos) dvIdx += 1
          val live = dvIdx >= dv.length || dv(dvIdx) != pos
          if (live == live0) { popPos(); n += 1 } else break = true
        }
        i = 0
        if (live0) {
          while (i < uniqueVectors.length) {
            decoders(i).decode(n, uniqueVectors(i)); i += 1
          }
          filled += n
        } else {
          while (i < uniqueVectors.length) { decoders(i).skip(n); i += 1 }
        }
        rowsLeftInGroup -= n
      }
    } else {
      // DV path: alternate LIVE runs (decoded) and DELETED runs
      // (skipped — cursors advance, vectors untouched), run bounds
      // from the sorted position vector
      while (filled < BatchSize && rowsLeftInGroup > 0L &&
          filled < limitLeft) {
        while (dvIdx < dv.length && dv(dvIdx) < absCursor) dvIdx += 1
        val nextDel = if (dvIdx < dv.length) dv(dvIdx) else Long.MaxValue
        if (absCursor == nextDel) {
          var s = 0
          while (dvIdx < dv.length && dv(dvIdx) == absCursor + s &&
              s < rowsLeftInGroup) { s += 1; dvIdx += 1 }
          i = 0
          while (i < uniqueVectors.length) { decoders(i).skip(s); i += 1 }
          absCursor += s
          rowsLeftInGroup -= s
        } else {
          val liveN = math.min(
            math.min(BatchSize - filled, limitLeft - filled),
            math.min(rowsLeftInGroup, nextDel - absCursor)).toInt
          i = 0
          while (i < uniqueVectors.length) {
            decoders(i).decode(liveN, uniqueVectors(i))
            i += 1
          }
          absCursor += liveN
          rowsLeftInGroup -= liveN
          filled += liveN
        }
      }
    }
    filled
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = {
    reader.close()
    uniqueVectors.foreach(_.close())
  }

  // ---- decoders ----------------------------------------------------

  private sealed trait ColumnDecoder {
    def decode(n: Int, v: WritableColumnVector): Unit
    /** Advance the column's cursors past `n` rows without touching the
     * vector — the deleted-run complement of decode (DV application). */
    def skip(n: Int): Unit
  }

  /** Column absent from this file: null-fill (schema evolution). */
  private object NullDecoder extends ColumnDecoder {
    override def decode(n: Int, v: WritableColumnVector): Unit =
      { v.appendNulls(n); () }
    override def skip(n: Int): Unit = ()
  }

  /** `_file` metadata column: the partition's file path, constant. */
  private object FileConstDecoder extends ColumnDecoder {
    private val bytes = p.file.getBytes("UTF-8")
    override def decode(n: Int, v: WritableColumnVector): Unit = {
      var i = 0
      while (i < n) { v.appendByteArray(bytes, 0, bytes.length); i += 1 }
    }
    override def skip(n: Int): Unit = ()
  }

  /** `_pos` metadata column: the decode cursor's absolute positions —
   * exact because DV/_pos projections force the unfiltered sequential
   * read (see rowFilter). Reads the enclosing reader's [[absCursor]],
   * which at decode time is the first row of the current run. */
  private object PosDecoder extends ColumnDecoder {
    override def decode(n: Int, v: WritableColumnVector): Unit = {
      var i = 0
      while (i < n) { v.appendLong(absCursor + i); i += 1 }
    }
    override def skip(n: Int): Unit = ()
  }

  /** One parquet value into the vector, selected ONCE per (file type,
   * Spark type) pair per row group — the per-value loop pays a single
   * virtual call. Decimal conversions cross-map the file's physical
   * encoding (INT32/INT64 unscaled, BINARY/FLBA two's complement) onto
   * Spark's precision-determined storage class (int / long / bytes). */
  private def valuePutter(pt: PrimitiveType,
      dt: DataType): (ColumnReader, WritableColumnVector) => Unit = dt match {
    case LongType | TimestampType | TimestampNTZType =>
      (cr, v) => { v.appendLong(cr.getLong); () }
    case IntegerType | DateType => (cr, v) => { v.appendInt(cr.getInteger); () }
    case ShortType => (cr, v) => { v.appendShort(cr.getInteger.toShort); () }
    case ByteType => (cr, v) => { v.appendByte(cr.getInteger.toByte); () }
    case DoubleType => (cr, v) => { v.appendDouble(cr.getDouble); () }
    case FloatType => (cr, v) => { v.appendFloat(cr.getFloat); () }
    case BooleanType => (cr, v) => { v.appendBoolean(cr.getBoolean); () }
    case StringType | BinaryType => (cr, v) => {
      val b = cr.getBinary.getBytes
      v.appendByteArray(b, 0, b.length); ()
    }
    case d: DecimalType =>
      val phys = pt.getPrimitiveTypeName
      def unscaled(cr: ColumnReader): Long = phys match {
        case PrimitiveTypeName.INT32 => cr.getInteger.toLong
        case PrimitiveTypeName.INT64 => cr.getLong
        case _ => new java.math.BigInteger(cr.getBinary.getBytes).longValue
      }
      if (d.precision <= Decimal.MAX_INT_DIGITS)
        (cr, v) => { v.appendInt(unscaled(cr).toInt); () }
      else if (d.precision <= Decimal.MAX_LONG_DIGITS)
        (cr, v) => { v.appendLong(unscaled(cr)); () }
      else phys match {
        case PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64 =>
          (cr, v) => {
            val b = java.math.BigInteger.valueOf(unscaled(cr)).toByteArray
            v.appendByteArray(b, 0, b.length); ()
          }
        case _ => (cr, v) => {
          // two's-complement bytes pass straight through — Spark's
          // wide-decimal vector storage is the same representation
          val b = cr.getBinary.getBytes
          v.appendByteArray(b, 0, b.length); ()
        }
      }
    case other => throw new UnsupportedOperationException(
      s"graft-parquet: unsupported columnar type $other")
  }

  /** Append one non-null collection row whose child elements were just
   * appended: the child-offset must be captured BEFORE the elements go
   * in (appendArray would read the child's post-append position and
   * point every row one record ahead — the off-by-one the Dsv2ListSpec
   * round-trip pins). */
  private def appendCollection(v: WritableColumnVector, offset: Int,
      len: Int): Unit = {
    v.reserve(v.getElementsAppended + 1)
    v.putArray(v.getElementsAppended, offset, len)
    v.addElementsAppended(1)
  }

  /** Id-mode string/binary decode for an all-dictionary V1 chunk:
   * BULK page decode — the decoder owns the column's [[PageReader]]
   * and walks the decompressed V1 page bytes itself ([def levels RLE,
   * 4-byte length prefix][1-byte id width][hybrid id stream] — flat
   * columns have no repetition section), processing both streams at
   * RUN granularity: an RLE run of non-null def levels pulls that many
   * ids in bulk (`putInts` fills for repeated ids, 8-value unpacked
   * groups copied by slice), an RLE run of nulls is one `putNulls`.
   * One branch per RUN instead of 2-3 virtual calls per VALUE — the
   * decode shape Spark's own VectorizedRleValuesReader uses, which is
   * what it takes to hold the line against the builtin reader on
   * low-cardinality string scans. The vector's installed
   * [[org.apache.spark.sql.execution.datasources.parquet.ParquetDictionary]]
   * materializes lazily on access. */
  private final class DictDecoder(
      pageReader: org.apache.parquet.column.page.PageReader,
      desc: org.apache.parquet.column.ColumnDescriptor,
      val dict: org.apache.parquet.column.Dictionary) extends ColumnDecoder {
    import org.apache.parquet.bytes.BytesUtils
    import org.apache.parquet.column.page.DataPageV1
    import Dsv2Columnar.HybridRunReader

    private val maxDef = desc.getMaxDefinitionLevel
    private val defWidth = BytesUtils.getWidthFromMaxInt(maxDef)
    private var defs: HybridRunReader = _
    private var idsR: HybridRunReader = _
    private var leftInPage = 0

    private def advancePage(): Unit = pageReader.readPage() match {
      case p1: DataPageV1 =>
        val in = p1.getBytes.toInputStream
        if (maxDef > 0) {
          // def levels: RLE hybrid with a 4-byte length prefix (the
          // only encoding parquet-mr writes for levels; the legacy
          // BIT_PACKED shape never co-occurs with dictionary chunks
          // this gate admits)
          require(p1.getDlEncoding ==
            org.apache.parquet.column.Encoding.RLE,
            s"graft-parquet: unexpected level encoding ${p1.getDlEncoding}")
          val defLen = BytesUtils.readIntLittleEndian(in)
          defs = new HybridRunReader(defWidth, in.sliceStream(defLen))
        } else defs = null
        idsR = new HybridRunReader(in.read(), in)
        leftInPage = p1.getValueCount
      case other => throw new IllegalStateException(
        s"graft-parquet: dictionary chunk page $other outside the " +
          "EncodingStats gate (V1 all-dictionary)")
    }

    /** `count` ids into vector positions [pos, pos+count), run-bulk. */
    private def readIds(v: WritableColumnVector, pos0: Int,
        count0: Int): Unit = {
      var pos = pos0
      var count = count0
      while (count > 0) {
        idsR.ensure()
        if (idsR.rleLeft > 0) {
          val take = math.min(count, idsR.rleLeft)
          v.putInts(pos, take, idsR.rleVal)
          idsR.rleLeft -= take
          pos += take; count -= take
        } else {
          val take = math.min(count, 8 - idsR.unpackedIdx)
          v.putInts(pos, take, idsR.unpacked, idsR.unpackedIdx)
          idsR.unpackedIdx += take
          pos += take; count -= take
        }
      }
    }

    private def readOneId(): Int = {
      idsR.ensure()
      if (idsR.rleLeft > 0) { idsR.rleLeft -= 1; idsR.rleVal }
      else { val x = idsR.unpacked(idsR.unpackedIdx); idsR.unpackedIdx += 1; x }
    }

    /** Advance the id stream past `count` values (deleted non-nulls). */
    private def skipIds(count0: Int): Unit = {
      var count = count0
      while (count > 0) {
        idsR.ensure()
        if (idsR.rleLeft > 0) {
          val take = math.min(count, idsR.rleLeft)
          idsR.rleLeft -= take; count -= take
        } else {
          val take = math.min(count, 8 - idsR.unpackedIdx)
          idsR.unpackedIdx += take; count -= take
        }
      }
    }

    override def decode(n: Int, v: WritableColumnVector): Unit = {
      // decode may be called several times per batch (DV run loop):
      // values land at the vector's append cursor, and the ids vector
      // is reserved ONCE per batch at full capacity
      val base = v.getElementsAppended
      val ids =
        if (base == 0) v.reserveDictionaryIds(BatchSize)
        else v.getDictionaryIds.asInstanceOf[WritableColumnVector]
      var i = 0
      while (i < n) {
        if (leftInPage == 0) advancePage()
        val m = math.min(n - i, leftInPage)
        val at = base + i
        if (defs == null) readIds(ids, at, m) // required column: no nulls
        else {
          var done = 0
          while (done < m) {
            defs.ensure()
            if (defs.rleLeft > 0) {
              val take = math.min(m - done, defs.rleLeft)
              if (defs.rleVal == maxDef) readIds(ids, at + done, take)
              else v.putNulls(at + done, take)
              defs.rleLeft -= take
              done += take
            } else {
              // bit-packed def group: mixed null pattern, per value
              // over at most 8
              val take = math.min(m - done, 8 - defs.unpackedIdx)
              var j = 0
              while (j < take) {
                if (defs.unpacked(defs.unpackedIdx + j) == maxDef)
                  ids.putInt(at + done + j, readOneId())
                else { v.putNull(at + done + j); () }
                j += 1
              }
              defs.unpackedIdx += take
              done += take
            }
          }
        }
        leftInPage -= m
        i += m
      }
      v.addElementsAppended(n)
    }

    override def skip(n: Int): Unit = {
      var left = n
      while (left > 0) {
        if (leftInPage == 0) advancePage()
        val m = math.min(left, leftInPage)
        if (defs == null) skipIds(m)
        else {
          var done = 0
          while (done < m) {
            defs.ensure()
            if (defs.rleLeft > 0) {
              val take = math.min(m - done, defs.rleLeft)
              if (defs.rleVal == maxDef) skipIds(take)
              defs.rleLeft -= take
              done += take
            } else {
              val take = math.min(m - done, 8 - defs.unpackedIdx)
              var j = 0
              var cnt = 0
              while (j < take) {
                if (defs.unpacked(defs.unpackedIdx + j) == maxDef) cnt += 1
                j += 1
              }
              skipIds(cnt)
              defs.unpackedIdx += take
              done += take
            }
          }
        }
        leftInPage -= m
        left -= m
      }
    }
  }

  /** Flat column: one triplet per record; value present iff the
   * definition level reaches the leaf's max (covers optional AND
   * required leaves — a required leaf has maxDef 0). */
  private final class FlatDecoder(cr: ColumnReader, pt: PrimitiveType,
      dt: DataType) extends ColumnDecoder {
    private val maxDef = cr.getDescriptor.getMaxDefinitionLevel
    private val put = valuePutter(pt, dt)
    override def decode(n: Int, v: WritableColumnVector): Unit = {
      var i = 0
      while (i < n) {
        if (cr.getCurrentDefinitionLevel == maxDef) put(cr, v)
        else { v.appendNull(); () }
        cr.consume()
        i += 1
      }
    }
    override def skip(n: Int): Unit = {
      var i = 0
      while (i < n) {
        // a value exists only at max definition level; skip() tells the
        // cursor not to materialize it, consume() advances the triplet
        if (cr.getCurrentDefinitionLevel == maxDef) cr.skip()
        cr.consume()
        i += 1
      }
    }
  }

  /** Definition-level thresholds of the 3-level LIST/MAP shapes,
   * computed from the actual repetitions in THIS file (Spark writes
   * required variants where nullability allows; this provider writes
   * everything optional):
   *   defined  — the outer group itself is non-null
   *   entry    — a repeated entry exists (def >= entry)
   * A record whose first triplet sits below `defined` is a null
   * collection; at `defined` but below `entry`, an empty one. */
  private def collectionLevels(g: org.apache.parquet.schema.GroupType)
      : (Int, Int) = {
    val defined = if (g.isRepetition(Type.Repetition.OPTIONAL)) 1 else 0
    (defined, defined + 1)
  }

  private final class ListDecoder(cr: ColumnReader,
      g: org.apache.parquet.schema.GroupType, elem: DataType)
      extends ColumnDecoder {
    private val (dDefined, dEntry) = collectionLevels(g)
    private val dElem = cr.getDescriptor.getMaxDefinitionLevel
    private val total = cr.getTotalValueCount
    private val put = valuePutter(
      g.getType(0).asGroupType().getType(0).asPrimitiveType(), elem)
    private var read = 0L

    override def decode(n: Int, v: WritableColumnVector): Unit = {
      val child = v.arrayData()
      var i = 0
      while (i < n) {
        val offset = child.getElementsAppended
        // first triplet of the record (repetition level 0)
        val d0 = cr.getCurrentDefinitionLevel
        var len = 0
        if (d0 >= dEntry) {
          if (d0 == dElem) put(cr, child) else { child.appendNull(); () }
          len = 1
        }
        cr.consume(); read += 1L
        // continuation triplets (repetition level > 0) extend the record
        while (read < total && cr.getCurrentRepetitionLevel > 0) {
          val d = cr.getCurrentDefinitionLevel
          if (d == dElem) put(cr, child) else { child.appendNull(); () }
          len += 1
          cr.consume(); read += 1L
        }
        if (d0 < dDefined) { v.appendNull(); () }
        else appendCollection(v, offset, len)
        i += 1
      }
    }

    /** DV application: advance past `n` whole RECORDS (first triplet +
     * repetition-level>0 continuations) without touching the vector —
     * `cr.skip()` spares materializing each defined element. */
    override def skip(n: Int): Unit = {
      var i = 0
      while (i < n) {
        if (cr.getCurrentDefinitionLevel == dElem) cr.skip()
        cr.consume(); read += 1L
        while (read < total && cr.getCurrentRepetitionLevel > 0) {
          if (cr.getCurrentDefinitionLevel == dElem) cr.skip()
          cr.consume(); read += 1L
        }
        i += 1
      }
    }
  }

  /** MAP: the key and value cursors share one repetition structure, so
   * they advance in lockstep — entry count per record comes from the
   * key column, value nullability from the value column's own level. */
  private final class MapDecoder(kr: ColumnReader, vr: ColumnReader,
      g: org.apache.parquet.schema.GroupType, kt: DataType, vt: DataType)
      extends ColumnDecoder {
    private val (dDefined, dEntry) = collectionLevels(g)
    private val dKey = kr.getDescriptor.getMaxDefinitionLevel
    private val dVal = vr.getDescriptor.getMaxDefinitionLevel
    private val total = kr.getTotalValueCount
    private val kv = g.getType(0).asGroupType()
    private val putK = valuePutter(kv.getType(0).asPrimitiveType(), kt)
    private val putV = valuePutter(kv.getType(1).asPrimitiveType(), vt)
    private var read = 0L

    override def decode(n: Int, v: WritableColumnVector): Unit = {
      val keys = v.getChild(0).asInstanceOf[WritableColumnVector]
      val vals = v.getChild(1).asInstanceOf[WritableColumnVector]
      def entry(): Unit = {
        if (kr.getCurrentDefinitionLevel == dKey) putK(kr, keys)
        else { keys.appendNull(); () }
        if (vr.getCurrentDefinitionLevel == dVal) putV(vr, vals)
        else { vals.appendNull(); () }
        kr.consume(); vr.consume(); read += 1L
      }
      var i = 0
      while (i < n) {
        val offset = keys.getElementsAppended
        val d0 = kr.getCurrentDefinitionLevel
        var len = 0
        if (d0 >= dEntry) { entry(); len = 1 }
        else { kr.consume(); vr.consume(); read += 1L }
        while (read < total && kr.getCurrentRepetitionLevel > 0) {
          entry(); len += 1
        }
        if (d0 < dDefined) { v.appendNull(); () }
        else appendCollection(v, offset, len)
        i += 1
      }
    }

    /** DV application: advance both cursors past `n` whole records in
     * lockstep without touching the vector. */
    override def skip(n: Int): Unit = {
      def skipEntry(): Unit = {
        if (kr.getCurrentDefinitionLevel == dKey) kr.skip()
        if (vr.getCurrentDefinitionLevel == dVal) vr.skip()
        kr.consume(); vr.consume(); read += 1L
      }
      var i = 0
      while (i < n) {
        skipEntry()
        while (read < total && kr.getCurrentRepetitionLevel > 0) skipEntry()
        i += 1
      }
    }
  }
}
