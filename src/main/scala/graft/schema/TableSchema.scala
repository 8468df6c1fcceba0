package graft.schema

/**
 * Logical schema of one side (base table or MV) of a reconciliation.
 *
 * The reference carries schema as four name->CQL-type TreeMaps
 * (reference: src/main/java/mvsync/TableAndMVColumns.java:7-18) discovered
 * from cluster metadata (MvSync.java:171-214). TreeMap ordering means all
 * downstream iteration — diff order, report key rendering — is
 * sorted-by-column-name; we preserve that invariant here.
 *
 * Physically a table materializes as a wide DataFrame: for every regular
 * (non-PK, non-collection) column `c` there are sibling columns
 * `writetime_c` (LongType, microseconds) and `ttl_c` (IntegerType,
 * nullable) mirroring the reference's `writetime(col)`/`ttl(col)`
 * pseudo-column selection (MvSync.java:222-228). Collection columns carry
 * neither (guard at MvSync.java:224).
 *
 * @param pk    primary-key column names (partition + clustering)
 * @param types column name -> CQL type name, covering PK and regular cols
 */
final case class TableSchema(
    pk: Seq[String],
    types: Map[String, String]
) extends Serializable {

  /** PK columns in name-sorted order (TreeMap parity, reference
   * RecordPrimaryKey rendering mvsync/RecordPrimaryKey.java:62-76). */
  val sortedPk: Seq[String] = pk.sorted

  /** Non-PK columns in name-sorted order (diff iteration order,
   * reference MvSync.java:486). */
  val sortedRegular: Seq[String] =
    types.keys.filterNot(pk.contains).toSeq.sorted

  def cqlType(col: String): String = types.getOrElse(col, "UNKNOWN")

  /** Collection CQL types get no writetime/ttl cells
   * (reference db/DBOperations.java:405-407; substring match
   * MvSync.java:158-169). */
  def isCollection(col: String): Boolean = {
    val t = cqlType(col).toUpperCase
    t.contains("LIST") || t.contains("SET") || t.contains("MAP")
  }

  /** Regular columns that carry writetime_/ttl_ sibling columns. */
  def timestampedRegular: Seq[String] = sortedRegular.filterNot(isCollection)

  def writetimeCol(c: String): String = s"writetime_$c"
  def ttlCol(c: String): String = s"ttl_$c"
}

object TableSchema {

  /**
   * Schema discovery for an arbitrary wide table (operator R,
   * MvSync.java:171-214 — there against cluster metadata, here against
   * a table's Spark schema): non-PK data columns are the fields
   * that aren't `writetime_`/`ttl_` siblings; CQL type names derive from
   * the reverse of the §1.2 Spark-type mapping.
   */
  def fromSchema(schema: org.apache.spark.sql.types.StructType,
      pk: Seq[String]): TableSchema = {
    import org.apache.spark.sql.types._
    def cqlOf(dt: DataType): String = dt match {
      case StringType => "TEXT"
      case LongType => "BIGINT"
      case IntegerType => "INT"
      case ShortType => "SMALLINT"
      case ByteType => "TINYINT"
      case DoubleType => "DOUBLE"
      case FloatType => "FLOAT"
      case BooleanType => "BOOLEAN"
      case BinaryType => "BLOB"
      case DateType => "DATE"
      case _: TimestampType => "TIMESTAMP"
      case d: DecimalType if d.scale == 0 => "VARINT"
      case _: DecimalType => "DECIMAL"
      case ArrayType(e, _) => s"LIST<${cqlOf(e)}>"
      case MapType(k, v, _) => s"MAP<${cqlOf(k)},${cqlOf(v)}>"
      case other => other.simpleString.toUpperCase
    }
    val dataFields = schema.fields.filterNot(f =>
      f.name.startsWith("writetime_") || f.name.startsWith("ttl_"))
    val missing = pk.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty, s"PK columns absent from the table: $missing")
    TableSchema(pk, dataFields.map(f => f.name -> cqlOf(f.dataType)).toMap)
  }

  /** Columns compared during reconciliation: regular columns present in
   * BOTH schemas with an equal type (reference MvSync.java:274-285). In
   * TreeMap (sorted) order for first-mismatch parity. */
  def commonRegular(base: TableSchema, mv: TableSchema): Seq[String] =
    base.sortedRegular.filter { c =>
      !mv.pk.contains(c) && mv.types.get(c).contains(base.types(c))
    }

  /** CQL types the reference can repair automatically; DURATION and TUPLE
   * are detect-only (reference MvSync.java:92-106,
   * db/DBOperations.java:417-444). */
  val RepairableTypes: Set[String] = Set(
    "ASCII", "BIGINT", "BLOB", "BOOLEAN", "DATE", "DECIMAL", "DOUBLE",
    "FLOAT", "INET", "INT", "LIST", "MAP", "SET", "SMALLINT", "TEXT",
    "TIME", "TIMESTAMP", "TIMEUUID", "TINYINT", "UUID", "VARCHAR", "VARINT")

  /** Columns whose CQL type the repair path cannot bind (fail-fast check,
   * reference MvSync.java:92-106). */
  def unsupportedForRepair(s: TableSchema): Seq[String] =
    s.sortedRegular.filterNot { c =>
      RepairableTypes.exists(s.cqlType(c).toUpperCase.startsWith)
    }
}
