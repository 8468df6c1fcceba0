package graft.reconcile

import graft.schema.TableSchema
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Deterministic all-types base/MV fixture for the oracle-checked
 * per-type diff matrix — the DataFrame analogue of the reference's
 * all-types test table (MvSyncRDDTest.java:681-824, exercised per type
 * in MvSyncTest.java:2511-2953). Generated from `spark.range` with pure
 * arithmetic so the DuckDB oracle can restate the exact same rows from
 * `range()` — no parquet fixture file needed and both engines derive
 * the data independently.
 *
 * 23 columns spanning the FULL 22-type CQL matrix (SURVEY §1.2):
 * ascii, bigint, blob, boolean, date, decimal, double, float, inet,
 * int, list<int>, map<text,int>, set<text>, smallint, text, time,
 * timestamp, timeuuid, tinyint, uuid, varchar, varint — the types with
 * no native Spark equivalent use their SURVEY §1.2 canonical encodings
 * (inet/uuid/timeuuid → string, time → long nanos-of-day,
 * varint → decimal(38,0)).
 *
 * Damage (by `id` residue, overlaps resolved by sorted-name
 * first-mismatch order c_blob < c_float < c_map < c_text < c_ts < c_uuid):
 *   - id % 23 == 0 → missing from base (orphan MV row)
 *   - id % 19 == 0 → missing from MV
 *   - id % 13 == 0 → blob content differs  (BinaryType deep-equals)
 *   - id % 29 == 0 → float differs         (FloatType rendering)
 *   - id % 11 == 0 → map value differs     (value-level map diff)
 *   - id % 31 == 0 → MV text is null       (one-sided-null mismatch)
 *   - id % 17 == 0 → timestamp differs     (epoch-millis rendering)
 *   - id % 37 == 0 → uuid differs          (canonical string encoding)
 *
 * Canonicalization is additionally exercised in the NEGATIVE direction
 * on every common row: the MV stores the set reversed and the map with
 * entries in the opposite order — java Set/Map equality is
 * order-insensitive (`Objects.deepEquals`, MvSync.java:491), so these
 * rows MUST classify CONSISTENT; a broken sort-canonicalization
 * (MvReconciler.canonical) would flip thousands of rows to
 * INCONSISTENT and turn the oracle hash red.
 */
object AllTypesFixture {

  val Rows = 2000L

  /** 1995-01-01T00:00:00Z — writetime/date epoch anchor. */
  val EpochAnchorSec = 788918400L

  val schema: TableSchema = TableSchema(
    pk = Seq("id"),
    types = Map(
      "id" -> "BIGINT",
      "c_ascii" -> "ASCII",
      "c_bigint" -> "BIGINT",
      "c_blob" -> "BLOB",
      "c_bool" -> "BOOLEAN",
      "c_date" -> "DATE",
      "c_decimal" -> "DECIMAL",
      "c_double" -> "DOUBLE",
      "c_float" -> "FLOAT",
      "c_inet" -> "INET",
      "c_int" -> "INT",
      "c_list" -> "LIST<INT>",
      "c_map" -> "MAP<TEXT,INT>",
      "c_set" -> "SET<TEXT>",
      "c_smallint" -> "SMALLINT",
      "c_text" -> "TEXT",
      "c_time" -> "TIME",
      "c_timeuuid" -> "TIMEUUID",
      "c_ts" -> "TIMESTAMP",
      "c_tinyint" -> "TINYINT",
      "c_uuid" -> "UUID",
      "c_varchar" -> "VARCHAR",
      "c_varint" -> "VARINT"))

  /** Per-(SparkContext, side) localCheckpoint memo (r22, VERDICT #5):
   * the 23-column build is pure `range()` arithmetic but its expression
   * tree is large enough that every consumer paid ~0.28 s of derivation
   * per action (×3 wired rows, measured r21). The fixture depends on
   * NOTHING but this code — no source dir, no file — so within one JVM
   * the derivation is bit-identical every time; a checkpoint keyed on
   * the application id serves the same 2000 rows to every consumer
   * while the DuckDB oracle still derives its side independently from
   * `range()` (the design guarantee — no parquet fixture file — is
   * untouched, and AllTypesFixtureSpec pins checkpoint ≡ fresh build).
   * Keyed per (application id, side): a restarted context re-derives
   * (checkpointed blocks die with their executors), and adding a key
   * drops every other application's entries, so a stopped context's
   * frames do not outlive it. */
  private[reconcile] val memo =
    new java.util.concurrent.ConcurrentHashMap[(String, Boolean), DataFrame]()

  private def memoized(spark: SparkSession, mvSide: Boolean): DataFrame = {
    val app = spark.sparkContext.applicationId
    val hit = memo.get((app, mvSide))
    if (hit != null) hit
    else {
      memo.keySet().removeIf(_._1 != app)
      memo.computeIfAbsent((app, mvSide),
        _ => build(spark, mvSide).localCheckpoint())
    }
  }

  def base(spark: SparkSession): DataFrame = memoized(spark, mvSide = false)
  def mv(spark: SparkSession): DataFrame = memoized(spark, mvSide = true)

  /** The raw derivation, memo-free — spec surface for the
   * checkpoint ≡ build equivalence pin. */
  private[graft] def derive(spark: SparkSession, mvSide: Boolean): DataFrame =
    build(spark, mvSide)

  /** UUID-shaped canonical string from a numeric seed (SURVEY §1.2:
   * uuid/timeuuid carry no native Spark type — canonical string form). */
  private def uuidStr(variant: String, n: Column): Column =
    concat(lit(s"00000000-0000-$variant-8000-"), lpad(n.cast("string"), 12, "0"))

  private def build(spark: SparkSession, mvSide: Boolean): DataFrame = {
    val id = col("id")
    val d = spark.range(0, Rows).toDF("id")
      .filter(if (mvSide) id % 19 =!= 0 else id % 23 =!= 0)

    val blob: Column =
      if (mvSide)
        when(id % 13 === 0, concat(lit("BLOB-"), id))
          .otherwise(concat(lit("blob-"), id)).cast("binary")
      else concat(lit("blob-"), id).cast("binary")

    // exact halves — float and double renderings agree across engines
    val flt: Column = {
      val v = (id % 8) * lit(0.5d)
      (if (mvSide) when(id % 29 === 0, v + 0.5d).otherwise(v) else v).cast("float")
    }

    // base stores (a, b); MV stores (b, a) — order-insensitive equality —
    // with b's VALUE bumped on the damaged residue
    val mapped: Column =
      if (mvSide)
        map(lit("b"),
          (id % 6 + when(id % 11 === 0, 1).otherwise(0)).cast("int"),
          lit("a"), (id % 10).cast("int"))
      else
        map(lit("a"), (id % 10).cast("int"), lit("b"), (id % 6).cast("int"))

    val set: Column =
      if (mvSide) array(concat(lit("t"), id % 5), concat(lit("s"), id % 3))
      else array(concat(lit("s"), id % 3), concat(lit("t"), id % 5))

    val text: Column =
      if (mvSide)
        when(id % 31 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("txt-"), id))
      else concat(lit("txt-"), id)

    val ts: Column = timestamp_seconds(lit(EpochAnchorSec) + id +
      (if (mvSide) when(id % 17 === 0, 3600L).otherwise(0L) else lit(0L)))

    val uuid: Column =
      if (mvSide) uuidStr("4000",
        id + when(id % 37 === 0, 999983L).otherwise(0L))
      else uuidStr("4000", id)

    d.select(
      id,
      concat(lit("a-"), id).as("c_ascii"),
      (id * 1000003L).as("c_bigint"),
      blob.as("c_blob"),
      (id % 2 === 0).as("c_bool"),
      date_add(lit("1995-01-01").cast("date"), (id % 1000).cast("int")).as("c_date"),
      id.cast("decimal(9,2)").as("c_decimal"),
      (id * 0.25).as("c_double"),
      flt.as("c_float"),
      concat(lit("10."), (id % 250).cast("string"), lit(".0."),
        (id % 200).cast("string")).as("c_inet"),
      (id * 3 % 101).cast("int").as("c_int"),
      array((id % 5).cast("int"), (id % 7).cast("int")).as("c_list"),
      mapped.as("c_map"),
      set.as("c_set"),
      (id % 20000 - 10000).cast("short").as("c_smallint"),
      text.as("c_text"),
      ((id * 45296000000L) % 86400000000000L).as("c_time"),
      uuidStr("1000", id).as("c_timeuuid"),
      ts.as("c_ts"),
      (id % 256 - 128).cast("byte").as("c_tinyint"),
      uuid.as("c_uuid"),
      concat(lit("v-"), id).as("c_varchar"),
      (id.cast("decimal(38,0)") *
        lit("99194853094755497").cast("decimal(38,0)")).cast("decimal(38,0)")
        .as("c_varint"))
  }

  // DuckDB restatements of the per-column encodings (shared by the
  // classification and report oracles)
  private val FloatBase = "CAST(CAST((id % 8) * 0.5 AS FLOAT) AS VARCHAR)"
  private val FloatMv =
    "CAST(CAST((id % 8) * 0.5 + CASE WHEN id % 29 = 0 THEN 0.5 ELSE 0 END AS FLOAT) AS VARCHAR)"
  private val UuidBase =
    "'00000000-0000-4000-8000-' || lpad(CAST(id AS VARCHAR), 12, '0')"
  private val UuidMv =
    "'00000000-0000-4000-8000-' || lpad(CAST(id + CASE WHEN id % 37 = 0 THEN 999983 ELSE 0 END AS VARCHAR), 12, '0')"

  /** Shared DuckDB CTE chain restating the classification: the same
   * residue arithmetic over `range()`, rendered mismatch strings
   * (epoch-millis timestamps, UTF-8 blobs, JSON maps in each side's
   * entry order, canonical float/uuid encodings) written out explicitly
   * — ends in `c(id, in_base, in_mv, problem, mismatch_col,
   * mismatch_base, mismatch_mv)`. */
  private val classifyCtes: String =
    s"""WITH j AS (
       |  SELECT range AS id, range % 23 <> 0 AS in_base, range % 19 <> 0 AS in_mv
       |  FROM range(0, $Rows)
       |  WHERE range % 23 <> 0 OR range % 19 <> 0),
       |c0 AS (
       |  SELECT id, in_base, in_mv,
       |    CASE WHEN NOT in_base THEN 'MISSING_IN_BASE_TABLE'
       |         WHEN NOT in_mv THEN 'MISSING_IN_MV_TABLE'
       |         WHEN id % 13 = 0 OR id % 29 = 0 OR id % 11 = 0 OR id % 31 = 0
       |           OR id % 17 = 0 OR id % 37 = 0
       |           THEN 'INCONSISTENT'
       |         ELSE 'CONSISTENT' END AS problem,
       |    CASE WHEN in_base AND in_mv THEN
       |      CASE WHEN id % 13 = 0 THEN 'c_blob'
       |           WHEN id % 29 = 0 THEN 'c_float'
       |           WHEN id % 11 = 0 THEN 'c_map'
       |           WHEN id % 31 = 0 THEN 'c_text'
       |           WHEN id % 17 = 0 THEN 'c_ts'
       |           WHEN id % 37 = 0 THEN 'c_uuid' END END AS mismatch_col
       |  FROM j),
       |c AS (
       |  SELECT id, in_base, in_mv, problem, mismatch_col,
       |    CASE mismatch_col
       |      WHEN 'c_blob' THEN 'blob-' || CAST(id AS VARCHAR)
       |      WHEN 'c_float' THEN $FloatBase
       |      WHEN 'c_map' THEN '{"a":' || CAST(id % 10 AS VARCHAR) ||
       |                        ',"b":' || CAST(id % 6 AS VARCHAR) || '}'
       |      WHEN 'c_text' THEN 'txt-' || CAST(id AS VARCHAR)
       |      WHEN 'c_ts' THEN CAST(${EpochAnchorSec}000 + id * 1000 AS VARCHAR)
       |      WHEN 'c_uuid' THEN $UuidBase
       |    END AS mismatch_base,
       |    CASE mismatch_col
       |      WHEN 'c_blob' THEN 'BLOB-' || CAST(id AS VARCHAR)
       |      WHEN 'c_float' THEN $FloatMv
       |      WHEN 'c_map' THEN '{"b":' || CAST(id % 6 + 1 AS VARCHAR) ||
       |                        ',"a":' || CAST(id % 10 AS VARCHAR) || '}'
       |      WHEN 'c_text' THEN NULL
       |      WHEN 'c_ts' THEN CAST(${EpochAnchorSec}000 + (id + 3600) * 1000 AS VARCHAR)
       |      WHEN 'c_uuid' THEN $UuidMv
       |    END AS mismatch_mv
       |  FROM c0)
       |""".stripMargin

  /** Independent DuckDB statement of the expected classification. */
  val oracleSql: String = classifyCtes +
    "SELECT id, problem, mismatch_col, mismatch_base, mismatch_mv FROM c"

  /** DuckDB restatement of the FULL report string (ReportFormatter
   * layout: MVInconsistentRow.java:31-52 golden format) — every
   * CassandraRow entry field rendered per type, in sorted-name order,
   * for the three reported categories. Doubles are exact quarters
   * (id·0.25) and floats exact halves so both engines'
   * shortest-roundtrip rendering agrees. */
  val reportOracleSql: String = {
    val anchor = s"${EpochAnchorSec}000"
    // common (undamaged) per-type field renderings, base entry order
    def fields(mvSide: Boolean): String = {
      val blob =
        if (mvSide) "CASE WHEN id % 13 = 0 THEN 'BLOB-' ELSE 'blob-' END || CAST(id AS VARCHAR)"
        else "'blob-' || CAST(id AS VARCHAR)"
      val flt = if (mvSide) FloatMv else FloatBase
      val mapped =
        if (mvSide)
          """'{"b":' || CAST(id % 6 + CASE WHEN id % 11 = 0 THEN 1 ELSE 0 END AS VARCHAR) ||
            |     ',"a":' || CAST(id % 10 AS VARCHAR) || '}'""".stripMargin
        else """'{"a":' || CAST(id % 10 AS VARCHAR) || ',"b":' || CAST(id % 6 AS VARCHAR) || '}'"""
      val set =
        if (mvSide) """'["t' || CAST(id % 5 AS VARCHAR) || '","s' || CAST(id % 3 AS VARCHAR) || '"]'"""
        else """'["s' || CAST(id % 3 AS VARCHAR) || '","t' || CAST(id % 5 AS VARCHAR) || '"]'"""
      val text =
        if (mvSide) "CASE WHEN id % 31 = 0 THEN 'null' ELSE 'txt-' || CAST(id AS VARCHAR) END"
        else "'txt-' || CAST(id AS VARCHAR)"
      val ts =
        if (mvSide) s"CAST($anchor + (id + CASE WHEN id % 17 = 0 THEN 3600 ELSE 0 END) * 1000 AS VARCHAR)"
        else s"CAST($anchor + id * 1000 AS VARCHAR)"
      val uuid = if (mvSide) UuidMv else UuidBase
      s"""'CassandraRow{c_ascii: a-' || CAST(id AS VARCHAR) ||
         |   ', c_bigint: ' || CAST(id * 1000003 AS VARCHAR) ||
         |   ', c_blob: ' || $blob ||
         |   ', c_bool: ' || CAST(id % 2 = 0 AS VARCHAR) ||
         |   ', c_date: ' || CAST(DATE '1995-01-01' + CAST(id % 1000 AS INTEGER) AS VARCHAR) ||
         |   ', c_decimal: ' || CAST(CAST(id AS DECIMAL(9,2)) AS VARCHAR) ||
         |   ', c_double: ' || CAST(CAST(id AS DOUBLE) * CAST(0.25 AS DOUBLE) AS VARCHAR) ||
         |   ', c_float: ' || $flt ||
         |   ', c_inet: 10.' || CAST(id % 250 AS VARCHAR) || '.0.' || CAST(id % 200 AS VARCHAR) ||
         |   ', c_int: ' || CAST(id * 3 % 101 AS VARCHAR) ||
         |   ', c_list: [' || CAST(id % 5 AS VARCHAR) || ',' || CAST(id % 7 AS VARCHAR) || ']' ||
         |   ', c_map: ' || $mapped ||
         |   ', c_set: ' || $set ||
         |   ', c_smallint: ' || CAST(id % 20000 - 10000 AS VARCHAR) ||
         |   ', c_text: ' || $text ||
         |   ', c_time: ' || CAST((id * 45296000000) % 86400000000000 AS VARCHAR) ||
         |   ', c_timeuuid: 00000000-0000-1000-8000-' || lpad(CAST(id AS VARCHAR), 12, '0') ||
         |   ', c_tinyint: ' || CAST(id % 256 - 128 AS VARCHAR) ||
         |   ', c_ts: ' || $ts ||
         |   ', c_uuid: ' || $uuid ||
         |   ', c_varchar: v-' || CAST(id AS VARCHAR) ||
         |   ', c_varint: ' || CAST(CAST(id AS HUGEINT) * 99194853094755497 AS VARCHAR) ||
         |   ', id: ' || CAST(id AS VARCHAR) || '}'""".stripMargin
    }
    classifyCtes +
      s""", be AS (SELECT id, ${fields(mvSide = false)} AS entry FROM c),
         |me AS (SELECT id, ${fields(mvSide = true)} AS entry FROM c),
         |mt AS (SELECT id, CASE mismatch_col
         |    WHEN 'c_blob' THEN 'BLOB' WHEN 'c_float' THEN 'FLOAT'
         |    WHEN 'c_map' THEN 'MAP<TEXT,INT>'
         |    WHEN 'c_text' THEN 'TEXT' WHEN 'c_ts' THEN 'TIMESTAMP'
         |    WHEN 'c_uuid' THEN 'UUID' END AS mctype
         |  FROM c)
         |SELECT c.id, problem,
         |  'Problem: ' || problem || chr(10) ||
         |  'RowKey: id:BIGINT:' || CAST(c.id AS VARCHAR) || chr(10) ||
         |  'MainTableEntry: ' || CASE WHEN in_base THEN be.entry ELSE 'null' END || chr(10) ||
         |  'MVTableEntry: ' || CASE WHEN in_mv THEN me.entry ELSE 'null' END ||
         |  CASE WHEN problem = 'INCONSISTENT' THEN
         |    chr(10) || 'BaseColumn: ' || mismatch_col || ':' || mt.mctype || ':' || mismatch_base ||
         |    chr(10) || 'MvColumn: ' || mismatch_col || ':' || mt.mctype ||
         |      CASE WHEN mismatch_mv IS NOT NULL THEN ':' || mismatch_mv ELSE '' END
         |  ELSE '' END AS report
         |FROM c JOIN be ON be.id = c.id JOIN me ON me.id = c.id
         |  JOIN mt ON mt.id = c.id
         |WHERE problem IN ('MISSING_IN_BASE_TABLE', 'MISSING_IN_MV_TABLE', 'INCONSISTENT')""".stripMargin
  }
}
