package graft.reconcile

import graft.schema.TableSchema
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/**
 * In-memory fixtures reproducing the reference test suite's core two-row
 * reconciliation tables (FIXTURES.md §1; reference
 * src/test/java/mvsync/rdd/MvSyncRDDTest.java:269-333).
 *
 * Base table: PK pk/ck1/ck2, regular c1..c4 INT.
 * MV: PK c1/pk/ck1/ck2, regular c2..c4 (c1 moves into the key).
 * Row1: pk=Driver1, ck1=SF,  ck2=2020, c=10/20/30/40, wt=2024-01-01 (µs)
 * Row2: pk=Driver2, ck1=NY,  ck2=2021, c=11/22/33/44, wt=2024-01-02 (µs)
 */
object Fixtures {

  val Wt1 = 1704067200000000L // 2024-01-01 in µs
  val Wt2 = 1704153600000000L // 2024-01-02 in µs

  val baseSchema: TableSchema = TableSchema(
    pk = Seq("pk", "ck1", "ck2"),
    types = Map("pk" -> "ASCII", "ck1" -> "ASCII", "ck2" -> "INT",
      "c1" -> "INT", "c2" -> "INT", "c3" -> "INT", "c4" -> "INT"))

  val mvSchema: TableSchema = TableSchema(
    pk = Seq("c1", "pk", "ck1", "ck2"),
    types = Map("pk" -> "ASCII", "ck1" -> "ASCII", "ck2" -> "INT",
      "c1" -> "INT", "c2" -> "INT", "c3" -> "INT", "c4" -> "INT"))

  /** MV variant that lacks c4 entirely (common-column intersection test,
   * reference MvSyncTest.java:156-162). */
  val mvSchemaFewerCols: TableSchema =
    mvSchema.copy(types = mvSchema.types - "c4")

  private def structFor(schema: TableSchema): StructType = {
    def sql(t: String): DataType = t match {
      case "INT" => IntegerType
      case _ => StringType
    }
    StructType(
      schema.pk.map(c => StructField(c, sql(schema.cqlType(c)))) ++
        schema.sortedRegular.flatMap { c =>
          StructField(c, sql(schema.cqlType(c))) ::
            StructField(schema.writetimeCol(c), LongType) ::
            StructField(schema.ttlCol(c), IntegerType) :: Nil
        })
  }

  private def row(schema: TableSchema, pk: Map[String, Any],
      cells: Map[String, (Any, Any, Any)]): Row =
    Row.fromSeq(
      schema.pk.map(pk(_)) ++
        schema.sortedRegular.flatMap { c =>
          val (v, wt, ttl) = cells.getOrElse(c, (null, null, null))
          Seq(v, wt, ttl)
        })

  private val baseRow1Pk = Map[String, Any]("pk" -> "Driver1", "ck1" -> "SF", "ck2" -> 2020)
  private val baseRow2Pk = Map[String, Any]("pk" -> "Driver2", "ck1" -> "NY", "ck2" -> 2021)

  private def cells(vals: Seq[Int], wt: Long): Map[String, (Any, Any, Any)] =
    Seq("c1", "c2", "c3", "c4").zip(vals).map { case (c, v) => c -> ((v, wt, null)) }.toMap

  def df(spark: SparkSession, schema: TableSchema, rows: Row*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), structFor(schema))

  /** Both rows on a side keyed/celled per the canonical fixture. */
  def baseBoth(spark: SparkSession): DataFrame = df(spark, baseSchema,
    row(baseSchema, baseRow1Pk, cells(Seq(10, 20, 30, 40), Wt1)),
    row(baseSchema, baseRow2Pk, cells(Seq(11, 22, 33, 44), Wt2)))

  /** One base row: c1..c4 = `vals`, every cell written at `wt`. */
  def baseRow(pk: Map[String, Any], vals: Seq[Int], wt: Long): Row =
    row(baseSchema, pk, cells(vals, wt))

  def mvRow(schema: TableSchema, pkBase: Map[String, Any], c1: Int,
      vals: Seq[Int], wt: Long, c4Override: Option[Int] = None): Row = {
    val all = Map("c2" -> vals(0), "c3" -> vals(1), "c4" -> c4Override.getOrElse(vals(2)))
    row(schema, pkBase + ("c1" -> c1),
      all.collect { case (c, v) if schema.types.contains(c) => c -> ((v, wt, null)) })
  }

  def mvBoth(spark: SparkSession, schema: TableSchema = mvSchema): DataFrame =
    df(spark, schema,
      mvRow(schema, baseRow1Pk, 10, Seq(20, 30, 40), Wt1),
      mvRow(schema, baseRow2Pk, 11, Seq(22, 33, 44), Wt2))

  /** Scenario: MV row2 missing → MISSING_IN_MV_TABLE. */
  def mvMissingRow2(spark: SparkSession): DataFrame = df(spark, mvSchema,
    mvRow(mvSchema, baseRow1Pk, 10, Seq(20, 30, 40), Wt1))

  /** Scenario: base row2 missing → MISSING_IN_BASE_TABLE. */
  def baseMissingRow2(spark: SparkSession): DataFrame = df(spark, baseSchema,
    row(baseSchema, baseRow1Pk, cells(Seq(10, 20, 30, 40), Wt1)))

  private def pk(p: String, ck1: String, ck2: Int) =
    Map[String, Any]("pk" -> p, "ck1" -> ck1, "ck2" -> ck2)

  /** One key per category with [[mvOnePerCategory]]: Driver1
   * consistent, Driver2 inconsistent (c4 44 vs 441), Driver3 missing in
   * the MV, Driver4 an MV orphan. Driver1 and Driver2 are written at
   * Wt1, the others at Wt2. */
  def baseOnePerCategory(spark: SparkSession): DataFrame = df(spark, baseSchema,
    baseRow(pk("Driver1", "SF", 2020), Seq(10, 20, 30, 40), Wt1),
    baseRow(pk("Driver2", "NY", 2021), Seq(11, 22, 33, 44), Wt1),
    baseRow(pk("Driver3", "LA", 2022), Seq(12, 23, 34, 45), Wt2))

  def mvOnePerCategory(spark: SparkSession): DataFrame = df(spark, mvSchema,
    mvRow(mvSchema, pk("Driver1", "SF", 2020), 10, Seq(20, 30, 40), Wt1),
    mvRow(mvSchema, pk("Driver2", "NY", 2021), 11, Seq(22, 33, 44), Wt1,
      c4Override = Some(441)),
    mvRow(mvSchema, pk("Driver4", "TX", 2023), 13, Seq(24, 35, 46), Wt2))

  /** Scenario: MV row2 c4=441 → INCONSISTENT (reference golden
   * `BaseColumn: c4:INT:44 / MvColumn: c4:INT:441`). */
  def mvMismatchRow2(spark: SparkSession): DataFrame = df(spark, mvSchema,
    mvRow(mvSchema, baseRow1Pk, 10, Seq(20, 30, 40), Wt1),
    mvRow(mvSchema, baseRow2Pk, 11, Seq(22, 33, 44), Wt2, c4Override = Some(441)))
}
