package graft.repair

import graft.config.Settings
import graft.reconcile.MvReconciler
import graft.schema.TableSchema
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Turns a classified reconciliation DataFrame into its repair: the
 * *mutation plan*, one row per delete or per-column upsert (the
 * reference interleaves planning and writing inside one mapPartitions
 * loop, MvSync.java:380-414), and the typed MV rows those upserts leave
 * behind ([[upsertRows]]). Both derive from ONE per-column definition;
 * `graft.MvSyncJob.repair` commits them to the MV table.
 *
 * Reference semantics reproduced:
 *  - DELETE for MISSING_IN_BASE_TABLE when `fixorphanmv`
 *    (MvSync.java:382-395; db/DBOperations.java:58-94);
 *  - one UPSERT **per non-PK MV column** for MISSING_IN_MV_TABLE
 *    (`fixmissingmv`) / INCONSISTENT (`fixinconsistentmv`), skipping
 *    columns already equal (`shouldSkipField`, DBOperations.java:230-238),
 *    values always taken from the BASE row (DBOperations.java:240-387);
 *  - per-column statement flavor from writetime/ttl presence
 *    (UpsertFlavors.java:3-8): NO_TIMESTAMP_TTL / TIMESTAMP / TTL /
 *    TIMESTAMP_TTL; `mutation.uselatestts=true` suppresses the timestamp
 *    but not the TTL (DBOperations.java:250-262).
 *
 * Plan schema: MV-PK columns, then
 *   op        "DELETE" | "UPSERT"
 *   column    upserted column name (null for DELETE)
 *   value     string-rendered value from the base row
 *   writetime microseconds (null unless flavor carries TIMESTAMP)
 *   ttl       seconds (null unless flavor carries TTL)
 *   flavor    upsert flavor name (null for DELETE)
 *
 * Scale note: the explode multiplies rows by |columns| only for the
 * (typically tiny) non-consistent fraction — the plan filters on problem
 * BEFORE exploding, so at 100 TB this stays proportional to the damage,
 * not the table.
 */
object RepairPlanner {

  val NoTimestampTtl = "NO_TIMESTAMP_TTL"
  val Timestamp = "TIMESTAMP"
  val Ttl = "TTL"
  val TimestampTtl = "TIMESTAMP_TTL"

  def plan(
      classified: DataFrame,
      baseSchema: TableSchema,
      mvSchema: TableSchema,
      settings: Settings): DataFrame = {
    val pk = mvSchema.sortedPk
    val pkCols = pk.map(col)
    val problem = col(MvReconciler.ProblemCol)
    val upserts = upsertProblems(settings)

    val perCol: Seq[Column] =
      columnRepairs(classified, mvSchema, settings, lit(null: java.lang.Long)).map { r =>
        struct(
          lit("UPSERT").as("op"),
          lit(r.name).as("column"),
          MvReconciler.renderValue(r.value, mvSchema.cqlType(r.name)).as("value"),
          r.writetime.as("writetime"),
          r.ttl.as("ttl"),
          r.flavor.as("flavor"),
          r.skip.as("skip"))
      }

    val deleteStruct = struct(
      lit("DELETE").as("op"),
      lit(null: String).as("column"),
      lit(null: String).as("value"),
      lit(null: java.lang.Long).as("writetime"),
      lit(null: java.lang.Integer).as("ttl"),
      lit(null: String).as("flavor"),
      lit(false).as("skip"))

    // ONE pass over the classified frame: each row conditionally expands
    // to its mutations (a delete, the non-skipped upsert columns, or
    // nothing). The per-problem filter+union formulation would recompute
    // the upstream reconcile join once per branch — at 100 TB that's two
    // extra scans+shuffles for zero information.
    val mutStructType = {
      import org.apache.spark.sql.types._
      StructType(Seq(
        StructField("op", StringType), StructField("column", StringType),
        StructField("value", StringType), StructField("writetime", LongType),
        StructField("ttl", IntegerType), StructField("flavor", StringType),
        StructField("skip", BooleanType)))
    }
    val emptyMuts = array()
      .cast(org.apache.spark.sql.types.ArrayType(mutStructType))
    var mutations: Column = emptyMuts
    if (upserts.nonEmpty)
      mutations = when(problem.isin(upserts: _*),
        filter(array(perCol: _*), m => !m.getField("skip"))).otherwise(mutations)
    if (settings.fixOrphanMv)
      mutations = when(problem === MvReconciler.MissingInBase,
        array(deleteStruct)).otherwise(mutations)

    classified
      .select(pkCols :+ explode(mutations).as("m"): _*)
      .select(pkCols ++ Seq(
        col("m.op").as("op"),
        col("m.column").as("column"),
        col("m.value").as("value"),
        col("m.writetime").as("writetime"),
        col("m.ttl").as("ttl"),
        col("m.flavor").as("flavor")): _*)
  }

  /**
   * The MV rows the plan's UPSERTs leave behind, typed as the MV table
   * (PK, then each regular column with its `writetime_`/`ttl_` siblings
   * where the MV carries them), one per MISSING_IN_MV_TABLE /
   * INCONSISTENT key the flags repair. Built from the same per-column
   * definition as [[plan]], from the classified cells themselves rather
   * than the plan's rendered strings: a skipped (already equal) column
   * keeps the MV cell with its writetime and TTL, any other column takes
   * the base cell. Under `mutation.uselatestts` a written cell's
   * writetime is `nowMicros`, the commit's clock, as the reference's
   * statement without USING TIMESTAMP gets the server's.
   */
  def upsertRows(
      classified: DataFrame,
      mvSchema: TableSchema,
      settings: Settings,
      nowMicros: Long): DataFrame = {
    val cells = columnRepairs(classified, mvSchema, settings, lit(nowMicros)).flatMap { r =>
      Seq(r.name -> r.value, mvSchema.writetimeCol(r.name) -> r.writetime,
          mvSchema.ttlCol(r.name) -> r.ttl)
        .filter { case (c, _) => classified.columns.contains(s"mv_$c") }
        .map { case (c, repaired) => when(r.skip, col(s"mv_$c")).otherwise(repaired).as(c) }
    }
    classified
      .filter(col(MvReconciler.ProblemCol).isin(upsertProblems(settings): _*))
      .select(mvSchema.sortedPk.map(col) ++ cells: _*)
  }

  private def upsertProblems(settings: Settings): Seq[String] =
    (if (settings.fixMissingMv) Seq(MvReconciler.MissingInMv) else Nil) ++
      (if (settings.fixInconsistentMv) Seq(MvReconciler.Inconsistent) else Nil)

  /** One MV regular column's upsert: the base cell, the writetime and
   * TTL it is written with, its flavor, and whether it is skipped. */
  private final case class ColumnRepair(name: String, value: Column,
      writetime: Column, ttl: Column, flavor: Column, skip: Column)

  /** Per MV non-PK column, values from the base row; `latestTs` is the
   * writetime under `mutation.uselatestts`. */
  private def columnRepairs(
      classified: DataFrame,
      mvSchema: TableSchema,
      settings: Settings,
      latestTs: Column): Seq[ColumnRepair] =
    mvSchema.sortedRegular.map { c =>
      val cql = mvSchema.cqlType(c)
      // An MV regular column absent from the base schema reads null
      // from the base row in the reference upsert (DBOperations.java
      // bindHelper on a missing cell) — substitute a typed null rather
      // than referencing a column the classified frame doesn't have.
      val baseVal: Column =
        if (classified.columns.contains(s"base_$c")) col(s"base_$c")
        else lit(null).cast(classified.schema(s"mv_$c").dataType)
      val mvVal = col(s"mv_$c")
      val wtName = s"base_${mvSchema.writetimeCol(c)}"
      val ttlName = s"base_${mvSchema.ttlCol(c)}"
      val hasWtCol = classified.columns.contains(wtName)
      val hasTtlCol = classified.columns.contains(ttlName)
      val wt: Column =
        if (settings.useLatestTs) latestTs
        else if (!hasWtCol) lit(null: java.lang.Long)
        else col(wtName)
      val ttl: Column =
        if (!hasTtlCol) lit(null: java.lang.Integer) else col(ttlName)
      // shouldSkipField: both rows present and values deep-equal
      // (DBOperations.java:230-238). Canonicalize sets/maps first.
      val skip = col("mv_present").isNotNull &&
        (MvReconciler.canonical(baseVal, cql) <=> MvReconciler.canonical(mvVal, cql))
      val flavor =
        when(wt.isNotNull && ttl.isNotNull, TimestampTtl)
          .when(wt.isNotNull, Timestamp)
          .when(ttl.isNotNull, Ttl)
          .otherwise(NoTimestampTtl)
      ColumnRepair(c, baseVal, wt, ttl, flavor, skip)
    }

  /**
   * Offline analogue of the reference's read-before-delete race guard
   * (operator K, db/DBOperations.java:196-228: point-SELECT of the base
   * table before each orphan delete): drop planned DELETEs whose key
   * appears in a fresh read of the base table. A broadcast-able anti-join
   * at plan time instead of a per-row point read at apply time.
   */
  def verifyDeletesAgainst(plan: DataFrame, freshBase: DataFrame, pk: Seq[String]): DataFrame = {
    val dels = plan.filter(col("op") === "DELETE")
      .join(freshBase.select(pk.map(col): _*), pk, "left_anti")
    plan.filter(col("op") =!= "DELETE").unionByName(dels)
  }
}
