package graft.reconcile

import graft.config.Settings
import graft.schema.TableSchema
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * The reconciliation core: base-table vs MV comparison re-expressed as a
 * single declarative Catalyst plan.
 *
 * Reference pipeline (mvsync.MvSync): scan both tables keyed by the MV's
 * primary key (MvSync.java:248-257,512-521), full-outer cogroup
 * (MvSync.java:286-287), per-key classification into four consistency
 * states (MvSync.java:349-372, MVConsistencyState.java:3-8), column-wise
 * first-mismatch diff (MvSync.java:481-510), time-scope skip
 * (MvSync.java:430-479).
 *
 * Spark-native restatement: `base.join(mv, pk, "full_outer")` with the
 * diff/classify logic as generated Column expressions, so the whole thing
 * is one shuffle (the join) inside whole-stage codegen — Catalyst handles
 * column pruning, predicate pushdown, AQE skew handling; no driver-side
 * state.
 *
 * Join choice: like the reference's hash cogroup, a shuffled hash join
 * with the MV side as the build side, when the MV side's estimated size
 * (`optimizedPlan.stats.sizeInBytes`) is under Spark's local-hash-map
 * bound, `autoBroadcastJoinThreshold × shuffle.partitions`
 * ([[fitsLocalHashMap]]). A larger MV side, or a threshold of -1, keeps
 * the sort-merge join, which spills. Pre-bucketed inputs plan no
 * exchange either way.
 *
 * Output columns: MV-PK columns, then
 *   base_<c>, base_writetime_<c>, base_ttl_<c>, base_present, mv_<c>, ...
 *                     payload; `<side>_min_wt` / `<side>_max_wt` (row
 *                     writetime bounds) only when the job is time-scoped
 *   problem           one of CONSISTENT / MISSING_IN_BASE_TABLE /
 *                     MISSING_IN_MV_TABLE / INCONSISTENT / NOT_IN_SCOPE
 *   mismatch_col      name of the FIRST differing common column in
 *                     name-sorted order, else null (MvSync.java:486)
 *   mismatch_base / mismatch_mv   rendered string values of that column
 */
object MvReconciler {

  // Consistency states (reference MVConsistencyState.java:3-8).
  val Consistent = "CONSISTENT"
  val MissingInBase = "MISSING_IN_BASE_TABLE"
  val MissingInMv = "MISSING_IN_MV_TABLE"
  val Inconsistent = "INCONSISTENT"
  /** Not a reference state: the reference *counts* skipped records and
   * drops them (MvSync.java:327-346); we keep them as a category so the
   * one output DataFrame carries all the information for stats. */
  val NotInScope = "NOT_IN_SCOPE"

  val ProblemCol = "problem"

  /**
   * Full reconciliation plan.
   *
   * @param base base-table DataFrame: MV-PK columns + regular columns +
   *             writetime_/ttl_ siblings per [[TableSchema]]
   * @param mv   MV DataFrame, same layout
   */
  def reconcile(
      base: DataFrame,
      mv: DataFrame,
      baseSchema: TableSchema,
      mvSchema: TableSchema,
      settings: Settings = Settings()): DataFrame = {

    val pk = mvSchema.sortedPk
    val common = TableSchema.commonRegular(baseSchema, mvSchema)

    // Per-side prep, one select: the MV-PK columns, then every other
    // column prefixed with the side, a presence marker and, only when
    // the job is time-scoped, the row-level min/max cell writetime
    // (reference getTheLeastAndMostModificationTimeInMicroSeconds,
    // MvSync.java:452-479 — over non-null, non-collection cells only).
    // First-element-per-key cogroup semantics (MvSync.java:325-338) ≡
    // dropDuplicates on the PK.
    def prep(df: DataFrame, schema: TableSchema, side: String): DataFrame = {
      // Reference shouldSkip receives commonNonPrimaryKeyColumns only
      // (MvSync.java:327-346, 452-479) — min/max writetime is computed over
      // the COMMON regular columns, not each side's full schema, so scoping
      // agrees even when base/MV schemas differ. A cell participates only
      // when its VALUE is non-null (MvSync.java:459), and a non-null cell
      // with no writetime is an error (MvSync.java:468-473).
      def scope: Seq[(String, Column)] = {
        val wtCols = common
          .filterNot(schema.isCollection)
          .filter(c => df.columns.contains(schema.writetimeCol(c)))
          .map { c =>
            when(col(c).isNotNull, coalesce(col(schema.writetimeCol(c)),
              raise_error(lit(s"Modification time is not present for $c"))
                .cast("long")))
          }
        // least/greatest require ≥2 args — degrade gracefully for 0/1
        // writetime-carrying columns
        def fold(f: Seq[Column] => Column): Column = wtCols match {
          case Seq() => lit(null).cast("long")
          case Seq(only) => only
          case many => f(many)
        }
        Seq("min_wt" -> fold(cs => least(cs: _*)),
          "max_wt" -> fold(cs => greatest(cs: _*)))
      }
      // skippable when the source guarantees unique PKs
      // (Settings.trustUniquePk: any real Cassandra scan), where the
      // defensive aggregate is pure cost
      val deduped = if (settings.trustUniquePk) df else df.dropDuplicates(pk)
      val meta = ("present" -> lit(true)) +: (if (settings.timeScoped) scope else Nil)
      val payload = df.columns.toSeq.filterNot(pk.contains).map(c => c -> col(c)) ++ meta
      deduped.select(pk.map(col) ++
        payload.map { case (n, c) => c.as(s"${side}_$n") }: _*)
    }

    val b = prep(base, baseSchema, "base")
    val m = prep(mv, mvSchema, "mv")
    val joined = b.join(
      if (fitsLocalHashMap(m)) m.hint("SHUFFLE_HASH") else m, pk, "full_outer")

    // Time-scope: the reference compares SECOND-truncated writetimes —
    // minWt/1_000_000 < startSec or maxWt/1_000_000 > endSec with integer
    // division (MvSync.java:436-444) — so a row whose max cell writetime
    // falls anywhere inside the end second stays in scope. floor(m/1e6) < lo
    // ⟺ m < lo·1e6, and floor(m/1e6) > hi ⟺ m ≥ (hi+1)·1e6, for m ≥ 0.
    // The reference skips the whole KEY if the base row is out of scope,
    // else if the MV row is (MvSync.java:327-346).
    def outOfScope(side: String): Column = {
      val lo = settings.startTsEpochSec
      val hi = settings.endTsEpochSec
      val minWt = col(s"${side}_min_wt")
      val maxWt = col(s"${side}_max_wt")
      val loViol = if (lo >= 0) minWt < lit(lo * 1000000L) else lit(false)
      val hiViol = if (hi >= 0) maxWt >= lit((hi + 1) * 1000000L) else lit(false)
      coalesce(loViol || hiViol, lit(false))
    }
    val skipped: Column =
      if (!settings.timeScoped) lit(false)
      else (col("base_present").isNotNull && outOfScope("base")) ||
        (col("mv_present").isNotNull && outOfScope("mv"))

    // First-mismatch diff over common columns in sorted-name order
    // (MvSync.java:481-510): null-safe equality per cell — (null,null)
    // equal, one-sided null a mismatch — first differing column wins.
    val mismatch: Column =
      if (common.isEmpty) lit(null).cast("struct<col:string,b:string,m:string>")
      else coalesce(common.map { c =>
        val bc = canonical(col(s"base_$c"), baseSchema.cqlType(c))
        val mc = canonical(col(s"mv_$c"), mvSchema.cqlType(c))
        when(!(bc <=> mc), struct(
          lit(c).as("col"),
          renderValueOrNull(col(s"base_$c"), baseSchema.cqlType(c)).as("b"),
          renderValueOrNull(col(s"mv_$c"), mvSchema.cqlType(c)).as("m")))
      }: _*)

    // 4-way classification (MvSync.java:349-378) + the skip category.
    val problem =
      when(skipped, NotInScope)
        .when(col("base_present").isNull, MissingInBase)
        .when(col("mv_present").isNull, MissingInMv)
        .when(col("_mismatch").isNotNull, Inconsistent)
        .otherwise(Consistent)
    def ifInconsistent(field: String): Column =
      when(problem === Inconsistent, col(s"_mismatch.$field"))

    // two projections, not one: the diff is referenced four times, so it
    // is computed once below the classification
    joined.select(col("*"), mismatch.as("_mismatch")).select(
      joined.columns.toSeq.map(col) ++ Seq(
        problem.as(ProblemCol),
        ifInconsistent("col").as("mismatch_col"),
        ifInconsistent("b").as("mismatch_base"),
        ifInconsistent("m").as("mismatch_mv")): _*)
  }

  /** Spark's own bound for a per-partition hash map
   * (`JoinSelectionHelper.canBuildLocalHashMapBySize`): the side's
   * estimated size under `autoBroadcastJoinThreshold ×
   * shuffle.partitions`. A shuffled hash join builds its map in memory
   * and cannot spill, so a side over the bound (or any side, when the
   * threshold is -1) keeps the sort-merge join. */
  private def fitsLocalHashMap(side: DataFrame): Boolean = {
    val conf = side.sparkSession.sessionState.conf
    side.queryExecution.optimizedPlan.stats.sizeInBytes <
      BigInt(conf.autoBroadcastJoinThreshold) * conf.numShufflePartitions
  }

  /**
   * Canonical form for null-safe equality. Spark's `<=>` cannot compare
   * MapType; sets are order-insensitive. The reference compares JVM
   * objects with `Objects.deepEquals` (MvSync.java:491) where java Sets
   * and Maps have order-insensitive equals — reproduce by sorting.
   */
  def canonical(c: Column, cqlType: String): Column = {
    val t = cqlType.toUpperCase
    if (t.startsWith("SET")) array_sort(c)
    else if (t.startsWith("MAP")) array_sort(map_entries(c))
    else c
  }

  /**
   * Report-string rendering parity with the reference's
   * `DBOperations.convertToString` (DBOperations.java:446-460):
   * timestamps as epoch millis, blobs UTF-8 decoded, null → "null".
   */
  def renderValue(c: Column, cqlType: String): Column =
    coalesce(renderValueOrNull(c, cqlType), lit("null"))

  /** Like [[renderValue]] but keeps SQL NULL for a null input — the
   * reference's mismatch tuple carries Java null for the one-sided-null
   * case (MvSync.java:499-507), and RecordColumnInfo renders null-valued
   * infos without the ":value" suffix (RecordColumnInfo.java:37-46). */
  def renderValueOrNull(c: Column, cqlType: String): Column = {
    val t = cqlType.toUpperCase
    // integer epoch-millis (Date.getTime parity) — a bare `/` would
    // produce a double and render "1.70E12"-style scientific notation
    if (t.startsWith("TIMESTAMP"))
      floor(unix_micros(c) / 1000L).cast("long").cast("string")
    else if (t.startsWith("BLOB")) c.cast("string") // BinaryType → UTF-8
    else if (t.startsWith("MAP")) to_json(c)
    else if (t.startsWith("LIST") || t.startsWith("SET")) to_json(c)
    else c.cast("string")
  }
}
