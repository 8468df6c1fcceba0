package graft

import graft.config.Settings
import graft.obs.Sessions
import graft.reconcile.MvReconciler
import graft.repair.RepairPlanner
import graft.report.{JobStats, ReportWriter, StatsCollector}
import graft.schema.TableSchema
import graft.sources.{Dsv2ParquetSource, EqualityRepair, GraftParquetProvider, Source}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/**
 * End-to-end reconciliation job: the Spark-native restatement of the
 * reference's `buildAndRunSparkJob` (MvSync.java:108-156).
 *
 *   source(base) → source(mv) → full-outer join on MV PK → classify →
 *   keep the rows that need action → mutation plan →
 *   categorized report + stats line → [repair commit]
 *
 * Scan, join and classify run ONCE, as one Catalyst plan with a single
 * shuffle (the join — mirroring the reference's single cogroup shuffle,
 * MvSync.java:286-287): a shuffled hash join built on the MV side while
 * that side fits Spark's local-hash-map bound, else a sort-merge join
 * (MvReconciler). Row writetime bounds are computed only for a
 * time-scoped job. That pass counts every category through
 * `Dataset.observe` and materializes only the non-consistent rows; like
 * the reference (MvSync.java:374-414), consistent and out-of-scope keys
 * are counted, never kept. Reports, the mutation plan and [[repair]]
 * then read those few rows.
 */
object MvSyncJob {

  /** @param classified the classified rows that need action, i.e. the
   *                   ReportWriter.ReportedProblems categories only, as a
   *                   local checkpoint whose blocks Spark frees once the
   *                   result is unreachable; every category's total,
   *                   CONSISTENT and NOT_IN_SCOPE included, is in `stats`
   * @param mutations  the repair plan over `classified` (RepairPlanner) */
  final case class Result(classified: DataFrame, mutations: DataFrame, stats: JobStats)

  /** Fail-fast validation (reference MvSync.java:92-106): repair flags
   * set + un-repairable column types → error before any scan. */
  def validate(settings: Settings, mvSchema: TableSchema): Unit = {
    if (fixing(settings)) {
      val bad = TableSchema.unsupportedForRepair(mvSchema)
      require(bad.isEmpty,
        s"Automated repair does not support column types of: ${bad.mkString(", ")}")
    }
  }

  /**
   * spark-submit-style entry (reference MvSync.main, MvSync.java:43-45):
   * settings come from `cass.mv.*` session conf (Settings.fromSession);
   * the offline-mode table locations and MV key come from args or conf —
   * `args = [basePath, mvPath, mvPk(comma-sep), basePk(comma-sep)]`, or
   * `cass.mv.{base.path, mv.path, mv.pk, base.pk}`. Both tables are
   * read through the graft connector (Dsv2ParquetSource), so a
   * commit-logged table reads as its current snapshot, and each schema
   * is the one the connector serves: the union over the snapshot's live
   * files, not one listed file's (TableSchema.fromSchema), mirroring the
   * reference's cluster-metadata discovery. When a `cass.mv.fix*` flag
   * is set, [[repair]] commits the repair to the MV table before the
   * stats line prints.
   */
  def main(args: Array[String]): Unit = {
    val spark = Sessions.create("graft-mvsync")
    def conf(k: String): Option[String] =
      spark.conf.getOption(s"cass.mv.$k").orElse(spark.conf.getOption(s"spark.cass.mv.$k"))
    def need(i: Int, k: String): String =
      args.lift(i).orElse(conf(k)).getOrElse(
        sys.error(s"missing arg ${i + 1} / conf cass.mv.$k"))
    val basePath = need(0, "base.path")
    val mvPath = need(1, "mv.path")
    val mvPk = need(2, "mv.pk").split(",").toSeq
    val basePk = args.lift(3).orElse(conf("base.pk"))
      .map(_.split(",").toSeq).getOrElse(mvPk.tail)
    val settings = Settings.fromSession(spark)
    def schemaOf(path: String, pk: Seq[String]) = TableSchema.fromSchema(
      spark.read.format(classOf[GraftParquetProvider].getName).load(path).schema, pk)
    val (base, baseSchema) = (Dsv2ParquetSource(basePath), schemaOf(basePath, basePk))
    val mvSchema = schemaOf(mvPath, mvPk)
    val result = run(spark, base, Dsv2ParquetSource(mvPath), baseSchema, mvSchema, settings)
    if (fixing(settings))
      repair(spark, result, mvPath, base, baseSchema, mvSchema, settings)
    println(result.stats.toString)
  }

  private def fixing(s: Settings): Boolean =
    s.fixMissingMv || s.fixOrphanMv || s.fixInconsistentMv

  def run(
      spark: SparkSession,
      baseSource: Source,
      mvSource: Source,
      baseSchema: TableSchema,
      mvSchema: TableSchema,
      settings: Settings,
      writeReports: Boolean = true): Result = {
    validate(settings, mvSchema)
    val base = baseSource.load(spark, baseSchema)
    val mv = mvSource.load(spark, mvSchema)
    val (observed, obs) = StatsCollector.observed(
      MvReconciler.reconcile(base, mv, baseSchema, mvSchema, settings))
    // Eager: this action is the one scan → join → classify pass, and it
    // completes `obs`. A checkpoint, not cache(): a cached plan would
    // answer a later reconcile of the repaired tables in this session
    // (observe's id is dropped when plans are compared), a checkpoint's
    // RDD is never plan-matched. It also measured faster than cache() on
    // a 200k-key pair with ~10% damage (4 vCPUs, 3 interleaved runs).
    val classified = ReportWriter.damaged(observed).localCheckpoint()
    val mutations = RepairPlanner.plan(classified, baseSchema, mvSchema, settings)
    val stats =
      if (writeReports)
        ReportWriter.writeObserved(classified, obs, baseSchema, mvSchema, settings)
      else StatsCollector.fromObservation(obs, settings)
    Result(classified, mutations, stats)
  }

  /**
   * Commits `result`'s repair to the MV table at `mvPath` as ONE
   * [[graft.sources.EqualityRepair]] commit, the reference's in-job
   * repair (MvSync.java:380-414):
   *  - deletes: the plan's DELETE keys that a fresh read of `baseSource`
   *    does not hold (read-before-delete, DBOperations.java:196-228, via
   *    [[RepairPlanner.verifyDeletesAgainst]]), plus every upserted key;
   *  - inserts: [[RepairPlanner.upsertRows]] for the MISSING_IN_MV_TABLE
   *    and INCONSISTENT keys the flags repair — equal cells keep the MV's
   *    value, writetime and TTL, the others take the base cell's.
   * An upsert thus replaces its key's row whether or not the table
   * holds one, so committing the same result twice leaves the same live
   * rows. A key outside the flags' categories is untouched.
   */
  def repair(
      spark: SparkSession,
      result: Result,
      mvPath: String,
      baseSource: Source,
      baseSchema: TableSchema,
      mvSchema: TableSchema,
      settings: Settings): Unit = {
    val pk = mvSchema.sortedPk.map(col)
    val orphans = RepairPlanner.verifyDeletesAgainst(
        result.mutations, baseSource.load(spark, baseSchema), mvSchema.sortedPk)
      .filter(col("op") === "DELETE").select(pk: _*)
    val upserts = RepairPlanner.upsertRows(
      result.classified, mvSchema, settings, System.currentTimeMillis() * 1000L)
    EqualityRepair.commit(spark, mvPath, mvSchema.sortedPk,
      orphans.unionByName(upserts.select(pk: _*)), upserts)
  }
}
