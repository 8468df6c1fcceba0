package graft

import graft.config.Settings
import graft.obs.Sessions
import graft.reconcile.MvReconciler
import graft.repair.RepairPlanner
import graft.report.{JobStats, ReportWriter, StatsCollector}
import graft.schema.TableSchema
import graft.sources.{ParquetSource, Source}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * End-to-end reconciliation job: the Spark-native restatement of the
 * reference's `buildAndRunSparkJob` (MvSync.java:108-156).
 *
 *   source(base) → source(mv) → full-outer join on MV PK → classify →
 *   keep the rows that need action → [mutation plan → sink] →
 *   categorized report + stats line
 *
 * Scan, join and classify run ONCE, as one Catalyst plan with a single
 * shuffle (the join — mirroring the reference's single cogroup shuffle,
 * MvSync.java:286-287): a shuffled hash join built on the MV side while
 * that side fits Spark's local-hash-map bound, else a sort-merge join
 * (MvReconciler). Row writetime bounds are computed only for a
 * time-scoped job. That pass counts every category through
 * `Dataset.observe` and materializes only the non-consistent rows; like
 * the reference (MvSync.java:374-414), consistent and out-of-scope keys
 * are counted, never kept. Reports, the mutation plan and the caller's
 * repair then read those few rows. Repair applies from a *plan
 * DataFrame* (plan/apply split) so mutations are testable,
 * idempotent-ish and re-runnable — see RepairPlanner.
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
    val fixing = settings.fixMissingMv || settings.fixOrphanMv || settings.fixInconsistentMv
    if (fixing) {
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
   * `cass.mv.{base.path, mv.path, mv.pk, base.pk}`. Schemas are
   * discovered from one parquet footer per table, read on the driver
   * (ParquetSource.footerSchema → TableSchema.fromSchema), mirroring the
   * reference's cluster-metadata discovery; no Spark job runs before the
   * reconcile.
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
    def schemaOf(path: String, pk: Seq[String]) =
      TableSchema.fromSchema(ParquetSource.footerSchema(spark, path), pk)
    val result = run(spark, ParquetSource(basePath), ParquetSource(mvPath),
      schemaOf(basePath, basePk), schemaOf(mvPath, mvPk), settings)
    println(result.stats.toString)
  }

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
}
