package graft.report

import graft.config.Settings
import graft.reconcile.MvReconciler._
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/**
 * Job counters, reference parity with the 15 `LongAccumulator`s of
 * `mvsync.JobStats` (JobStats.java:8-41) and its one-line summary format
 * (JobStats.java:43-75, README.md:73).
 *
 * Instead of 15 hand-incremented accumulators the counters derive from
 * per-category counts of the classified rows: observed on the pass that
 * writes the reports (`Dataset.observe`, no extra job) or, standalone,
 * one `groupBy(problem).count()`. Both feed the same flag arithmetic.
 */
final case class JobStats(
    totRecords: Long = 0,
    skippedRecords: Long = 0,
    consistentRecords: Long = 0,
    inConsistentRecords: Long = 0,
    missingBaseTableRecords: Long = 0,
    missingMvRecords: Long = 0,
    repairRecords: Long = 0,
    notRepairRecords: Long = 0,
    delAttemptedRecords: Long = 0,
    delErrRecords: Long = 0,
    delSuccessRecords: Long = 0,
    notDelRecords: Long = 0,
    upsertAttemptedRecords: Long = 0,
    upsertErrRecords: Long = 0,
    upsertSuccessRecords: Long = 0) {

  /** Byte-for-byte the reference's stats line (JobStats.java:43-75). */
  override def toString: String =
    s"totRecords: $totRecords, skippedRecords: $skippedRecords, " +
      s"consistentRecords: $consistentRecords, inConsistentRecords: $inConsistentRecords, " +
      s"missingBaseTableRecords: $missingBaseTableRecords, missingMvRecords: $missingMvRecords, " +
      s"repairRecords: $repairRecords, notRepairRecords: $notRepairRecords, " +
      s"delAttemptedRecords: $delAttemptedRecords, delErrRecords: $delErrRecords, " +
      s"delSuccessRecords: $delSuccessRecords, notDelRecords: $notDelRecords, " +
      s"upsertAttemptedRecords: $upsertAttemptedRecords, upsertErrRecords: $upsertErrRecords, " +
      s"upsertSuccessRecords: $upsertSuccessRecords"
}

object StatsCollector {

  /** Every state the classifier emits, reported or only counted. */
  private val Categories: Seq[String] =
    Seq(Consistent, Inconsistent, MissingInBase, MissingInMv, NotInScope)

  /** Category counts as a (problem, count) DataFrame — the distributed
   * part; tiny result, safe to collect. */
  def byProblem(classified: DataFrame): DataFrame =
    classified.groupBy(ProblemCol).count()

  /**
   * Zero-extra-job counters via `Dataset.observe` (operator U — the
   * reference's Codahale metrics registry, MvSyncJobMetrics.java:6-24):
   * piggybacks category counts onto whatever action the caller already
   * runs, instead of a second aggregation pass over the classified frame.
   * Read `observation.get` after the action completes.
   */
  def observed(classified: DataFrame): (DataFrame, Observation) = {
    val obs = Observation("graft_mvsync")
    def cnt(problem: String) =
      count_if(col(ProblemCol) === problem).as(problem)
    val df = classified.observe(obs,
      count(lit(1)).as("totRecords"), Categories.map(cnt): _*)
    (df, obs)
  }

  /** The stats of a completed observation from [[observed]]. */
  def fromObservation(obs: Observation, settings: Settings): JobStats = {
    val m = obs.get
    fromCounts(Categories.map(p => p -> m(p).asInstanceOf[Long]).toMap,
      settings.fixMissingMv, settings.fixOrphanMv, settings.fixInconsistentMv)
  }

  /** The stats of `classified` by one aggregation action. */
  def collect(
      classified: DataFrame,
      fixMissingMv: Boolean = false,
      fixOrphanMv: Boolean = false,
      fixInconsistentMv: Boolean = false): JobStats =
    fromCounts(byProblem(classified).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap,
      fixMissingMv, fixOrphanMv, fixInconsistentMv)

  /**
   * Category counts → the reference stats. Repair counters reflect the
   * repair flags the same way the gating logic does (MvSync.java:380-414):
   * with all fix flags off every problem row is "notRepair"/"notDel".
   */
  private def fromCounts(
      counts: Map[String, Long],
      fixMissingMv: Boolean,
      fixOrphanMv: Boolean,
      fixInconsistentMv: Boolean): JobStats = {
    def c(k: String) = counts.getOrElse(k, 0L)

    val missingBase = c(MissingInBase)
    val missingMv = c(MissingInMv)
    val inconsistent = c(Inconsistent)
    val delAttempted = if (fixOrphanMv) missingBase else 0L
    val upsertAttempted =
      (if (fixMissingMv) missingMv else 0L) +
        (if (fixInconsistentMv) inconsistent else 0L)

    JobStats(
      totRecords = counts.values.sum,
      skippedRecords = c(NotInScope),
      consistentRecords = c(Consistent),
      inConsistentRecords = inconsistent,
      missingBaseTableRecords = missingBase,
      missingMvRecords = missingMv,
      repairRecords = delAttempted + upsertAttempted,
      notRepairRecords = (missingBase + missingMv + inconsistent) - delAttempted - upsertAttempted,
      delAttemptedRecords = delAttempted,
      // a repair is one all-or-nothing commit: every attempted
      // mutation lands, or the job fails before the stats line prints
      delSuccessRecords = delAttempted,
      // Reference increments notDelRecords only inside the delete-attempted
      // branch (MvSync.java:388-395); with fixOrphanMv off the counter stays
      // 0 and the rows land in notRepairRecords instead.
      notDelRecords = if (fixOrphanMv) missingBase - delAttempted else 0L,
      upsertAttemptedRecords = upsertAttempted,
      upsertSuccessRecords = upsertAttempted)
  }
}
