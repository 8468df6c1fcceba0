package graft.repair

import graft.{MvRepairHarness, SparkSpec}
import graft.config.Settings
import graft.reconcile.{Fixtures, MvReconciler}
import org.apache.spark.sql.functions._

class RepairPlannerSpec extends SparkSpec with MvRepairHarness {
  import Fixtures._

  private def classified(
      base: org.apache.spark.sql.DataFrame,
      mv: org.apache.spark.sql.DataFrame,
      settings: Settings) =
    MvReconciler.reconcile(base, mv, baseSchema, mvSchema, settings)

  test("no fix flags → empty plan") {
    val s = Settings()
    val plan = RepairPlanner.plan(
      classified(baseBoth(spark), mvMissingRow2(spark), s), baseSchema, mvSchema, s)
    assert(plan.count() == 0)
  }

  test("fixmissingmv: one upsert per MV non-PK column from the base row") {
    val s = Settings(fixMissingMv = true)
    val plan = RepairPlanner.plan(
      classified(baseBoth(spark), mvMissingRow2(spark), s), baseSchema, mvSchema, s)
    val rows = plan.orderBy("column").collect()
    // MV regular columns are c2,c3,c4 — mv row absent so nothing skipped.
    assert(rows.map(_.getAs[String]("column")).toSeq == Seq("c2", "c3", "c4"))
    assert(rows.forall(_.getAs[String]("op") == "UPSERT"))
    assert(rows.map(_.getAs[String]("value")).toSeq == Seq("22", "33", "44"))
    // writetime present, ttl null → TIMESTAMP flavor (UpsertFlavors.java)
    assert(rows.forall(_.getAs[String]("flavor") == RepairPlanner.Timestamp))
    assert(rows.forall(_.getAs[Long]("writetime") == Wt2))
  }

  test("fixinconsistentmv: equal columns skipped (shouldSkipField)") {
    val s = Settings(fixInconsistentMv = true)
    val plan = RepairPlanner.plan(
      classified(baseBoth(spark), mvMismatchRow2(spark), s), baseSchema, mvSchema, s)
    val rows = plan.collect()
    // Only c4 differs (44 vs 441); c2/c3 equal → skipped.
    assert(rows.length == 1)
    assert(rows(0).getAs[String]("column") == "c4" &&
      rows(0).getAs[String]("value") == "44")
  }

  test("fixorphanmv: DELETE of the orphan MV key") {
    val s = Settings(fixOrphanMv = true)
    val plan = RepairPlanner.plan(
      classified(baseMissingRow2(spark), mvBoth(spark), s), baseSchema, mvSchema, s)
    val rows = plan.collect()
    assert(rows.length == 1 && rows(0).getAs[String]("op") == "DELETE")
    assert(rows(0).getAs[String]("pk") == "Driver2")
  }

  test("uselatestts suppresses the timestamp but keeps flavor logic") {
    val s = Settings(fixMissingMv = true, useLatestTs = true)
    val plan = RepairPlanner.plan(
      classified(baseBoth(spark), mvMissingRow2(spark), s), baseSchema, mvSchema, s)
    val rows = plan.collect()
    assert(rows.forall(_.getAs[String]("flavor") == RepairPlanner.NoTimestampTtl))
    assert(rows.forall(r => r.isNullAt(r.fieldIndex("writetime"))))
  }

  test("read-before-delete guard drops keys that reappeared in base") {
    val s = Settings(fixOrphanMv = true)
    val plan = RepairPlanner.plan(
      classified(baseMissingRow2(spark), mvBoth(spark), s), baseSchema, mvSchema, s)
    // Fresh base read where Driver2 is back:
    val guarded = RepairPlanner.verifyDeletesAgainst(plan, baseBoth(spark), mvSchema.sortedPk)
    assert(guarded.filter(col("op") === "DELETE").count() == 0)
  }

  test("plan ops are disjoint per MV key (fused-merge apply invariant)") {
    // MvSyncJob.repair commits a planned DELETE's key as a delete and
    // an upserted key as delete + re-insert in ONE commit, whose inserts
    // the deletes never reach — so a key carrying both ops would survive
    // its delete. Sound only because a plan never emits both ops for one
    // PK (deletes come from MISSING_IN_BASE keys, upserts from
    // MISSING_IN_MV/INCONSISTENT — disjoint classifications). This spec
    // pins that invariant over a plan containing ALL THREE damage kinds
    // at once, so a planner change that starts mixing ops per key fails
    // here instead of silently changing repair semantics.
    val s = Settings(fixMissingMv = true, fixOrphanMv = true, fixInconsistentMv = true)
    val base = baseBoth(spark) // rows 1,2
    val row1Pk = Map[String, Any]("pk" -> "Driver1", "ck1" -> "SF", "ck2" -> 2020)
    val row3Pk = Map[String, Any]("pk" -> "Driver3", "ck1" -> "LA", "ck2" -> 2022)
    val mv = df(spark, mvSchema, // row1 mismatched, row2 absent, row3 orphan
      mvRow(mvSchema, row1Pk, 10, Seq(20, 30, 40), Wt1, c4Override = Some(401)),
      mvRow(mvSchema, row3Pk, 12, Seq(23, 34, 45), Wt2))
    val plan = RepairPlanner.plan(classified(base, mv, s), baseSchema, mvSchema, s)
    // all three damage kinds are actually present in this plan
    assert(plan.filter(col("op") === "DELETE").count() == 1)
    assert(plan.filter(col("op") === "UPSERT").count() >= 2)
    val mixed = plan.groupBy(mvSchema.sortedPk.map(col): _*)
      .agg(countDistinct(col("op")).as("n_ops"))
      .filter(col("n_ops") > 1)
    assert(mixed.count() == 0, "a PK carried both DELETE and UPSERT ops")
  }

  test("applyPlan is idempotent under retries (exactly-once posture)") {
    // the plan lands through MvSyncJob.repair: a retried commit deletes
    // the keys again, the first commit's inserts included, and inserts
    // the same rows
    val (base, path) = (baseOnePerCategory(spark), graftMv(mvOnePerCategory(spark)))
    val result = runOn(base, path, Fixing)
    commit(result, base, path, Fixing)
    val once = rows(live(path))
    commit(result, base, path, Fixing)
    assert(rows(live(path)) == once)
    assert(problems(base, path) == Map(MvReconciler.Consistent -> 3L))
  }
}
