package graft

import graft.config.Settings
import graft.reconcile.{Fixtures, MvReconciler}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** `MvSyncJob.repair`: the classification of a `run` lands as one
 * equality commit on a commit-logged MV table, per-column as the
 * reference upserts. */
class MvSyncRepairSpec extends SparkSpec with MvRepairHarness {
  import Fixtures._

  private def row(path: String, pk: String): Row =
    live(path).filter(col("pk") === pk).collect().toSeq match {
      case Seq(r) => r
      case rs => fail(s"$pk has ${rs.size} live rows")
    }

  test("repair converges every damage scenario to CONSISTENT") {
    Seq(
      (baseBoth(spark), mvMissingRow2(spark)),
      (baseMissingRow2(spark), mvBoth(spark)),
      (baseBoth(spark), mvMismatchRow2(spark)),
      (baseOnePerCategory(spark), mvOnePerCategory(spark))).foreach { case (base, mv) =>
      val path = repaired(base, mv)
      assert(problems(base, path) == Map(MvReconciler.Consistent -> base.count()))
    }
  }

  test("repair deletes orphans and inserts missing rows") {
    val pruned = repaired(baseMissingRow2(spark), mvBoth(spark))
    assert(live(pruned).collect().map(_.getAs[String]("pk")).toSeq == Seq("Driver1"))
    // the missing row comes back with the base cells and writetimes
    val filled = repaired(baseBoth(spark), mvMissingRow2(spark))
    assert(live(filled).count() == 2)
    val row2 = row(filled, "Driver2")
    assert(row2.getAs[Int]("c2") == 22 && row2.getAs[Int]("c3") == 33 &&
      row2.getAs[Int]("c4") == 44)
    assert(row2.getAs[Long]("writetime_c3") == Wt2)
  }

  test("on an INCONSISTENT key the equal cells keep their MV writetime and TTL") {
    // MV row2: c4 differs (441 vs 44); every cell written at Wt1 with a
    // one-hour TTL, where the base wrote at Wt2 without one
    val ttl = 3600
    val mv = mvMismatchRow2(spark)
      .withColumns(mvSchema.sortedRegular.flatMap(c => Seq(
        mvSchema.writetimeCol(c) -> when(col("pk") === "Driver2", lit(Wt1))
          .otherwise(col(mvSchema.writetimeCol(c))),
        mvSchema.ttlCol(c) -> when(col("pk") === "Driver2", lit(ttl))
          .otherwise(col(mvSchema.ttlCol(c))))).toMap)
    val path = repaired(baseBoth(spark), mv)
    val r = row(path, "Driver2")
    Seq("c2", "c3").foreach { c =>
      assert(r.getAs[Long](s"writetime_$c") == Wt1 && r.getAs[Int](s"ttl_$c") == ttl, c)
    }
    assert(r.getAs[Int]("c4") == 44 && r.getAs[Long]("writetime_c4") == Wt2 &&
      r.isNullAt(r.fieldIndex("ttl_c4")))
    assert(problems(baseBoth(spark), path) == Map(MvReconciler.Consistent -> 2L))
  }

  test("with one fix flag off, that category's keys are untouched") {
    val base = baseOnePerCategory(spark)
    val mv = mvOnePerCategory(spark)
    // the orphan is the one key base lacks, so leaving it leaves 3
    // consistent keys, and leaving either other category 2
    Seq(
      (Fixing.copy(fixMissingMv = false), MvReconciler.MissingInMv, "Driver3", 2L),
      (Fixing.copy(fixOrphanMv = false), MvReconciler.MissingInBase, "Driver4", 3L),
      (Fixing.copy(fixInconsistentMv = false), MvReconciler.Inconsistent, "Driver2", 2L))
      .foreach { case (settings, left, pk, consistent) =>
        val path = repaired(base, mv, settings)
        assert(problems(base, path) ==
          Map(MvReconciler.Consistent -> consistent, left -> 1L), left)
        val after = live(path)
        assert(rows(after.filter(col("pk") === pk)) ==
          rows(mv.filter(col("pk") === pk).select(after.columns.toIndexedSeq.map(col): _*)),
          left)
      }
  }

  test("a useLatestTs repair stamps the commit's clock, so a time-scoped reconcile completes") {
    val base = baseOnePerCategory(spark)
    val before = System.currentTimeMillis() * 1000L
    val path = repaired(base, mvOnePerCategory(spark), Fixing.copy(useLatestTs = true))
    // Driver3 was missing, Driver2 differed in c4 only
    val (inserted, fixed) = (row(path, "Driver3"), row(path, "Driver2"))
    mvSchema.sortedRegular.foreach { c =>
      assert(inserted.getAs[Long](s"writetime_$c") >= before, c)
    }
    assert(fixed.getAs[Long]("writetime_c4") >= before)
    assert(fixed.getAs[Long]("writetime_c2") == Wt1)
    // a cell with a value and no writetime would raise "Modification
    // time is not present" here
    assert(problems(base, path, Settings(startTsEpochSec = 0)) ==
      Map(MvReconciler.Consistent -> 3L))
  }
}
