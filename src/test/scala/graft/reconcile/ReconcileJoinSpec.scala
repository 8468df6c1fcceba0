package graft.reconcile

import graft.SparkSpec
import graft.config.Settings
import graft.operators.ReconQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

/** The reconcile join: a shuffled hash join built on the MV side under
 * Spark's local-hash-map bound, the sort-merge join otherwise, and the
 * same classification from both. */
class ReconcileJoinSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val schema = AllTypesFixture.schema
  private val Untrusted = Settings(trustUniquePk = false)

  /** Runs `f` with Spark's hash-map bound at -1, so the guard refuses
   * the hash join. */
  private def sortMerge[A](f: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try f finally spark.conf.set(key, prev)
  }

  private def joins(df: DataFrame): Seq[String] = {
    df.collect()
    collect(df.queryExecution.executedPlan) {
      case j: ShuffledHashJoinExec => s"hash build ${j.buildSide}"
      case _: SortMergeJoinExec => "sort-merge"
    }
  }

  private def rows(df: DataFrame): Seq[String] =
    df.select(to_json(struct(df.columns.toSeq.map(col): _*)))
      .collect().map(_.getString(0)).toSeq.sorted

  private def problem(p: String): String = s"\"${MvReconciler.ProblemCol}\":\"$p\""

  /** Both sides of AllTypesFixture, each with writetimes on two columns:
   * id seconds after the epoch anchor; `nullWtAt` drops one. */
  private def scoped(df: DataFrame, nullWtAt: Long = -1L): DataFrame = {
    val wt = (lit(AllTypesFixture.EpochAnchorSec) + col("id")) * 1000000L
    df.withColumn("writetime_c_int", wt)
      .withColumn("writetime_c_text", when(col("id") =!= nullWtAt, wt))
  }

  private def reconcile(base: DataFrame, mv: DataFrame, s: Settings): DataFrame =
    MvReconciler.reconcile(base, mv, schema, schema, s)

  test("default confs plan a shuffled hash join built on the MV side; " +
      "a -1 broadcast threshold plans the sort-merge join") {
    val base = AllTypesFixture.base(spark)
    val mv = AllTypesFixture.mv(spark)
    assert(joins(reconcile(base, mv, Untrusted)) == Seq(s"hash build $BuildRight"))
    sortMerge {
      assert(joins(reconcile(base, mv, Untrusted)) == Seq("sort-merge"))
    }
  }

  test("both joins classify AllTypesFixture identically (set, map and null " +
      "cells, trustUniquePk = false)") {
    val base = AllTypesFixture.base(spark)
    val mv = AllTypesFixture.mv(spark)
    val hash = rows(reconcile(base, mv, Untrusted))
    val merged = sortMerge(rows(reconcile(base, mv, Untrusted)))
    assert(hash == merged)
    Seq(MvReconciler.Consistent, MvReconciler.Inconsistent,
        MvReconciler.MissingInBase, MvReconciler.MissingInMv).foreach { p =>
      assert(hash.exists(_.contains(problem(p))), s"no $p row")
    }
  }

  test("both joins agree on a time-scoped run, and both still raise on a " +
      "missing writetime") {
    val s = Untrusted.copy(endTsEpochSec = AllTypesFixture.EpochAnchorSec + 1000)
    val (base, mv) = (scoped(AllTypesFixture.base(spark)), scoped(AllTypesFixture.mv(spark)))
    val hash = reconcile(base, mv, s)
    assert(hash.columns.contains("base_min_wt") && hash.columns.contains("mv_max_wt"))
    val out = rows(hash)
    assert(out == sortMerge(rows(reconcile(base, mv, s))))
    assert(out.count(_.contains(problem(MvReconciler.NotInScope))) > 0)
    // unscoped, the writetime bounds are neither computed nor carried
    assert(!reconcile(base, mv, Untrusted).columns.exists(_.endsWith("_wt")))

    val broken = scoped(AllTypesFixture.base(spark), nullWtAt = 7L)
    def raises(f: => Any): Unit = {
      val e = intercept[Exception](f)
      assert(e.getMessage.contains("Modification time is not present"), e.getMessage)
    }
    raises(reconcile(broken, mv, s).collect())
    sortMerge(raises(reconcile(broken, mv, s).collect()))
  }

  test("the bucketed reconciles still plan no exchange and classify as " +
      "recon_classify does") {
    val dir = flagshipDir
    val want = rows(ReconQueries.reconClassify(spark, dir))
    // each asserts its own zero-exchange plan before it runs
    assert(rows(ReconQueries.reconClassifyBucketed(spark, dir)) == want)
    assert(rows(ReconQueries.reconClassifyBucketedDsv2(spark, dir)) == want)
  }
}
