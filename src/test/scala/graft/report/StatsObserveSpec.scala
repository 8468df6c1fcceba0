package graft.report

import graft.SparkSpec
import graft.config.Settings
import graft.reconcile.{Fixtures, MvReconciler}

class StatsObserveSpec extends SparkSpec {
  import Fixtures._

  test("observe-based counters match the aggregation-based stats") {
    val classified = MvReconciler.reconcile(
      baseBoth(spark), mvMismatchRow2(spark), baseSchema, mvSchema, Settings())
    val (df, obs) = StatsCollector.observed(classified)
    df.write.format("noop").mode("overwrite").save()
    val m = obs.get
    val stats = StatsCollector.collect(classified)
    assert(m("totRecords") == stats.totRecords)
    assert(m("CONSISTENT") == stats.consistentRecords)
    assert(m("INCONSISTENT") == stats.inConsistentRecords)
    assert(m("MISSING_IN_BASE_TABLE") == stats.missingBaseTableRecords)
    assert(m("MISSING_IN_MV_TABLE") == stats.missingMvRecords)
    assert(StatsCollector.fromObservation(obs, Settings()) == stats)
  }
}
