package graft.config

import graft.SparkSpec

/** Settings defaults + key parsing parity (reference
 * MvSyncSettingsTest.java:15-84; key surface MVSyncSettings.java:13-136,
 * README.md:17-37). */
class SettingsSpec extends SparkSpec {

  test("defaults match the reference's documented defaults") {
    val s = Settings()
    assert(s.startTsEpochSec == -1L && s.endTsEpochSec == -1L)
    assert(!s.timeScoped)
    assert(!s.fixMissingMv && !s.fixOrphanMv && !s.fixInconsistentMv)
    assert(!s.useLatestTs)
    assert(s.outputDir == "/tmp/cassandra-mv-repair-spark-job/")
  }

  test("cass.mv.* keys parse from the session conf, spark. prefix accepted") {
    val keys = Seq(
      "cass.mv.keyspace" -> "ks1",
      "cass.mv.basetablename" -> "t1",
      "cass.mv.mvname" -> "mv1",
      "cass.mv.fixmissingmv" -> "true",
      "spark.cass.mv.fixorphanmv" -> "true", // spark. prefix variant
      "cass.mv.starttsinsec" -> "100",
      "cass.mv.endtsinsec" -> "200",
      "cass.mv.scan.ratelimiter" -> "77",
      "cass.mv.mutation.uselatestts" -> "true",
      "cass.mv.output.dir" -> "/tmp/x")
    try {
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      val s = Settings.fromSession(spark)
      assert(s.fixMissingMv && s.fixOrphanMv && !s.fixInconsistentMv)
      assert(s.startTsEpochSec == 100L && s.endTsEpochSec == 200L && s.timeScoped)
      assert(s.useLatestTs)
      assert(s.outputDir == "/tmp/x")
    } finally keys.foreach { case (k, _) => spark.conf.unset(k) }
  }
}
