package graft.config

import org.apache.spark.sql.SparkSession

/**
 * Job configuration: the keys of the reference's `MVSyncSettings`
 * (reference: src/main/java/mvsync/MVSyncSettings.java:11-137) that
 * this job acts on, plus one engine key.
 *
 * Keys live under the `cass.mv.` prefix and are also accepted with a
 * leading `spark.` (reference MVSyncSettings.java:123-130). Defaults
 * reproduce the reference's documented defaults (README.md:17-37). The
 * reference's connection, consistency, keyspace/table-name and
 * rate-limit keys have no field: the job reads tables by path through
 * the graft connector and commits a repair as one all-or-nothing
 * version, so nothing would read them.
 *
 * This is a plain immutable case class: resolve once on the driver from
 * the SparkSession conf (or any Map), then ship by closure — at 100 TB
 * scale config must never require an executor-side lookup.
 */
final case class Settings(
    startTsEpochSec: Long = -1L,
    endTsEpochSec: Long = -1L,
    fixMissingMv: Boolean = false,
    fixOrphanMv: Boolean = false,
    fixInconsistentMv: Boolean = false,
    useLatestTs: Boolean = false,
    outputDir: String = "/tmp/cassandra-mv-repair-spark-job/",
    /** Engine extension (no reference key): skip the per-side
     * dropDuplicates in the reconcile prep. Cassandra scans cannot
     * yield duplicate primary keys (the PK IS the table key), so the
     * reference's defensive first-element cogroup semantics
     * (MvSync.java:325-338) and a plain join coincide — but the
     * defensive aggregate costs a full per-side SortAggregate. Default
     * keeps exact reference parity; set true when the source guarantees
     * key uniqueness (any real Cassandra scan). */
    trustUniquePk: Boolean = false
) extends Serializable {
  /** Time-scope filtering active iff either bound is set (>= 0). */
  def timeScoped: Boolean = startTsEpochSec >= 0 || endTsEpochSec >= 0
}

object Settings {
  val Prefix = "cass.mv"

  /** Read `cass.mv.*` (or `spark.cass.mv.*`) keys from the session conf. */
  def fromSession(spark: SparkSession): Settings = {
    val conf = spark.conf
    def get(suffix: String, default: String): String = {
      val k = s"$Prefix.$suffix"
      conf.getOption(k).orElse(conf.getOption(s"spark.$k")).filter(_.nonEmpty)
        .getOrElse(default)
    }
    Settings(
      startTsEpochSec = get("starttsinsec", "-1").toLong,
      endTsEpochSec = get("endtsinsec", "-1").toLong,
      fixMissingMv = get("fixmissingmv", "false").toBoolean,
      fixOrphanMv = get("fixorphanmv", "false").toBoolean,
      fixInconsistentMv = get("fixinconsistentmv", "false").toBoolean,
      useLatestTs = get("mutation.uselatestts", "false").toBoolean,
      outputDir = get("output.dir", "/tmp/cassandra-mv-repair-spark-job/"),
      trustUniquePk = get("trustuniquepk", "false").toBoolean
    )
  }
}
