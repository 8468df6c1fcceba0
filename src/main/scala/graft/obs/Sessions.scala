package graft.obs

import org.apache.spark.sql.SparkSession

/**
 * The one session factory of the entry-point mains (Bench, Verify,
 * MvSyncJob, MvSyncDemo, QueryTime, PlanDump), so every main runs
 * under the same confs and a plan captured by one is the plan another
 * runs:
 *   - master `SPARK_MASTER`, else `local[cpus]`;
 *   - `cpus` = `SPARK_GRAFT_CPUS`, else the JVM's available processors,
 *     and shuffle partitions = cpus;
 *   - session time zone UTC (oracle parity: DuckDB compares in UTC);
 *   - `spark.sql.legacy.parquet.nanosAsLong`: events.parquet carries
 *     TIMESTAMP(NANOS), which Spark 4 refuses by default; it reads as
 *     an exact nanosecond LongType instead;
 *   - UI off, log level WARN.
 */
object Sessions {

  /** Cores of the local master and the shuffle partition count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def create(appName: String): SparkSession = {
    val n = cpus
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$n]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
