package graft

import graft.config.Settings
import graft.reconcile.{Fixtures, MvReconciler}
import graft.sources.{CommitLog, Dsv2Parquet, Dsv2ParquetSource, GraftParquetProvider, Source}
import java.nio.file.Files
import org.apache.spark.sql.DataFrame

/** Drives `MvSyncJob.run` + `MvSyncJob.repair` over the `Fixtures`
 * tables, with the MV as a commit-logged graft table. */
trait MvRepairHarness { self: SparkSpec =>
  import Fixtures._

  protected val Fixing = Settings(
    fixMissingMv = true, fixOrphanMv = true, fixInconsistentMv = true)

  protected def source(df: DataFrame): Source = (_, _) => df

  /** `mv` as a commit-logged graft table in a fresh directory. */
  protected def graftMv(mv: DataFrame): String = {
    val path = s"${Files.createTempDirectory("graft-repair")}/mv"
    mv.write.format(classOf[GraftParquetProvider].getName)
      .option(Dsv2Parquet.SchemaOption, mv.schema.toDDL)
      .mode("append").save(path)
    CommitLog.enable(path, Dsv2Parquet.readConf)
    path
  }

  protected def runOn(base: DataFrame, path: String, settings: Settings) =
    MvSyncJob.run(spark, source(base), Dsv2ParquetSource(path),
      baseSchema, mvSchema, settings, writeReports = false)

  protected def commit(result: MvSyncJob.Result, base: DataFrame, path: String,
      settings: Settings): Unit =
    MvSyncJob.repair(spark, result, path, source(base), baseSchema, mvSchema, settings)

  /** `mv` written as a graft table, then run + repair against `base`. */
  protected def repaired(base: DataFrame, mv: DataFrame,
      settings: Settings = Fixing): String = {
    val path = graftMv(mv)
    commit(runOn(base, path, settings), base, path, settings)
    path
  }

  protected def live(path: String): DataFrame =
    Dsv2ParquetSource(path).load(spark, mvSchema)

  protected def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  protected def problems(base: DataFrame, path: String,
      settings: Settings = Settings()): Map[String, Long] =
    MvReconciler.reconcile(base, live(path), baseSchema, mvSchema, settings)
      .groupBy(MvReconciler.ProblemCol).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
}
