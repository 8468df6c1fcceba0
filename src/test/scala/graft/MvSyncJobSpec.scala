package graft

import graft.config.Settings
import graft.reconcile.{Fixtures, MvReconciler}
import graft.repair.RepairPlanner
import graft.report.{JobStats, ReportFormatter, ReportWriter}
import graft.schema.TableSchema
import graft.sources.{CommitLog, Dsv2Parquet, Dsv2ParquetSource, EqualityRepair,
  GraftParquetProvider, ParquetSource, Source}
import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `MvSyncJob.run` keeps only the rows that need action, yet its stats
 * line, reports and mutation plan equal those of the standalone layers
 * over the full classification. */
class MvSyncJobSpec extends SparkSpec {
  import Fixtures._

  private final case class DfSource(df: DataFrame) extends Source {
    override def load(spark: SparkSession, schema: TableSchema): DataFrame = df
  }

  private val Fixing = Settings(
    fixMissingMv = true, fixOrphanMv = true, fixInconsistentMv = true)

  private def pk(p: String, ck1: String, ck2: Int) =
    Map[String, Any]("pk" -> p, "ck1" -> ck1, "ck2" -> ck2)

  /** One key per category: Driver1 consistent, Driver2 inconsistent
   * (c4 44 vs 441), Driver3 missing in the MV, Driver4 an MV orphan.
   * Driver1 and Driver2 are written at Wt1, the others at Wt2. */
  private def base = df(spark, baseSchema,
    baseRow(pk("Driver1", "SF", 2020), Seq(10, 20, 30, 40), Wt1),
    baseRow(pk("Driver2", "NY", 2021), Seq(11, 22, 33, 44), Wt1),
    baseRow(pk("Driver3", "LA", 2022), Seq(12, 23, 34, 45), Wt2))
  private def mv = df(spark, mvSchema,
    mvRow(mvSchema, pk("Driver1", "SF", 2020), 10, Seq(20, 30, 40), Wt1),
    mvRow(mvSchema, pk("Driver2", "NY", 2021), 11, Seq(22, 33, 44), Wt1,
      c4Override = Some(441)),
    mvRow(mvSchema, pk("Driver4", "TX", 2023), 13, Seq(24, 35, 46), Wt2))

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Report records per category directory, order-free: partition ids
   * (the file names) follow each plan's partitioning. */
  private def records(dir: String): Map[String, Seq[String]] =
    Option(new File(dir).listFiles()).toSeq.flatten.filter(_.isDirectory).map { d =>
      d.getName -> d.listFiles().toSeq.flatMap { f =>
        Files.readString(f.toPath).split(ReportFormatter.Separator)
          .map(_.trim).filter(_.nonEmpty)
      }.sorted
    }.toMap

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def statsFile(dir: String): Option[String] = {
    val f = new File(s"$dir/stats.txt")
    if (f.exists) Some(Files.readString(f.toPath).trim) else None
  }

  /** `run` against ReportWriter.write + RepairPlanner.plan over the
   * full MvReconciler.reconcile frame, same inputs and flags. */
  private def checkAgainstLayers(settings: Settings, writeReports: Boolean) = {
    val (runDir, layerDir) = (tmpDir("graft-mvsync-run"), tmpDir("graft-mvsync-layers"))
    val result = MvSyncJob.run(spark, DfSource(base), DfSource(mv),
      baseSchema, mvSchema, settings.copy(outputDir = runDir), writeReports)
    val s = settings.copy(outputDir = layerDir)
    val classified = MvReconciler.reconcile(base, mv, baseSchema, mvSchema, s)
    val stats = ReportWriter.write(classified, baseSchema, mvSchema, s)
    val mutations = RepairPlanner.plan(classified, baseSchema, mvSchema, s)

    assert(result.stats == stats)
    assert(rows(result.mutations) == rows(mutations))
    if (writeReports) {
      assert(statsFile(runDir) == Some(stats.toString))
      assert(records(runDir) == records(layerDir))
    } else assert(new File(runDir).list().isEmpty)
    // `classified` holds exactly the rows that need action
    assert(rows(result.classified) == rows(ReportWriter.damaged(classified)))
    result
  }

  test("run matches the layers with every fix flag on") {
    val result = checkAgainstLayers(Fixing, writeReports = true)
    assert(result.stats.toString ==
      "totRecords: 4, skippedRecords: 0, consistentRecords: 1, " +
        "inConsistentRecords: 1, missingBaseTableRecords: 1, missingMvRecords: 1, " +
        "repairRecords: 3, notRepairRecords: 0, delAttemptedRecords: 1, " +
        "delErrRecords: 0, delSuccessRecords: 1, notDelRecords: 0, " +
        "upsertAttemptedRecords: 2, upsertErrRecords: 0, upsertSuccessRecords: 2")
    assert(result.classified.count() == 3)
  }

  test("run matches the layers under a time scope: NOT_IN_SCOPE feeds skippedRecords") {
    // the window ends inside Wt1's day, so the Wt2 keys are skipped
    val endSec = Wt1 / 1000000L + 12 * 3600
    val result = checkAgainstLayers(
      Fixing.copy(startTsEpochSec = 0, endTsEpochSec = endSec), writeReports = true)
    assert(result.stats.totRecords == 4 && result.stats.skippedRecords == 2 &&
      result.stats.consistentRecords == 1 && result.stats.inConsistentRecords == 1)
    assert(result.classified.count() == 1)
  }

  test("run matches the layers with writeReports = false, and writes nothing") {
    val result = checkAgainstLayers(Fixing, writeReports = false)
    assert(result.stats.totRecords == 4 && result.stats.consistentRecords == 1)
  }

  test("an empty pair completes the observation with zero counts") {
    val result = MvSyncJob.run(spark, DfSource(df(spark, baseSchema)),
      DfSource(df(spark, mvSchema)), baseSchema, mvSchema,
      Fixing.copy(outputDir = tmpDir("graft-mvsync-empty")))
    assert(result.stats == JobStats())
    assert(result.classified.count() == 0 && result.mutations.count() == 0)
  }

  /** A parquet base and a commit-logged graft MV under `tmp`. */
  private def tables(tmp: String): (String, String) = {
    val (basePath, mvPath) = (s"$tmp/base", s"$tmp/mv")
    base.write.parquet(basePath)
    val damaged = mv
    damaged.write.format(classOf[GraftParquetProvider].getName)
      .option(Dsv2Parquet.SchemaOption, damaged.schema.toDDL)
      .mode("append").save(mvPath)
    CommitLog.enable(mvPath, Dsv2Parquet.readConf)
    (basePath, mvPath)
  }

  test("run on a parquet base and a graft MV submits exactly 4 Spark jobs") {
    // the reconcile's two shuffle-map stages and its result stage (AQE
    // runs each as a job), then the one reports + stats job; loading
    // either side runs none
    val tmp = tmpDir("graft-mvsync-jobs")
    val (basePath, mvPath) = tables(tmp)
    val (result, ran) = org.apache.spark.SparkJobCount.of(spark) {
      MvSyncJob.run(spark, ParquetSource(basePath), Dsv2ParquetSource(mvPath),
        baseSchema, mvSchema, Fixing.copy(outputDir = s"$tmp/reports"))
    }
    assert(result.stats.totRecords == 4)
    assert(ran.jobs == 4 && ran.shuffleStages == 2, s"MvSyncJob.run ran $ran")
  }

  test("a second run after the repair commit reads the repaired table, not a cache") {
    val tmp = tmpDir("graft-mvsync-stale")
    val (basePath, mvPath) = tables(tmp)
    val settings = Fixing.copy(outputDir = s"$tmp/reports")
    def runOnce() = MvSyncJob.run(spark, ParquetSource(basePath),
      Dsv2ParquetSource(mvPath), baseSchema, mvSchema, settings, writeReports = false)

    val first = runOnce()
    assert(first.stats.consistentRecords == 1 && first.classified.count() == 3)
    // the repair: delete orphan and stale keys, insert the base rows of
    // missing and inconsistent keys (MV columns, values from the base)
    val keys = mvSchema.sortedPk
    val problem = col(MvReconciler.ProblemCol)
    val mvCols = spark.read.format(classOf[GraftParquetProvider].getName)
      .load(mvPath).columns.toSeq
    EqualityRepair.commit(spark, mvPath, keys,
      first.classified
        .filter(problem.isin(MvReconciler.MissingInBase, MvReconciler.Inconsistent))
        .select(keys.map(col): _*),
      first.classified
        .filter(problem.isin(MvReconciler.MissingInMv, MvReconciler.Inconsistent))
        .select(mvCols.map(c =>
          if (keys.contains(c)) col(c) else col(s"base_$c").as(c)): _*))

    val second = runOnce()
    assert(second.stats.totRecords == 3 && second.stats.consistentRecords == 3,
      s"second run: ${second.stats}")
    assert(second.classified.count() == 0)
  }
}
