package graft

import graft.config.Settings
import graft.reconcile.{Fixtures, MvReconciler}
import graft.repair.RepairPlanner
import graft.report.{JobStats, ReportFormatter, ReportWriter}
import graft.schema.TableSchema
import graft.sources.{CommitLog, Dsv2Parquet, Dsv2ParquetSource, GraftCatalog,
  GraftParquetProvider, ParquetSource, Source}
import java.io.File
import java.nio.file.Files
import org.apache.hadoop.fs.Path
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

  private def base = baseOnePerCategory(spark)
  private def mv = mvOnePerCategory(spark)

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
    def versions = CommitLog.versions(new Path(mvPath), Dsv2Parquet.readConf).length
    val before = versions
    MvSyncJob.repair(spark, first, mvPath, ParquetSource(basePath),
      baseSchema, mvSchema, settings)
    assert(versions == before + 1, "repair publishes exactly one version")

    val second = runOnce()
    assert(second.stats.totRecords == 3 && second.stats.consistentRecords == 3,
      s"second run: ${second.stats}")
    assert(second.classified.count() == 0)
  }

  /** The stats line `MvSyncJob.main` prints for `args` under the
   * `cass.mv.*` session confs `conf`. */
  private def mainLine(args: Seq[String], conf: Map[String, String]): String = {
    val saved = (conf.keys.toSeq :+ "spark.sql.shuffle.partitions")
      .map(k => k -> spark.conf.getOption(k))
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    val out = new java.io.ByteArrayOutputStream
    try Console.withOut(new java.io.PrintStream(out, true)) {
      MvSyncJob.main(args.toArray)
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
    out.toString("UTF-8").linesIterator.filter(_.startsWith("totRecords:")).toSeq.last
  }

  private def fixFlags(outputDir: String) = Map(
    "cass.mv.fixmissingmv" -> "true", "cass.mv.fixorphanmv" -> "true",
    "cass.mv.fixinconsistentmv" -> "true", "cass.mv.output.dir" -> outputDir)

  test("main repairs a graft MV when a fix flag is set; a second main reports it consistent") {
    val tmp = tmpDir("graft-mvsync-main")
    val (basePath, mvPath) = tables(tmp)
    val args = Seq(basePath, mvPath, mvSchema.pk.mkString(","))
    val first = mainLine(args, fixFlags(s"$tmp/reports-1"))
    assert(first.startsWith("totRecords: 4, skippedRecords: 0, consistentRecords: 1,"), first)
    val second = mainLine(args, fixFlags(s"$tmp/reports-2"))
    val settings = Fixing.copy(outputDir = s"$tmp/reports-3")
    val viaConnector = MvSyncJob.run(spark, Dsv2ParquetSource(basePath),
      Dsv2ParquetSource(mvPath), baseSchema, mvSchema, settings, writeReports = false)
    assert(viaConnector.stats.totRecords == 3 && viaConnector.stats.consistentRecords == 3)
    assert(second == viaConnector.stats.toString)
  }

  test("main's MV schema is the connector's: a column added by ALTER TABLE is compared") {
    val tmp = tmpDir("graft-mvsync-alter")
    val basePath = s"$tmp/base"
    base.withColumn("c5", lit(5)).write.parquet(basePath)
    val cat = s"gmain_${java.lang.Long.toHexString(System.nanoTime())}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", s"$tmp/cat")
    try {
      mv.writeTo(s"$cat.db.mv").create()
      spark.sql(s"ALTER TABLE $cat.db.mv ADD COLUMN c5 INT")
      // Driver3 lands with c5 in a file of its own, part-00001-*: the
      // frame's first partition is empty. The first file in path order
      // is then a pre-ALTER part-00000-*, so a schema read from that
      // one file would miss c5
      df(spark, mvSchema, mvRow(mvSchema,
          Map("pk" -> "Driver3", "ck1" -> "LA", "ck2" -> 2022), 12, Seq(23, 34, 45), Wt2))
        .withColumn("c5", lit(5)).writeTo(s"$cat.db.mv").append()
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.root")
    }
    // c5 compared: Driver1 and Driver2 differ in it (null vs 5), and
    // Driver3 agrees
    val line = mainLine(Seq(basePath, s"$tmp/cat/db/mv", mvSchema.pk.mkString(",")),
      Map("cass.mv.output.dir" -> s"$tmp/reports"))
    assert(line.startsWith("totRecords: 4, skippedRecords: 0, consistentRecords: 1, " +
      "inConsistentRecords: 2, missingBaseTableRecords: 1, missingMvRecords: 0,"), line)
  }
}
