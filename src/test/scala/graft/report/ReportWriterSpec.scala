package graft.report

import graft.SparkSpec
import graft.config.Settings
import graft.reconcile.{Fixtures, MvReconciler}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class ReportWriterSpec extends SparkSpec {
  import Fixtures._

  test("report format + file scheme + stats.txt parity") {
    val outDir = Files.createTempDirectory("graft-report").toString
    val settings = Settings(outputDir = outDir)
    val classified = MvReconciler.reconcile(
      baseBoth(spark), mvMismatchRow2(spark), baseSchema, mvSchema, settings)
    val stats = ReportWriter.write(classified, baseSchema, mvSchema, settings)

    assert(stats.totRecords == 2 && stats.inConsistentRecords == 1)

    // stats.txt carries the reference-format line (JobStats.java:43-75)
    val statsLine = Files.readAllLines(Paths.get(s"$outDir/stats.txt")).get(0)
    assert(statsLine ==
      "totRecords: 2, skippedRecords: 0, consistentRecords: 1, " +
        "inConsistentRecords: 1, missingBaseTableRecords: 0, missingMvRecords: 0, " +
        "repairRecords: 0, notRepairRecords: 1, delAttemptedRecords: 0, " +
        "delErrRecords: 0, delSuccessRecords: 0, notDelRecords: 0, " +
        "upsertAttemptedRecords: 0, upsertErrRecords: 0, upsertSuccessRecords: 0")

    // INCONSISTENT/<pid>.txt exists and carries the reference layout
    val dir = Paths.get(s"$outDir/INCONSISTENT")
    assert(Files.exists(dir))
    val files = Files.list(dir).iterator().asScala.toSeq
    assert(files.nonEmpty && files.forall(_.getFileName.toString.matches("\\d+\\.txt")))
    val content = files.map(f => Files.readString(f)).mkString
    assert(content.contains("Problem: INCONSISTENT\n"))
    // RowKey: MV PK name:TYPE:value sorted by name (RecordPrimaryKey.java:62-76)
    assert(content.contains("RowKey: c1:INT:11,ck1:ASCII:NY,ck2:INT:2021,pk:ASCII:Driver2\n"))
    assert(content.contains("BaseColumn: c4:INT:44\n"))
    assert(content.contains("MvColumn: c4:INT:441"))
    assert(content.contains("=============================="))
    assert(content.contains("MainTableEntry: CassandraRow{"))
  }

  test("reports + stats line run as ONE Spark job") {
    // The category counts are observed on the report pass, not taken by a
    // second aggregation. AQE off: it would submit each exchange stage
    // as a job of its own, counting scheduling structure, not actions.
    val outDir = Files.createTempDirectory("graft-report-1job").toString
    val settings = Settings(outputDir = outDir)
    val classified = MvReconciler.reconcile(
      baseBoth(spark), mvMismatchRow2(spark), baseSchema, mvSchema, settings)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.addSparkListener(listener)
    val stats = try {
      val s = ReportWriter.write(classified, baseSchema, mvSchema, settings)
      // listener delivery is async — settle before asserting
      val deadline = System.nanoTime() + 5000000000L
      while (jobs.get() < 1 && System.nanoTime() < deadline)
        Thread.sleep(20)
      Thread.sleep(200)
      s
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
    assert(jobs.get() == 1,
      s"reports + stats submitted ${jobs.get()} jobs; they need exactly one")
    assert(stats == StatsCollector.collect(classified))
    assert(Files.exists(Paths.get(s"$outDir/INCONSISTENT")))
  }

  test("one-sided-null mismatch renders bare col:TYPE (no :null suffix)") {
    import org.apache.spark.sql.Row
    val outDir = Files.createTempDirectory("graft-report3").toString
    val settings = Settings(outputDir = outDir)
    // base c4=44 vs mv c4=null → RecordColumnInfo.toString omits the value
    // part for the null side (RecordColumnInfo.java:37-46)
    val mvNullC4 = Fixtures.df(spark, mvSchema,
      mvRow(mvSchema, Map("pk" -> "Driver1", "ck1" -> "SF", "ck2" -> 2020),
        10, Seq(20, 30, 40), Wt1),
      Row.fromSeq(Seq(11, "Driver2", "NY", 2021) ++
        Seq(22, Wt2, null, 33, Wt2, null, null, null, null)))
    val classified = MvReconciler.reconcile(
      baseBoth(spark), mvNullC4, baseSchema, mvSchema, settings)
    ReportWriter.write(classified, baseSchema, mvSchema, settings)
    val content = Files.list(Paths.get(s"$outDir/INCONSISTENT")).iterator().asScala
      .toSeq.map(f => Files.readString(f)).mkString
    assert(content.contains("BaseColumn: c4:INT:44\n"))
    assert(content.contains("MvColumn: c4:INT\n"))
    assert(!content.contains("c4:INT:null"))
  }

  test("failed mutations land in ERR_DELETING / ERR_UPSERTING files") {
    import spark.implicits._
    val outDir = Files.createTempDirectory("graft-report-err").toString
    val errors = Seq(
      ("DELETE", "Problem: MISSING_IN_BASE_TABLE\nRowKey: k1", "timeout"),
      ("UPSERT", "Problem: INCONSISTENT\nRowKey: k2", "unavailable"))
      .toDF("op", "report", "error")
    ReportWriter.writeMutationErrors(errors, outDir)
    def slurp(cat: String) =
      Files.list(Paths.get(s"$outDir/$cat")).iterator().asScala.toSeq
        .map(f => Files.readString(f)).mkString
    val del = slurp("ERR_DELETING")
    assert(del.contains("RowKey: k1") && del.contains("timeout") &&
      del.contains("=============================="))
    val ups = slurp("ERR_UPSERTING")
    assert(ups.contains("RowKey: k2") && ups.contains("unavailable"))
  }

  test("missing-in-mv report renders MVTableEntry: null") {
    val outDir = Files.createTempDirectory("graft-report2").toString
    val settings = Settings(outputDir = outDir)
    val classified = MvReconciler.reconcile(
      baseBoth(spark), mvMissingRow2(spark), baseSchema, mvSchema, settings)
    ReportWriter.write(classified, baseSchema, mvSchema, settings)
    val dir = Paths.get(s"$outDir/MISSING_IN_MV_TABLE")
    val content = Files.list(dir).iterator().asScala.toSeq
      .map(f => Files.readString(f)).mkString
    assert(content.contains("Problem: MISSING_IN_MV_TABLE\n"))
    assert(content.contains("MVTableEntry: null"))
    assert(!content.contains("BaseColumn:"))
  }
}
