package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Regression: repeated DV + compact cycles under a RUNNING stream
 * must never re-deliver rows. The continuous trigger's discover()
 * races the maintenance publishes — with the skip-set computed before
 * the listing, a compaction landing between the two steps streamed
 * its output (caught at 150k rows, leaking at cycle 7 of 10 —
 * BASELINE.md regime `streammaint`); listing-then-skip closes the
 * window. This spec is that regime's correctness evidence. */
class StreamMaintReproSpec extends SparkSpec {

  private def fmt = classOf[GraftParquetProvider].getName

  test("10 DV+compact cycles under a running stream deliver no duplicates") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-smrepro").toString
    val p = s"$tmp/t"
    val conf = Dsv2Parquet.readConf
    try {
      spark.range(4000).select(col("id").as("k"), (col("id") * 2).as("v"))
        .coalesce(4).write.format(fmt)
        .option(Dsv2Parquet.SchemaOption, "k BIGINT, v BIGINT")
        .mode("append").save(p)
      CommitLog.enable(p, conf)
      val sink = s"smrepro_${java.lang.Long.toHexString(System.nanoTime())}"
      val q = spark.readStream.format(fmt).load(p)
        .writeStream.outputMode("append").format("memory").queryName(sink)
        .option("checkpointLocation", s"$tmp/ckpt").start()
      try {
        q.processAllAvailable()
        assert(spark.table(sink).count() == 4000L)
        (0 until 10).foreach { c =>
          val fn = PlanningView(p, None).dataFiles.head.getPath.getName
          val dv = Dsv2Parquet.writeDvSidecar(
            new org.apache.hadoop.fs.Path(p), fn, Array(c.toLong), conf)
          CommitLog.commitUpdate(p, conf, operation = "delta")(cur =>
            Some(cur.copy(dvFiles = cur.dvFiles + dv))): Unit
          assert(GraftMaintenance.compactDeletionVectors(spark, p) == 1)
          q.processAllAvailable()
          val cnt = spark.table(sink).count()
          assert(cnt == 4000L, s"cycle $c re-delivered: $cnt")
        }
      } finally q.stop()
      spark.catalog.dropTempView(sink): Unit
    } finally {
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(): Unit
      }
      rm(new java.io.File(tmp))
    }
  }
}
