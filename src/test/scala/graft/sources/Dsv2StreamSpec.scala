package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The DSv2 micro-batch read: bounded admission (row groups per
 * trigger), discovery of late-arriving files, restart-stable offset
 * mapping through the persisted file-order log, and pruned projection
 * on the streaming path. */
class Dsv2StreamSpec extends SparkSpec {
  import spark.implicits._

  private def fmt = classOf[GraftParquetProvider].getName

  private def withTmp[A](f: String => A): A = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-dsv2-stream").toString
    try f(tmp)
    finally {
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(): Unit
      }
      rm(new java.io.File(tmp))
    }
  }

  private def fixture(n: Int): DataFrame =
    spark.range(n).select(col("id").as("k"),
      (col("id") % 9).cast("int").as("i"),
      concat(lit("v"), (col("id") % 5).cast("string")).as("s"))

  test("drains a 4-file backlog in bounded micro-batches, values exact") {
    withTmp { tmp =>
      val p = s"$tmp/t"
      fixture(80).repartition(4).write.parquet(p)
      val sink = s"dsv2_stream_${java.lang.Long.toHexString(System.nanoTime())}"
      val q = spark.readStream.format(fmt)
        .option(Dsv2Parquet.MaxRowGroupsPerTriggerOption, "1")
        .load(p)
        .writeStream.outputMode("append").format("memory").queryName(sink)
        .option("checkpointLocation", s"$tmp/ckpt").start()
      try q.processAllAvailable() finally q.stop()
      val got = spark.table(sink).collect().map(_.toSeq).toSet
      assert(got == fixture(80).collect().map(_.toSeq).toSet)
      // bounded admission: 4 row groups at 1/trigger → ≥4 data batches
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(dataBatches >= 4, s"expected >=4 micro-batches, saw $dataBatches")
      spark.catalog.dropTempView(sink)
    }
  }

  test("discovers files that arrive after the stream started") {
    withTmp { tmp =>
      val p = s"$tmp/t"
      fixture(10).coalesce(1).write.parquet(p)
      val sink = s"dsv2_growing_${java.lang.Long.toHexString(System.nanoTime())}"
      val q = spark.readStream.format(fmt).load(p)
        .writeStream.outputMode("append").format("memory").queryName(sink)
        .option("checkpointLocation", s"$tmp/ckpt").start()
      try {
        q.processAllAvailable()
        assert(spark.table(sink).count() == 10L)
        // late arrival through the DSv2 WRITER (staging stays invisible)
        fixture(10).select((col("k") + 100).as("k"), col("i"), col("s"))
          .coalesce(1).write.format(fmt).mode("append").save(p)
        q.processAllAvailable()
        assert(spark.table(sink).count() == 20L)
      } finally q.stop()
      spark.catalog.dropTempView(sink)
    }
  }

  test("offset mapping is restart-stable via the file-order log") {
    withTmp { tmp =>
      val p = s"$tmp/t"
      val ckpt = s"$tmp/ckpt"
      // two files whose names sort AGAINST arrival order would reorder
      // a naive re-list; the log must pin discovery order
      fixture(5).coalesce(1).write.parquet(s"$tmp/stage1")
      val schema = StructType.fromDDL("k BIGINT, i INT, s STRING")
      new java.io.File(p).mkdirs()
      def copyIn(from: String, name: String): Unit = {
        val src = new java.io.File(from).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.copy(src.toPath,
          new java.io.File(p, name).toPath)
        ()
      }
      copyIn(s"$tmp/stage1", "zzz-first.parquet")
      val s1 = new GraftParquetMicroBatchStream(p, schema, Array.empty,
        ckpt, Some(1))
      val o1 = s1.latestOffset(GraftStreamOffset(0L),
        org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
      assert(o1 == GraftStreamOffset(1L))
      val firstPlan = s1.planInputPartitions(GraftStreamOffset(0L), o1)
        .map(_.asInstanceOf[GraftParquetPartition].file)
      // a second file arrives whose NAME sorts before the first
      copyIn(s"$tmp/stage1", "aaa-second.parquet")
      // a fresh stream instance (= query restart) reloads the log: the
      // already-consumed offset range must map to the SAME file
      val s2 = new GraftParquetMicroBatchStream(p, schema, Array.empty,
        ckpt, Some(1))
      s2.latestOffset()
      val replan = s2.planInputPartitions(GraftStreamOffset(0L),
        GraftStreamOffset(1L))
        .map(_.asInstanceOf[GraftParquetPartition].file)
      assert(replan.toSeq == firstPlan.toSeq)
      // and the new file occupies the NEXT offset, despite its name
      val next = s2.planInputPartitions(GraftStreamOffset(1L),
        GraftStreamOffset(2L))
        .map(_.asInstanceOf[GraftParquetPartition].file)
      assert(next.head.endsWith("aaa-second.parquet"))
    }
  }

  test("restart recovers from the log alone — purged segments tolerated") {
    withTmp { tmp =>
      val p = s"$tmp/t"
      val ckpt = s"$tmp/ckpt"
      val schema = StructType.fromDDL("k BIGINT, i INT, s STRING")
      fixture(5).coalesce(1).write.parquet(p)
      val s1 = new GraftParquetMicroBatchStream(p, schema, Array.empty,
        ckpt, None)
      val end1 = s1.latestOffset()
      // the consumed segment is PURGED (retention) before restart
      new java.io.File(p).listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach(_.delete())
      fixture(3).select((col("k") + 50).as("k"), col("i"), col("s"))
        .coalesce(1).write.mode("append").parquet(p)
      // a fresh instance (= query restart) must rebuild the offset
      // mapping from the log WITHOUT touching the purged file
      val s2 = new GraftParquetMicroBatchStream(p, schema, Array.empty,
        ckpt, None)
      val end2 = s2.latestOffset()
      assert(end2.asInstanceOf[GraftStreamOffset].n >
        end1.asInstanceOf[GraftStreamOffset].n)
      // the NEW range plans and reads fine
      val parts = s2.planInputPartitions(end1, end2)
      assert(parts.nonEmpty &&
        parts.forall(!_.asInstanceOf[GraftParquetPartition].file
          .contains("purged")))
    }
  }

  test("compaction on a logged table never re-delivers streamed rows") {
    withTmp { tmp =>
      val p = s"$tmp/t"
      val conf = Dsv2Parquet.readConf
      fixture(40).coalesce(2).write.format(fmt)
        .option(Dsv2Parquet.SchemaOption, "k BIGINT, i INT, s STRING")
        .mode("append").save(p)
      CommitLog.enable(p, conf)
      val sink = s"dsv2_mstream_${java.lang.Long.toHexString(System.nanoTime())}"
      val q = spark.readStream.format(fmt).load(p)
        .writeStream.outputMode("append").format("memory").queryName(sink)
        .option("checkpointLocation", s"$tmp/ckpt").start()
      try {
        q.processAllAvailable()
        assert(spark.table(sink).count() == 40L)
        // a delta-style DV lands, then compaction folds it: the
        // rewrite's output must NOT re-stream (previously the whole
        // table re-delivered after every maintenance cycle)
        val fn = PlanningView(p, None).dataFiles.head.getPath.getName
        val dv = Dsv2Parquet.writeDvSidecar(
          new org.apache.hadoop.fs.Path(p), fn, Array(0L, 1L), conf)
        CommitLog.commitUpdate(p, conf, operation = "delta")(cur =>
          Some(cur.copy(dvFiles = cur.dvFiles + dv))): Unit
        assert(GraftMaintenance.compactDeletionVectors(spark, p) == 1)
        q.processAllAvailable()
        assert(spark.table(sink).count() == 40L,
          "compaction output must not re-deliver already-streamed rows")
        // fresh data still streams
        fixture(10).select((col("k") + 100).as("k"), col("i"), col("s"))
          .coalesce(1).write.format(fmt).mode("append").save(p)
        q.processAllAvailable()
        assert(spark.table(sink).count() == 50L)
      } finally q.stop()
      spark.catalog.dropTempView(sink)
    }
  }

  test("rewrite skip is proof-gated: unseen-retired rewrites still stream") {
    withTmp { tmp =>
      val p = s"$tmp/t"
      val ckpt = s"$tmp/ckpt"
      val conf = Dsv2Parquet.readConf
      val schema = StructType.fromDDL("k BIGINT, i INT, s STRING")
      fixture(20).coalesce(2).write.format(fmt)
        .option(Dsv2Parquet.SchemaOption, "k BIGINT, i INT, s STRING")
        .mode("append").save(p)
      CommitLog.enable(p, conf)
      val s1 = new GraftParquetMicroBatchStream(p, schema, Array.empty,
        ckpt, None)
      val end1 = s1.latestOffset() // both files discovered (seen)
      // compact: retired files are all seen → output provably skippable
      val fn = PlanningView(p, None).dataFiles.head.getPath.getName
      val dv = Dsv2Parquet.writeDvSidecar(
        new org.apache.hadoop.fs.Path(p), fn, Array(0L), conf)
      CommitLog.commitUpdate(p, conf, operation = "delta")(cur =>
        Some(cur.copy(dvFiles = cur.dvFiles + dv))): Unit
      assert(GraftMaintenance.compactDeletionVectors(spark, p) == 1)
      assert(s1.latestOffset() == end1, "skippable rewrite grew the offset")
      // chain: bin-pack the SKIPPED output with the other seen file —
      // retired = {skipped, seen}, proof passes transitively
      assert(GraftMaintenance.compactSmallFiles(spark, p,
        64L * 1024 * 1024) == 2)
      assert(s1.latestOffset() == end1, "chained rewrite grew the offset")
      // gap-proof: a file appended and packed away BETWEEN triggers was
      // never delivered — the pack's output must stream (duplicate of
      // the seen part beats a gap of the unseen part)
      fixture(5).select((col("k") + 500).as("k"), col("i"), col("s"))
        .coalesce(1).write.format(fmt).mode("append").save(p)
      assert(GraftMaintenance.compactSmallFiles(spark, p,
        64L * 1024 * 1024) == 2) // packs {skipped-pack, unseen-append}
      val end2 = s1.latestOffset()
      assert(end2.asInstanceOf[GraftStreamOffset].n >
        end1.asInstanceOf[GraftStreamOffset].n,
        "a rewrite retiring a never-delivered file must stream its output")
    }
  }

  test("rewrite skips are durable: survive expire_snapshots and restarts") {
    withTmp { tmp =>
      val p = s"$tmp/t"
      val ckpt = s"$tmp/ckpt"
      val conf = Dsv2Parquet.readConf
      val schema = StructType.fromDDL("k BIGINT, i INT, s STRING")
      fixture(20).coalesce(2).write.format(fmt)
        .option(Dsv2Parquet.SchemaOption, "k BIGINT, i INT, s STRING")
        .mode("append").save(p)
      CommitLog.enable(p, conf)
      val s1 = new GraftParquetMicroBatchStream(p, schema, Array.empty,
        ckpt, None)
      val end1 = s1.latestOffset()
      // compact → output provably skippable; the skip is recorded in
      // the persisted file-order log as a zero-row-group entry
      val fn = PlanningView(p, None).dataFiles.head.getPath.getName
      val dv = Dsv2Parquet.writeDvSidecar(
        new org.apache.hadoop.fs.Path(p), fn, Array(0L), conf)
      CommitLog.commitUpdate(p, conf, operation = "delta")(cur =>
        Some(cur.copy(dvFiles = cur.dvFiles + dv))): Unit
      assert(GraftMaintenance.compactDeletionVectors(spark, p) == 1)
      assert(s1.latestOffset() == end1)
      // expire the history that PROVED the skip — the recorded skip
      // must hold without it (re-proving is impossible once the
      // version pair is gone; without the record this re-delivered)
      GraftMaintenance.expireSnapshots(p, retainLast = 1): Unit
      assert(s1.latestOffset() == end1,
        "expiry must not resurrect a recorded skip")
      // restart: a fresh instance rebuilds seen/skip state from the
      // log alone and must not re-deliver either
      val s2 = new GraftParquetMicroBatchStream(p, schema, Array.empty,
        ckpt, None)
      assert(s2.latestOffset() == end1,
        "restart must not resurrect a recorded skip")
      // fresh data still streams, exactly once
      fixture(5).select((col("k") + 100).as("k"), col("i"), col("s"))
        .coalesce(1).write.format(fmt).mode("append").save(p)
      val end2 = s2.latestOffset()
      assert(end2.asInstanceOf[GraftStreamOffset].n ==
        end1.asInstanceOf[GraftStreamOffset].n + 1)
    }
  }

  test("streaming path prunes columns into the scan projection") {
    withTmp { tmp =>
      val p = s"$tmp/t"
      fixture(20).coalesce(1).write.parquet(p)
      val sink = s"dsv2_prune_${java.lang.Long.toHexString(System.nanoTime())}"
      val q = spark.readStream.format(fmt).load(p)
        .select("k")
        .writeStream.outputMode("append").format("memory").queryName(sink)
        .option("checkpointLocation", s"$tmp/ckpt").start()
      try q.processAllAvailable() finally q.stop()
      assert(spark.table(sink).schema.fieldNames.toSeq == Seq("k"))
      assert(spark.table(sink).as[Long].collect().toSet == (0L until 20L).toSet)
      spark.catalog.dropTempView(sink)
    }
  }
}
