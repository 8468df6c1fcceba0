package graft.sources

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The r16-advice commit-protocol hardening: the streaming epoch marker
 * as the ATOMIC commit point (ledger before renames, deterministic
 * destination names, crash-window reconcile), marker garbage
 * collection, the batch overwrite's trash-dir rollback, and the
 * footer-union schema for heterogeneous directories. */
class Dsv2CommitProtocolSpec extends SparkSpec {
  import spark.implicits._

  private def fmt = classOf[GraftParquetProvider].getName

  private def withTmp[A](f: String => A): A = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-dsv2-proto").toString
    try f(tmp)
    finally {
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(): Unit
      }
      rm(new java.io.File(tmp))
    }
  }

  private val schema = StructType.fromDDL("k BIGINT")

  private def stage(p: String, qid: String, epoch: Long,
      v: Long): org.apache.spark.sql.connector.write.WriterCommitMessage = {
    val w = new GraftParquetDataWriter(s"$p/_staging-$qid-e$epoch",
      schema, 0, 0L)
    w.write(org.apache.spark.sql.catalyst.InternalRow(v))
    w.commit()
  }

  test("epoch replay after a crash between marker and renames " +
      "completes the commit without duplicating rows") {
    withTmp { tmp =>
      val p = s"$tmp/t"
      val sw = GraftParquetStreamingWrite(p, schema, "spec-crash",
        truncateFirst = false)
      sw.commit(3L, Array(stage(p, "spec-crash", 3L, 42L)))
      assert(spark.read.parquet(p).as[Long].collect().toSeq == Seq(42L))
      // simulate the crash window: the ledger exists but the committed
      // file does not (driver died after the marker, before the rename)
      val fs = new Path(p).getFileSystem(new Configuration())
      val committed = PlanningView(p, None).dataFiles
      assert(committed.length == 1)
      // deterministic name, not a UUID: a replayed rename lands ON it
      assert(committed.head.getPath.getName == "part-spec-crash-e3-00000.parquet")
      fs.delete(committed.head.getPath, false)
      // Spark replays the epoch: deterministic recomputation re-stages,
      // commit reconciles the ledger by filling the missing name
      sw.commit(3L, Array(stage(p, "spec-crash", 3L, 42L)))
      assert(spark.read.parquet(p).as[Long].collect().toSeq == Seq(42L))
      // and a second replay of the now-complete epoch is a pure no-op
      sw.commit(3L, Array(stage(p, "spec-crash", 3L, 42L)))
      assert(spark.read.parquet(p).as[Long].collect().toSeq == Seq(42L))
      assert(!new java.io.File(s"$p/_staging-spec-crash-e3").exists())
    }
  }

  test("epoch markers are garbage-collected past the retention window") {
    withTmp { tmp =>
      val p = s"$tmp/t"
      val sw = GraftParquetStreamingWrite(p, schema, "spec-gc",
        truncateFirst = false)
      (0L to 12L).foreach(e => sw.commit(e, Array(stage(p, "spec-gc", e, e))))
      val markers = Option(new java.io.File(s"$p/_epochs").listFiles())
        .getOrElse(Array.empty)
        .map(_.getName).filter(_.startsWith("epoch-spec-gc-"))
        .map(_.stripPrefix("epoch-spec-gc-").toLong).sorted.toSeq
      // after committing epoch 12 with retention 10, epochs <= 2 are gone
      assert(markers == (3L to 12L),
        s"markers=$markers")
      // every epoch's data survived GC — only the markers age out
      assert(spark.read.parquet(p).as[Long].collect().sorted.toSeq ==
        (0L to 12L))
    }
  }

  test("markers live under _epochs, not in the data listing") {
    withTmp { tmp =>
      val p = s"$tmp/t"
      val sw = GraftParquetStreamingWrite(p, schema, "spec-loc",
        truncateFirst = false)
      sw.commit(0L, Array(stage(p, "spec-loc", 0L, 1L)))
      val topLevel = new java.io.File(p).listFiles().map(_.getName).toSet
      assert(topLevel.contains("_epochs"))
      assert(!topLevel.exists(_.startsWith("_epoch-")), topLevel.toString)
      // neither the provider's listing nor Spark's sees the marker dir
      assert(PlanningView(p, None).dataFiles.length == 1)
      assert(spark.read.format(fmt).load(p).count() == 1L)
    }
  }

  test("overwrite retires old files in the manifest, leaving no staging " +
      "residue") {
    withTmp { tmp =>
      val p = s"$tmp/t"
      spark.range(10).select(col("id").as("k")).write.format(fmt)
        .option(Dsv2Parquet.SchemaOption, "k BIGINT").mode("append").save(p)
      spark.range(100, 103).select(col("id").as("k")).write.format(fmt)
        .mode("overwrite").save(p)
      // committed state is the replacement; the replaced file stays on
      // disk, readable at version 1, until expire_snapshots
      assert(spark.read.format(fmt).load(p).as[Long].collect().sorted.toSeq ==
        Seq(100L, 101L, 102L))
      assert(spark.read.format(fmt).option(Dsv2Parquet.VersionAsOfOption, "1")
        .load(p).count() == 10L)
      val residue = new java.io.File(p).listFiles()
        .map(_.getName).filter(_.startsWith("_staging-"))
      assert(residue.isEmpty, residue.toSeq.toString)
      GraftMaintenance.expireSnapshots(p, 1)
      assert(spark.read.parquet(p).as[Long].collect().sorted.toSeq ==
        Seq(100L, 101L, 102L))
    }
  }

  test("a commit that fails verification leaves old data untouched " +
      "and out of any trash dir") {
    withTmp { tmp =>
      val p = s"$tmp/t"
      spark.range(5).select(col("id").as("k")).write.format(fmt)
        .option(Dsv2Parquet.SchemaOption, "k BIGINT").mode("append").save(p)
      val bw = GraftParquetBatchWrite(p, schema, "spec-vanish",
        truncateFirst = true)
      intercept[IllegalArgumentException] {
        bw.commit(Array(GraftParquetCommitMessage(
          Some(s"$p/_staging-spec-vanish/ghost.parquet"), 1L)))
      }
      // verification runs BEFORE any rename: the table still reads
      assert(spark.read.parquet(p).count() == 5L)
    }
  }

  test("path-based schema is the union of all footers, not the first " +
      "listed file's") {
    withTmp { tmp =>
      val p = s"$tmp/t"
      // two writers: an old narrow file beside an evolved wider one
      spark.range(3).select(col("id").as("k"))
        .coalesce(1).write.mode("append").parquet(p)
      spark.range(3, 5).select(col("id").as("k"),
          (col("id") * 10).as("extra"))
        .coalesce(1).write.mode("append").parquet(p)
      val df = spark.read.format(fmt).load(p)
      assert(df.schema.fieldNames.toSet == Set("k", "extra"))
      // old rows null-fill the evolved column regardless of file order
      val got = df.collect().map(r =>
        r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
      assert(got == Map(0L -> -1L, 1L -> -1L, 2L -> -1L,
        3L -> 30L, 4L -> 40L), got.toString)
    }
  }

  test("conflicting column types across footers fail fast") {
    withTmp { tmp =>
      val p = s"$tmp/t"
      spark.range(2).select(col("id").as("k"))
        .coalesce(1).write.mode("append").parquet(p)
      spark.range(2).select(col("id").cast("string").as("k"))
        .coalesce(1).write.mode("append").parquet(p)
      val e = intercept[IllegalArgumentException] {
        spark.read.format(fmt).load(p).count()
      }
      assert(e.getMessage.contains("conflicting types"), e.getMessage)
    }
  }
}
