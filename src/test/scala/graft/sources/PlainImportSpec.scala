package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Every graft write path, started on a directory graft never wrote —
 * plain `spark.write.parquet` output. Each must import the listing as
 * version 1 before it places a file, commit as version 2 on top of it,
 * and leave the original rows readable at `VERSION AS OF 1`. */
class PlainImportSpec extends SparkSpec {
  import spark.implicits._

  private def fmt = classOf[GraftParquetProvider].getName
  private def conf = Dsv2Parquet.readConf

  private def withCatalog[A](f: (String, String) => A): A = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-plain").toString
    val cat = s"gplain_${java.lang.Long.toHexString(System.nanoTime())}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", tmp)
    try f(cat, s"$tmp/db/t")
    finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.root")
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(): Unit
      }
      rm(new java.io.File(tmp))
    }
  }

  /** Two plain parquet files: k 0..49 and k 50..99, v = 2k. */
  private def plain(p: String): Set[String] = {
    Seq(0L until 50L, 50L until 100L).foreach { ks =>
      ks.map(k => (k, 2 * k)).toDF("k", "v").coalesce(1)
        .write.mode("append").parquet(p)
    }
    assert(!CommitLog.enabled(p, conf))
    PlanningView(p, None).dataFiles.map(_.getPath.getName).toSet
  }

  private def keys(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("k").as[Long].collect().toSet

  /** The import is version 1 with exactly the original files, the write
   * is the latest version, and version 1 still reads the original rows. */
  private def imported(p: String, original: Set[String],
      v1Keys: Set[Long] = (0L until 100L).toSet): Unit = {
    assert(CommitLog.read(new Path(p), 1L, conf).dataFiles == original)
    assert(CommitLog.latest(p, conf).get.version == 2L)
    assert(keys(spark.read.format(fmt)
      .option(Dsv2Parquet.VersionAsOfOption, "1").load(p)) == v1Keys)
  }

  test("a plain directory holding a partition directory or a file without " +
      "the .parquet suffix fails at planning, with the entry named") {
    withCatalog { (_, p) =>
      val parted = s"$p-parted"
      (0L until 10L).map(k => (k, k % 2)).toDF("k", "part").write
        .partitionBy("part").parquet(parted)
      val e = intercept[IllegalArgumentException](spark.read.format(fmt).load(parted))
      assert(e.getMessage.contains("part=0") || e.getMessage.contains("part=1"),
        e.getMessage)
      // Spark's reader reads a data file whatever its name
      val original = plain(p)
      java.nio.file.Files.copy(java.nio.file.Paths.get(p, original.head),
        java.nio.file.Paths.get(p, "extra-rows"))
      assert(spark.read.parquet(p).count() == 150L)
      val e2 = intercept[IllegalArgumentException](spark.read.format(fmt).load(p))
      assert(e2.getMessage.contains("extra-rows"), e2.getMessage)
      // a table with a commit log reads its manifest's files only
      val logged = s"$p-logged"
      Seq((1L, 2L)).toDF("k", "v").write.format(fmt).mode("append").save(logged)
      assert(CommitLog.enabled(logged, conf))
      java.nio.file.Files.createDirectory(java.nio.file.Paths.get(logged, "part=1"))
      java.nio.file.Files.copy(java.nio.file.Paths.get(p, original.head),
        java.nio.file.Paths.get(logged, "part=1", original.head))
      java.nio.file.Files.copy(java.nio.file.Paths.get(p, original.head),
        java.nio.file.Paths.get(logged, "extra-rows"))
      assert(keys(spark.read.format(fmt).load(logged)) == Set(1L))
    }
  }

  test("batch append imports the directory first") {
    withCatalog { (_, p) =>
      val original = plain(p)
      Seq((100L, 200L)).toDF("k", "v").write.format(fmt)
        .mode("append").save(p)
      imported(p, original)
      assert(keys(spark.read.format(fmt).load(p)) == (0L to 100L).toSet)
    }
  }

  test("the first overwrite leaves exactly the new rows; VERSION AS OF 1 " +
      "reads the original") {
    withCatalog { (_, p) =>
      val original = plain(p)
      Seq((7L, 0L), (700L, 1L)).toDF("k", "v").write.format(fmt)
        .mode("overwrite").save(p)
      assert(spark.read.format(fmt).load(p).as[(Long, Long)].collect()
        .toSet == Set((7L, 0L), (700L, 1L)))
      imported(p, original)
      assert(Dsv2WriteProbe.forPath(p).lastTruncated.get() == 2)
    }
  }

  test("filter overwrite and metadata DELETE WHERE retire whole files") {
    withCatalog { (cat, p) =>
      val original = plain(p)
      Seq((1L, 1L)).toDF("k", "v").writeTo(s"$cat.db.t")
        .overwrite(col("k") < 50)
      imported(p, original)
      assert(keys(spark.table(s"$cat.db.t")) == Set(1L) ++ (50L until 100L))
      spark.sql(s"DELETE FROM $cat.db.t WHERE k >= 50")
      assert(CommitLog.latest(p, conf).get.version == 3L)
      assert(keys(spark.table(s"$cat.db.t")) == Set(1L))
    }
  }

  test("TRUNCATE TABLE retires every file through the manifest") {
    withCatalog { (cat, p) =>
      val original = plain(p)
      spark.sql(s"TRUNCATE TABLE $cat.db.t")
      imported(p, original)
      assert(spark.table(s"$cat.db.t").count() == 0L)
      assert(PlanningView(p, None).dataFiles.isEmpty)
    }
  }

  test("a streaming epoch imports the directory before its ledger") {
    withCatalog { (_, p) =>
      val original = plain(p)
      val schema = org.apache.spark.sql.types.StructType
        .fromDDL("k BIGINT, v BIGINT")
      val sw = GraftParquetStreamingWrite(p, schema, "plain-e",
        truncateFirst = true)
      val w = new GraftParquetDataWriter(s"$p/_staging-plain-e-e0",
        schema, 0, 0L)
      w.write(org.apache.spark.sql.catalyst.InternalRow(500L, 1L))
      sw.commit(0L, Array(w.commit()))
      imported(p, original)
      assert(keys(spark.read.format(fmt).load(p)) == Set(500L))
    }
  }

  test("copy-on-write replace and merge-on-read delta import first") {
    withCatalog { (cat, p) =>
      val original = plain(p)
      spark.sql(s"DELETE FROM $cat.db.t WHERE k % 10 = 0")  // replace
      imported(p, original)
      spark.sql(s"ALTER TABLE $cat.db.t SET TBLPROPERTIES " +
        s"('${Dsv2Parquet.MergeModeProperty}'='${Dsv2Parquet.MergeOnRead}')")
      spark.sql(s"DELETE FROM $cat.db.t WHERE k % 10 = 1")  // delta
      assert(CommitLog.latest(p, conf).get.dvFiles.nonEmpty)
      assert(keys(spark.table(s"$cat.db.t")) ==
        (0L until 100L).filter(k => k % 10 > 1).toSet)
    }
    withCatalog { (cat, p) =>
      val original = plain(p)
      spark.sql(s"ALTER TABLE $cat.db.t SET TBLPROPERTIES " +
        s"('${Dsv2Parquet.MergeModeProperty}'='${Dsv2Parquet.MergeOnRead}')")
      assert(!CommitLog.enabled(p, conf), "a mode switch is not a write")
      spark.sql(s"DELETE FROM $cat.db.t WHERE k % 10 = 1")  // delta
      imported(p, original)
      assert(keys(spark.table(s"$cat.db.t")) ==
        (0L until 100L).filter(k => k % 10 != 1).toSet)
    }
  }

  test("compaction, DV-sidecar merge, bin-pack and recluster import " +
      "first, carrying listed deletion vectors") {
    withCatalog { (_, p) =>
      // deletion vectors beside plain files: the listing applies them,
      // and so must the import
      val original = plain(p)
      val first = PlanningView(p, None).dataFiles.map(_.getPath.getName).min
      val firstKeys = spark.read.parquet(s"$p/$first").select("k")
        .as[Long].collect()
      def dv(pos: Array[Long]): String =
        Dsv2Parquet.writeDvSidecar(new Path(p), first, pos, conf)
      dv(Array(0L)); dv(Array(1L))
      val dead = Set(firstKeys(0), firstKeys(1))
      assert(GraftMaintenance.compactDvSidecars(p) == 1)
      imported(p, original, (0L until 100L).toSet -- dead)
      assert(CommitLog.read(new Path(p), 1L, conf).dvFiles.size == 2)
      assert(CommitLog.latest(p, conf).get.dvFiles.size == 1)
      assert(GraftMaintenance.compactDeletionVectors(spark, p) == 1)
      assert(CommitLog.latest(p, conf).get.dvFiles.isEmpty)
      assert(keys(spark.read.format(fmt).load(p)) ==
        (0L until 100L).toSet -- dead)
    }
    withCatalog { (_, p) =>
      val original = plain(p)
      assert(GraftMaintenance.compactSmallFiles(spark, p, 1L << 20) == 2)
      imported(p, original)
      assert(PlanningView(p, None).dataFiles.length == 1)
    }
    withCatalog { (_, p) =>
      val original = plain(p)
      assert(GraftMaintenance.reclusterTable(spark, p, Seq("k"), 3) == 2)
      imported(p, original)
      assert(CommitLog.latest(p, conf).flatMap(_.claimedLayout)
        .map(_.width).contains(3))
      assert(keys(spark.read.format(fmt).load(p)) == (0L until 100L).toSet)
    }
  }

  test("ALTER ADD COLUMN imports the table under its old schema") {
    withCatalog { (cat, p) =>
      val original = plain(p)
      spark.sql(s"ALTER TABLE $cat.db.t ADD COLUMN w STRING")
      imported(p, original)
      assert(spark.table(s"$cat.db.t").columns.toSeq == Seq("k", "v", "w"))
      assert(CommitLog.latest(p, conf).get.meta.get("schema")
        .exists(_.contains("w")))
    }
  }
}
