package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The SupportsMetadataColumns surface: `_file`, and the reference's
 * `writetime(col)`/`ttl(col)` scan-select spellings mapped onto the
 * wide physical siblings (MvSync.java:222-228 as a query surface). */
class Dsv2MetadataColumnsSpec extends SparkSpec {
  import spark.implicits._

  private def withCat[A](f: (String, String) => A): A = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-meta").toString
    val cat = s"gmc_${java.lang.Long.toHexString(System.nanoTime())}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", tmp)
    try f(cat, tmp)
    finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.root")
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(): Unit
      }
      rm(new java.io.File(tmp))
    }
  }

  test("_file names the real data file; SELECT * does not include it") {
    withCat { (cat, tmp) =>
      spark.range(100).select(col("id").as("k"))
        .coalesce(2).writeTo(s"$cat.db.t").create()
      val star = spark.table(s"$cat.db.t")
      assert(star.columns.toSeq == Seq("k"),
        "metadata columns must not leak into SELECT *")
      val files = spark.table(s"$cat.db.t")
        .select(col("k"), col("_file")).collect()
        .map(_.getString(1)).distinct.sorted
      val onDisk = PlanningView(s"$tmp/db/t", None).dataFiles
        .map(_.getPath.toString).sorted
      assert(files.sameElements(onDisk),
        s"_file values ${files.toSeq} != on-disk ${onDisk.toSeq}")
    }
  }

  test("writetime(c)/ttl(c) spellings read the wide columns' bytes") {
    withCat { (cat, _) =>
      spark.range(50).select(col("id").as("k"),
          (col("id") * 3).as("v"),
          (col("id") * 1000000L).as("writetime_v"),
          when(col("id") % 5 === 0, col("id").cast("int")).as("ttl_v"))
        .writeTo(s"$cat.db.w").create()
      val both = spark.sql(
        s"""SELECT k, `writetime(v)` AS wm, writetime_v AS ww,
           |       `ttl(v)` AS tm, ttl_v AS tw
           |FROM $cat.db.w""".stripMargin).collect()
      both.foreach { r =>
        assert(r.getLong(1) == r.getLong(2),
          s"writetime spellings diverge at k=${r.getLong(0)}")
        assert(r.isNullAt(3) == r.isNullAt(4) &&
          (r.isNullAt(3) || r.getInt(3) == r.getInt(4)),
          s"ttl spellings diverge at k=${r.getLong(0)}")
      }
      assert(both.length == 50)
      // filtering on the metadata spelling stays exact (residual
      // re-check path; the file column is never record-filtered)
      assert(spark.sql(
        s"SELECT count(*) FROM $cat.db.w WHERE `ttl(v)` IS NOT NULL")
        .collect()(0).getLong(0) == 10L)
    }
  }

  test("tables without wide columns expose only _file") {
    withCat { (cat, _) =>
      spark.range(5).select(col("id").as("k")).writeTo(s"$cat.db.p").create()
      val metaNames = spark.sql(s"SELECT k, _file FROM $cat.db.p")
      assert(metaNames.count() == 5L)
      // a writetime spelling for a column with no wide sibling must
      // not resolve
      intercept[Exception] {
        spark.sql(s"SELECT `writetime(k)` FROM $cat.db.p").collect()
      }
    }
  }
}
