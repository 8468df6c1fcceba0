package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Filter-scoped overwrite (`writeTo(t).overwrite(cond)`): accepted
 * only when footer statistics prove the predicate file-aligned; the
 * removal set is re-proved at commit; unprovable predicates fail at
 * planning with the table intact. */
class Dsv2OverwriteSpec extends SparkSpec {
  import spark.implicits._

  private def fmt = classOf[GraftParquetProvider].getName

  private def withCat[A](f: (String, String) => A): A = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ow").toString
    val cat = s"gow_${java.lang.Long.toHexString(System.nanoTime())}"
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

  /** Two band-aligned files: k in [0,100) and [100,200). */
  private def bandTable(cat: String, t: String): Unit = {
    spark.range(0, 100).select(col("id").as("k"), lit("old").as("s"))
      .coalesce(1).writeTo(s"$cat.db.$t").create()
    spark.range(100, 200).select(col("id").as("k"), lit("old").as("s"))
      .coalesce(1).writeTo(s"$cat.db.$t").append()
  }

  test("band-aligned overwrite replaces exactly the proven band") {
    withCat { (cat, tmp) =>
      bandTable(cat, "t")
      // replace the lower band with fewer, different rows
      spark.range(0, 40).select(col("id").as("k"), lit("new").as("s"))
        .writeTo(s"$cat.db.t").overwrite(col("k") < 100)
      val probe = Dsv2WriteProbe.forPath(s"$tmp/db/t")
      assert(probe.lastTruncated.get() == 1, "exactly the lower-band file")
      val rows = spark.table(s"$cat.db.t").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      assert(rows.length == 140)
      assert(rows.count(_._2 == "new") == 40)
      assert(rows.filter(_._2 == "old").forall(_._1 >= 100))
    }
  }

  test("an unprovable predicate fails at planning, table intact") {
    withCat { (cat, _) =>
      bandTable(cat, "u")
      // k % 2 = 0 straddles both files: no footer proof exists
      intercept[Exception] {
        spark.range(5).select(col("id").as("k"), lit("x").as("s"))
          .writeTo(s"$cat.db.u").overwrite(col("k") % 2 === 0)
      }
      assert(spark.table(s"$cat.db.u").count() == 200L)
    }
  }

  test("a filtered overwrite of a table with no version yet retires nothing") {
    withCat { (cat, tmp) =>
      // declared but never committed (a CREATE TABLE that died before
      // publishing version 1): the overwrite builds on the empty version
      // 0, so its own rows — which straddle the predicate — are never
      // up for retirement
      Dsv2Parquet.declareSchema(s"$tmp/db/e",
        org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, s STRING"))
      assert(CommitLog.versions(new org.apache.hadoop.fs.Path(s"$tmp/db/e"),
        Dsv2Parquet.readConf).isEmpty)
      spark.range(10).select(col("id").as("k"), lit("new").as("s"))
        .coalesce(1).writeTo(s"$cat.db.e").overwrite(col("k") < 5)
      assert(spark.table(s"$cat.db.e").count() == 10L)
    }
  }

  test("overwrite(AlwaysTrue) stays the full truncate") {
    withCat { (cat, tmp) =>
      bandTable(cat, "v")
      spark.range(3).select(col("id").as("k"), lit("z").as("s"))
        .writeTo(s"$cat.db.v").overwrite(lit(true))
      assert(Dsv2WriteProbe.forPath(s"$tmp/db/v").lastTruncated.get() == 2)
      assert(spark.table(s"$cat.db.v").count() == 3L)
    }
  }
}
