package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Atomic CTAS / RTAS through StagingTableCatalog: the staged write is
 * invisible until one publish rename; REPLACE keeps the old table
 * readable until the new one is complete. */
class GraftStagedCtasSpec extends SparkSpec {
  import spark.implicits._

  private def withCat[A](f: (String, String) => A): A = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ctas").toString
    val cat = s"gct_${java.lang.Long.toHexString(System.nanoTime())}"
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

  test("CTAS publishes atomically; staging is invisible to listings") {
    withCat { (cat, tmp) =>
      spark.sql(s"CREATE TABLE $cat.db.seed (k BIGINT)") // make namespace
      spark.sql(
        s"CREATE TABLE $cat.db.c AS SELECT id AS k, id * 2 AS v FROM range(50)")
      assert(spark.table(s"$cat.db.c").count() == 50L)
      // no staging/trash residue, and listings show only real tables
      val names = new java.io.File(s"$tmp/db").listFiles().map(_.getName)
      assert(!names.exists(_.startsWith(".")), names.toSeq.toString)
      val listed = spark.sql(s"SHOW TABLES IN $cat.db").collect()
        .map(_.getString(1)).sorted
      assert(listed.sameElements(Array("c", "seed")))
    }
  }

  test("zero-row CTAS publishes a schema-only table") {
    withCat { (cat, _) =>
      // data writers open files lazily, so no staging dir ever appears
      // on disk — the commit must still publish the schema DDL
      spark.sql(
        s"""CREATE TABLE $cat.db.z AS
           |SELECT id AS k, id * 2 AS v FROM range(10) WHERE id < 0""".stripMargin)
      val t = spark.table(s"$cat.db.z")
      assert(t.columns.toSeq == Seq("k", "v"))
      assert(t.count() == 0L)
      // and it behaves as a real table afterwards: appends land
      spark.sql(s"INSERT INTO $cat.db.z VALUES (1, 2)")
      assert(spark.table(s"$cat.db.z").count() == 1L)
    }
  }

  test("RTAS swaps the table in one publish; schema may change") {
    withCat { (cat, _) =>
      spark.sql(s"CREATE TABLE $cat.db.r AS SELECT id AS k FROM range(10)")
      spark.sql(
        s"""CREATE OR REPLACE TABLE $cat.db.r AS
           |SELECT id AS k, concat('s', id) AS s FROM range(25)""".stripMargin)
      val t = spark.table(s"$cat.db.r")
      assert(t.columns.toSeq == Seq("k", "s"))
      assert(t.count() == 25L)
      // REPLACE TABLE of a missing table refuses; CREATE OR REPLACE of
      // an existing one succeeded above
      intercept[Exception] {
        spark.sql(s"REPLACE TABLE $cat.db.nope AS SELECT 1 AS x")
      }
    }
  }

  test("sink options compose with atomic creation (clustered CTAS)") {
    withCat { (cat, tmp) =>
      spark.range(500).select(col("id").as("k"), (col("id") % 7).as("v"))
        .writeTo(s"$cat.db.cc")
        .option(Dsv2Parquet.ClusterByOption, "k")
        .option(Dsv2Parquet.NumPartitionsOption, "4")
        .option(Dsv2Parquet.SortWithinOption, "k")
        .create()
      assert(spark.table(s"$cat.db.cc").count() == 500L)
      // the published table carries the declared clustered layout
      val info = CommitLog.latest(s"$tmp/db/cc",
        new org.apache.hadoop.conf.Configuration()).flatMap(_.claimedLayout)
      assert(info.contains(CommitLog.Layout(Seq("k"), 4, Seq("k"))))
    }
  }
}
