package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The catalog surface + metadata DELETE WHERE: identifier→directory
 * resolution, SQL SELECT/INSERT through the catalog, stats-proven
 * file drops, refusal when a file is undecidable, and CREATE/DROP
 * TABLE with the schema file. */
class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  private def fmt = classOf[GraftParquetProvider].getName

  private def withCatalog[A](f: String => A): A = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-catalog").toString
    val cat = s"gcat_${java.lang.Long.toHexString(System.nanoTime())}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", tmp)
    try f(cat)
    finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.root")
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(): Unit
      }
      rm(new java.io.File(tmp))
    }
  }

  private def root(cat: String): String =
    spark.conf.get(s"spark.sql.catalog.$cat.root")

  test("SQL reads a path-written table through the catalog") {
    withCatalog { cat =>
      spark.range(100).select(col("id").as("k"))
        .write.format(fmt).option(Dsv2Parquet.SchemaOption, "k BIGINT")
        .mode("append").save(s"${root(cat)}/db/t")
      val got = spark.sql(s"SELECT k FROM $cat.db.t WHERE k >= 90")
      assert(got.as[Long].collect().toSet == (90L until 100L).toSet)
      assert(spark.sql(s"SHOW TABLES IN $cat.db").collect()
        .map(_.getString(1)).toSet == Set("t"))
    }
  }

  test("DELETE WHERE drops exactly the provably-matching files") {
    withCatalog { cat =>
      val p = s"${root(cat)}/db/t"
      val keys = spark.range(1, 2001).select(col("id").as("k"))
      // two band-aligned files: [1,1000] and [1001,2000]
      keys.filter(col("k") <= 1000).coalesce(1).write.format(fmt)
        .option(Dsv2Parquet.SchemaOption, "k BIGINT").mode("append").save(p)
      keys.filter(col("k") > 1000).coalesce(1).write.format(fmt)
        .mode("append").save(p)
      spark.sql(s"DELETE FROM $cat.db.t WHERE k <= 1000")
      assert(Dsv2DeleteProbe.forPath(p).lastDropped.get() == 1)
      assert(Dsv2DeleteProbe.forPath(p).lastKept.get() == 1)
      assert(spark.sql(s"SELECT k FROM $cat.db.t").as[Long].collect().toSet ==
        (1001L to 2000L).toSet)
    }
  }

  test("DELETE undecidable by metadata composes onto the rewrite path") {
    withCatalog { cat =>
      val p = s"${root(cat)}/db/t"
      spark.range(1, 101).select(col("id").as("k")).coalesce(1)
        .write.format(fmt).option(Dsv2Parquet.SchemaOption, "k BIGINT")
        .mode("append").save(p)
      // k <= 50 straddles the single file: stats cannot prove either
      // way, so canDeleteWhere refuses the metadata drop — and since
      // the table supports row-level operations, Spark falls back to
      // the group-based copy-on-write REWRITE instead of erroring
      // (the Iceberg metadata-vs-copy-on-write composition)
      assert(Dsv2Parquet.deleteDecisions(PlanningView(p, None), Array(
        org.apache.spark.sql.sources.LessThanOrEqual("k", 50L))).isEmpty,
        "the metadata path should find this predicate undecidable")
      spark.sql(s"DELETE FROM $cat.db.t WHERE k <= 50")
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.t")
        .collect()(0).getLong(0) == 50L)
      assert(spark.sql(s"SELECT min(k) FROM $cat.db.t")
        .collect()(0).getLong(0) == 51L)
      // the metadata probe never fired: no file was provably droppable
      val dp = Dsv2DeleteProbe.forPath(p)
      assert(dp.lastDropped.get() == 0)
    }
  }

  test("ALTER TABLE ADD COLUMN: old rows null-fill, new rows carry it") {
    withCatalog { cat =>
      spark.sql(s"CREATE TABLE $cat.db.ev (k BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.ev VALUES (1), (2)")
      spark.sql(s"ALTER TABLE $cat.db.ev ADD COLUMN tag STRING")
      // metadata-only: the declared schema widened, data untouched
      assert(spark.table(s"$cat.db.ev").schema.fieldNames.toSeq ==
        Seq("k", "tag"))
      spark.sql(s"INSERT INTO $cat.db.ev VALUES (3, 'c')")
      val got = spark.sql(s"SELECT k, tag FROM $cat.db.ev").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(got == Map(1L -> None, 2L -> None, 3L -> Some("c")))
      // a predicate on the evolved column stays exact across old files
      assert(spark.sql(
        s"SELECT count(*) FROM $cat.db.ev WHERE tag = 'c'")
        .collect()(0).getLong(0) == 1L)
      // destructive changes are refused
      val ex = intercept[Exception](
        spark.sql(s"ALTER TABLE $cat.db.ev DROP COLUMN tag"))
      assert(ex.getMessage != null)
    }
  }

  test("TRUNCATE TABLE drops every data file") {
    withCatalog { cat =>
      val p = s"${root(cat)}/db/t"
      spark.range(30).select(col("id").as("k")).repartition(3)
        .write.format(fmt).option(Dsv2Parquet.SchemaOption, "k BIGINT")
        .mode("append").save(p)
      spark.sql(s"TRUNCATE TABLE $cat.db.t")
      assert(Dsv2DeleteProbe.forPath(p).lastDropped.get() == 3)
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.t")
        .collect()(0).getLong(0) == 0L)
    }
  }

  test("INSERT OVERWRITE through SQL truncates then lands the new rows") {
    withCatalog { cat =>
      spark.sql(s"CREATE TABLE $cat.db.ow (k BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.ow VALUES (1), (2), (3)")
      spark.sql(s"INSERT OVERWRITE $cat.db.ow VALUES (9)")
      assert(spark.sql(s"SELECT k FROM $cat.db.ow")
        .as[Long].collect().toSeq == Seq(9L))
    }
  }

  test("readStream.table streams a catalog table as it grows") {
    withCatalog { cat =>
      val p = s"${root(cat)}/db/feed"
      spark.range(5).select(col("id").as("k"))
        .write.format(fmt).option(Dsv2Parquet.SchemaOption, "k BIGINT")
        .mode("append").save(p)
      val sink = s"cat_stream_${java.lang.Long.toHexString(System.nanoTime())}"
      val ckpt = java.nio.file.Files.createTempDirectory("graft-cat-ckpt").toString
      val q = spark.readStream.table(s"$cat.db.feed")
        .writeStream.outputMode("append").format("memory").queryName(sink)
        .option("checkpointLocation", ckpt).start()
      try {
        q.processAllAvailable()
        assert(spark.table(sink).count() == 5L)
        spark.sql(s"INSERT INTO $cat.db.feed VALUES (100), (101)")
        q.processAllAvailable()
        assert(spark.table(sink).as[Long].collect().toSet ==
          ((0L until 5L) ++ Seq(100L, 101L)).toSet)
      } finally {
        q.stop()
        spark.catalog.dropTempView(sink)
        def rm(x: java.io.File): Unit = {
          Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(): Unit
        }
        rm(new java.io.File(ckpt))
      }
    }
  }

  test("CREATE TABLE persists the schema; INSERT and read work; DROP removes") {
    withCatalog { cat =>
      spark.sql(s"CREATE TABLE $cat.db.fresh (k BIGINT, s STRING)")
      assert(spark.sql(s"SELECT * FROM $cat.db.fresh").count() == 0L)
      spark.sql(s"INSERT INTO $cat.db.fresh VALUES (1, 'a'), (2, 'b')")
      assert(spark.sql(s"SELECT k FROM $cat.db.fresh ORDER BY k")
        .as[Long].collect().toSeq == Seq(1L, 2L))
      spark.sql(s"DROP TABLE $cat.db.fresh")
      assert(!new java.io.File(s"${root(cat)}/db/fresh").exists())
    }
  }

  test("sequential ALTERs compose and a racing reader never observes " +
      "a torn schema (atomic DDL publish)") {
    withCatalog { cat =>
      spark.sql(s"CREATE TABLE $cat.db.alt (k BIGINT) USING parquet")
      spark.sql(s"INSERT INTO $cat.db.alt VALUES (1)")
      // readers hammer loadTable while ALTERs rewrite the DDL file: with
      // the old in-place fs.create(overwrite) a reader could observe a
      // truncated file and crash in StructType.fromDDL; with temp+rename
      // every read sees one complete published version
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
      val readers = (1 to 4).map { _ =>
        val t = new Thread(() => {
          val c = new GraftCatalog()
          c.initialize("spec", new org.apache.spark.sql.util
            .CaseInsensitiveStringMap(java.util.Map.of("root", root(cat))))
          val ident = org.apache.spark.sql.connector.catalog.Identifier
            .of(Array("db"), "alt")
          while (!stop.get()) {
            try {
              val s = c.loadTable(ident).schema()
              // every observed version starts with the original column
              assert(s.fieldNames.head == "k")
            } catch { case e: Throwable => failure.set(e); stop.set(true) }
          }
        })
        t.start(); t
      }
      try {
        (1 to 40).foreach { i =>
          spark.sql(s"ALTER TABLE $cat.db.alt ADD COLUMN c$i BIGINT")
        }
      } finally { stop.set(true); readers.foreach(_.join()) }
      assert(failure.get() == null,
        s"reader observed a torn schema: ${failure.get()}")
      // sequential ALTERs composed: all 40 columns present
      val cols = spark.table(s"$cat.db.alt").schema.fieldNames.toSeq
      assert(cols == ("k" +: (1 to 40).map(i => s"c$i")), cols.toString)
    }
  }
}
