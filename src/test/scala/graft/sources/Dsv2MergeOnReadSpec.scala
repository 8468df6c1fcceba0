package graft.sources

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Merge-on-read row-level operations: position-delete sidecars
 * (deletion vectors) + insert files instead of whole-file rewrites —
 * write cost proportional to damaged ROWS. Every face that reads a
 * DV-carrying table must apply the vector (full scan, filtered scan,
 * aggregates refused the footer shortcut), and every face that deletes
 * a data file must drop its sidecar. */
class Dsv2MergeOnReadSpec extends SparkSpec {
  import spark.implicits._

  private def withCat[A](f: (String, String) => A): A = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-mor").toString
    val cat = s"gmor_${java.lang.Long.toHexString(System.nanoTime())}"
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

  private def morTable(cat: String, name: String): Unit =
    spark.sql(s"""CREATE TABLE $cat.db.$name (k BIGINT, s STRING, v BIGINT)
                 |TBLPROPERTIES ('graft.merge.mode'='merge-on-read')"""
      .stripMargin)

  test("_pos metadata column is the file-absolute row index") {
    withCat { (cat, _) =>
      spark.range(100).select(col("id").as("k"), lit("x").as("s"),
        col("id").as("v")).coalesce(1).writeTo(s"$cat.db.p").create()
      val got = spark.table(s"$cat.db.p").select(col("k"), col("_pos"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      // one sorted single-partition file: position == write order == k
      assert(got.size == 100 && got.forall { case (k, p) => k == p })
    }
  }

  test("MoR MERGE writes deletion vectors + inserts, rewrites no files") {
    withCat { (cat, tmp) =>
      morTable(cat, "m")
      spark.range(100).select(col("id").as("k"),
        concat(lit("s"), col("id")).as("s"), lit(0L).as("v"))
        .coalesce(2).writeTo(s"$cat.db.m").append()
      val conf = new org.apache.hadoop.conf.Configuration()
      val before = PlanningView(s"$tmp/db/m", None).dataFiles
        .map(_.getPath.getName).toSet
      // source: 5 updates, 3 inserts, the rest untouched (no
      // not-matched-by-source clause → no mass delete)
      spark.range(95, 103).select(col("id").as("k"),
        lit("upd").as("s"), lit(9L).as("v"))
        .createOrReplaceTempView("mor_src")
      spark.sql(
        s"""MERGE INTO $cat.db.m t USING mor_src s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET t.s = s.s, t.v = s.v
           |WHEN NOT MATCHED THEN INSERT (k, s, v) VALUES (s.k, s.s, s.v)"""
          .stripMargin)
      val probe = Dsv2WriteProbe.forPath(s"$tmp/db/m")
      assert(probe.lastTruncated.get() == 0, "MoR must not rewrite files")
      assert(probe.lastDvFiles.get() >= 1)
      assert(probe.lastDvPositions.get() == 5L)
      // the pre-image data files all survive (plus new insert files)
      val after = PlanningView(s"$tmp/db/m", None).dataFiles
        .map(_.getPath.getName).toSet
      assert(before.subsetOf(after), s"before=$before after=$after")
      // and the read applies the vectors: updated rows once, new rows
      // present, untouched rows exact
      val t = spark.table(s"$cat.db.m")
      assert(t.count() == 103L)
      assert(t.filter(col("s") === "upd").count() == 8L)
      assert(t.filter(col("k") === 97 && col("v") === 9L).count() == 1L)
      assert(t.filter(col("k") < 95 && col("v") =!= 0L).count() == 0L)
      spark.catalog.dropTempView("mor_src")
    }
  }

  test("successive MoR merges union their deletion vectors") {
    withCat { (cat, tmp) =>
      morTable(cat, "u")
      spark.range(50).select(col("id").as("k"), lit("a").as("s"),
        lit(0L).as("v")).coalesce(1).writeTo(s"$cat.db.u").append()
      def upd(lo: Int, hi: Int, tag: String): Unit = {
        spark.range(lo, hi).select(col("id").as("k"), lit(tag).as("s"),
          lit(1L).as("v")).createOrReplaceTempView("mor_u_src")
        spark.sql(
          s"""MERGE INTO $cat.db.u t USING mor_u_src s ON t.k = s.k
             |WHEN MATCHED THEN UPDATE SET t.s = s.s, t.v = s.v""".stripMargin)
        spark.catalog.dropTempView("mor_u_src")
      }
      upd(0, 5, "first")
      upd(3, 8, "second") // overlaps: re-deletes positions of the
                          // FIRST merge's re-inserts live elsewhere
      val t = spark.table(s"$cat.db.u")
      assert(t.count() == 50L)
      assert(t.filter(col("s") === "second").count() == 5L)
      assert(t.filter(col("s") === "first").count() == 3L)
      assert(t.filter(col("s") === "a").count() == 42L)
    }
  }

  test("MoR DELETE is position deletes; filtered + aggregate reads exact") {
    withCat { (cat, tmp) =>
      morTable(cat, "d")
      spark.range(100).select(col("id").as("k"),
        concat(lit("s"), col("id") % 7).as("s"), (col("id") % 5).as("v"))
        .coalesce(1).writeTo(s"$cat.db.d").append()
      // v-predicate is never file-aligned → row-level (delta) path
      spark.sql(s"DELETE FROM $cat.db.d WHERE v = 3")
      val probe = Dsv2WriteProbe.forPath(s"$tmp/db/d")
      assert(probe.lastTruncated.get() == 0)
      assert(probe.lastDvPositions.get() == 20L)
      val t = spark.table(s"$cat.db.d")
      assert(t.count() == 80L) // NOT the footer count (100)
      assert(t.filter(col("v") === 3).count() == 0L)
      // residual filters + DV compose
      assert(t.filter(col("k") >= 50).count() == 40L)
      // footer agg shortcut refused: min/max/count run on real rows
      val agg = t.agg(count(lit(1)).as("n"), min("k"), max("k")).head()
      assert(agg.getLong(0) == 80L)
    }
  }

  test("DV reads stay COLUMNAR and exact across batch-boundary runs") {
    withCat { (cat, tmp) =>
      morTable(cat, "vb")
      // one file, 20000 rows (crosses the 4096 batch boundary), a
      // dictionary string column and a nullable long column
      spark.range(20000).select(col("id").as("k"),
        concat(lit("c"), (col("id") % 7).cast("string")).as("s"),
        when(col("id") % 13 === 0, lit(null)).otherwise(col("id")).as("v"))
        .coalesce(1).writeTo(s"$cat.db.vb").append()
      // scattered singles, a long consecutive run, head rows, exact
      // batch-boundary rows, and the file tail — every run shape the
      // decode loop distinguishes
      spark.sql(
        s"""DELETE FROM $cat.db.vb WHERE k % 997 = 1 OR
           |  (k >= 8000 AND k < 8500) OR k IN (0, 1, 4095, 4096, 4097,
           |  12287, 12288, 19999)""".stripMargin)
      val t = spark.table(s"$cat.db.vb")
      // the scan must be columnar (the r18 point: no MoR read tax)
      assert(t.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
        "DV'd flat scan is not columnar")
      val got = t.collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getLong(2))).toSet
      val deleted = (0L until 20000L).filter(k => k % 997 == 1 ||
        (k >= 8000 && k < 8500) ||
        Set(0L, 1L, 4095L, 4096L, 4097L, 12287L, 12288L, 19999L)(k)).toSet
      val exp = (0L until 20000L).filterNot(deleted).map(k =>
        (k, s"c${k % 7}", if (k % 13 == 0) null else k: Any)).toSet
      assert(got.size == exp.size && got.map(x =>
        (x._1, x._2, x._3: Any)) == exp)
      // filters compose with DV application (residual re-check)
      assert(t.filter(col("k") >= 8000 && col("k") < 8500).count() == 0L)
      assert(t.filter(col("s") === "c3").count() ==
        exp.count(_._2 == "c3").toLong)
    }
  }

  test("DV'd LIST/MAP projections stay COLUMNAR and exact") {
    withCat { (cat, tmp) =>
      spark.sql(
        s"""CREATE TABLE $cat.db.cm (k BIGINT, xs ARRAY<BIGINT>,
           |  m MAP<STRING, BIGINT>)
           |TBLPROPERTIES ('graft.merge.mode'='merge-on-read')"""
          .stripMargin)
      // null / empty / short collections, null elements and values,
      // 20000 rows so deleted runs straddle the 4096 batch boundary
      def src = spark.range(20000).select(col("id").as("k"),
        when(col("id") % 11 === 0, lit(null))
          .when(col("id") % 13 === 0, array().cast("array<bigint>"))
          .otherwise(array(col("id"),
            when(col("id") % 4 === 0, lit(null)).otherwise(col("id") + 1),
            col("id") % 7)).as("xs"),
        when(col("id") % 7 === 0, lit(null))
          .otherwise(map(
            concat(lit("a"), (col("id") % 3).cast("string")), col("id"),
            lit("b"),
            when(col("id") % 5 === 0, lit(null)).otherwise(col("id") * 2)))
          .as("m"))
      src.coalesce(1).writeTo(s"$cat.db.cm").append()
      val delPred = col("k") % 997 === 1 ||
        (col("k") >= 8000 && col("k") < 8500) ||
        col("k").isInCollection(Seq(0L, 1L, 4095L, 4096L, 4097L, 19999L))
      spark.sql(
        s"""DELETE FROM $cat.db.cm WHERE k % 997 = 1 OR
           |  (k >= 8000 AND k < 8500) OR
           |  k IN (0, 1, 4095, 4096, 4097, 19999)""".stripMargin)
      assert(Dsv2WriteProbe.forPath(s"$tmp/db/cm").lastDvFiles.get() == 1)
      val t = spark.table(s"$cat.db.cm")
      // a DV'd collection projection decodes columnar too
      assert(t.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
        "DV'd collection scan is not columnar")
      def norm(r: org.apache.spark.sql.Row): (Long, Any, Any) = (
        r.getLong(0),
        if (r.isNullAt(1)) null else r.getSeq[Any](1).toList,
        if (r.isNullAt(2)) null
        else r.getMap[String, Any](2).toList.sortBy(_._1))
      val got = t.collect().map(norm).toSet
      val exp = src.filter(!delPred).collect().map(norm).toSet
      assert(got.size == exp.size && got == exp)
    }
  }

  test("_pos is served columnar and exact") {
    withCat { (cat, _) =>
      spark.range(10000).select(col("id").as("k"), lit("x").as("s"),
        col("id").as("v")).coalesce(1).writeTo(s"$cat.db.pc").create()
      val df = spark.table(s"$cat.db.pc").select(col("k"), col("_pos"))
      assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
        "_pos projection is not columnar")
      assert(df.filter(col("k") =!= col("_pos")).count() == 0L)
      assert(df.count() == 10000L)
    }
  }

  test("minor compaction merges a file's sidecars without data rewrites") {
    withCat { (cat, tmp) =>
      morTable(cat, "mc")
      spark.range(50).select(col("id").as("k"), lit("a").as("s"),
        (col("id") % 10).as("v")).coalesce(1).writeTo(s"$cat.db.mc").append()
      spark.sql(s"DELETE FROM $cat.db.mc WHERE v = 1")
      spark.sql(s"DELETE FROM $cat.db.mc WHERE v = 2")
      spark.sql(s"DELETE FROM $cat.db.mc WHERE v = 3")
      val conf = new org.apache.hadoop.conf.Configuration()
      val p = s"$tmp/db/mc"
      val before = PlanningView(p, None).dvMap
      assert(before.values.head.length == 3, before.toString)
      val dataBefore = PlanningView(p, None).dataFiles
        .map(f => f.getPath.getName -> f.getModificationTime).toSet
      assert(GraftMaintenance.compactDvSidecars(p) == 1)
      val after = PlanningView(p, None).dvMap
      assert(after.values.head.length == 1, after.toString)
      // data files untouched; live rows identical
      assert(PlanningView(p, None).dataFiles
        .map(f => f.getPath.getName -> f.getModificationTime).toSet
        == dataBefore)
      val t = spark.table(s"$cat.db.mc")
      assert(t.count() == 35L)
      assert(t.filter(col("v").isin(1L, 2L, 3L)).count() == 0L)
    }
  }

  test("bloom filters write on request and the point lookup stays exact") {
    withCat { (cat, tmp) =>
      spark.range(5000).select(col("id").as("k"),
        concat(lit("u-"), col("id")).as("s"), lit(0L).as("v"))
        .coalesce(1).writeTo(s"$cat.db.bf")
        .option("graft.bloomFor", "s").create()
      val conf = new org.apache.hadoop.conf.Configuration()
      val f = PlanningView(s"$tmp/db/bf", None).dataFiles.head
      val (_, blocks, _) = Dsv2Parquet.fileFooter(f, conf)
      val chunk = blocks.head.getColumns.asScala
        .find(_.getPath.toDotString == "s").get
      assert(chunk.getBloomFilterOffset >= 0L,
        "no bloom filter written for the requested column")
      val got = spark.table(s"$cat.db.bf").filter(col("s") === "u-1234")
      assert(got.count() == 1L)
      assert(got.select("k").collect().head.getLong(0) == 1234L)
    }
  }

  test("compaction folds deletion vectors into clean files") {
    withCat { (cat, tmp) =>
      morTable(cat, "k")
      spark.range(100).select(col("id").as("k"),
        concat(lit("s"), col("id")).as("s"), (col("id") % 5).as("v"))
        .coalesce(2).writeTo(s"$cat.db.k").append()
      spark.sql(s"DELETE FROM $cat.db.k WHERE v = 2")
      val conf = new org.apache.hadoop.conf.Configuration()
      val p = s"$tmp/db/k"
      assert(PlanningView(p, None).dvMap.nonEmpty)
      val expected = spark.table(s"$cat.db.k").collect()
        .map(_.toSeq).toSet
      val compacted = GraftMaintenance.compactDeletionVectors(spark, p)
      assert(compacted == 2)
      assert(PlanningView(p, None).dvMap.isEmpty, "deletion vectors survived")
      // identical live rows, now without any per-scan membership test,
      // and the columnar path re-engages (no DVs left to gate it off)
      assert(spark.table(s"$cat.db.k").collect().map(_.toSeq).toSet
        == expected)
      assert(spark.table(s"$cat.db.k").count() == 80L)
      // idempotent: nothing left to compact
      assert(GraftMaintenance.compactDeletionVectors(spark, p) == 0)
    }
  }

  test("micro-batch streaming reads apply deletion vectors") {
    withCat { (cat, tmp) =>
      morTable(cat, "st")
      spark.range(100).select(col("id").as("k"), lit("x").as("s"),
        (col("id") % 5).as("v")).coalesce(1).writeTo(s"$cat.db.st").append()
      spark.sql(s"DELETE FROM $cat.db.st WHERE v = 2")
      val p = s"$tmp/db/st"
      val ckpt = java.nio.file.Files.createTempDirectory("graft-mor-ck").toString
      val outName = s"mor_stream_${java.lang.Long.toHexString(System.nanoTime())}"
      val q = spark.readStream
        .format(classOf[GraftParquetProvider].getName).load(p)
        .writeStream.format("memory").queryName(outName)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      val got = spark.table(outName)
      assert(got.count() == 80L)
      assert(got.filter(col("v") === 2).count() == 0L)
      spark.catalog.dropTempView(outName)
    }
  }

  test("concurrent delta commits commute (no lost deletes)") {
    withCat { (cat, tmp) =>
      morTable(cat, "cc")
      spark.range(10).select(col("id").as("k"), lit("x").as("s"),
        lit(0L).as("v")).coalesce(1).writeTo(s"$cat.db.cc").append()
      val p = s"$tmp/db/cc"
      val conf = new org.apache.hadoop.conf.Configuration()
      val name = PlanningView(p, None).dataFiles.head.getPath.getName
      val schema = spark.table(s"$cat.db.cc").schema
      // two INTERLEAVED delta commits: each writes its OWN immutable
      // sidecar — neither read-modify-writes shared state, so the
      // union the next scan takes sees BOTH delete sets
      val w1 = GraftDeltaBatchWrite(p, schema, "spec-cc-1", 0, 1)
      val w2 = GraftDeltaBatchWrite(p, schema, "spec-cc-2", 0, 1)
      val m1 = GraftDeltaCommitMessage(GraftParquetCommitMessage(None, 0L),
        Map(name -> Array(3L)))
      val m2 = GraftDeltaCommitMessage(GraftParquetCommitMessage(None, 0L),
        Map(name -> Array(5L, 3L))) // overlap on 3 too: union dedups
      w1.commit(Array(m1))
      w2.commit(Array(m2))
      val t = spark.table(s"$cat.db.cc")
      assert(t.count() == 8L)
      assert(t.filter(col("k").isin(3L, 5L)).count() == 0L)
    }
  }

  test("delta commit aborts when a referenced data file vanished") {
    withCat { (cat, tmp) =>
      morTable(cat, "cf")
      spark.range(10).select(col("id").as("k"), lit("x").as("s"),
        lit(0L).as("v")).coalesce(1).writeTo(s"$cat.db.cf").append()
      val schema = spark.table(s"$cat.db.cf").schema
      val write = GraftDeltaBatchWrite(s"$tmp/db/cf", schema,
        "spec-conflict", 0, 1)
      // a message referencing a data file a concurrent rewrite removed
      val msg = GraftDeltaCommitMessage(GraftParquetCommitMessage(None, 0L),
        Map("part-gone.parquet" -> Array(3L)))
      val ex = intercept[IllegalStateException] {
        write.commit(Array(msg))
      }
      assert(ex.getMessage.contains("concurrent writer conflict"))
      CommitResidue.assertNone(s"$tmp/db/cf")
      // nothing changed: no DV appeared, rows intact
      assert(PlanningView(s"$tmp/db/cf", None).dvMap.isEmpty)
      assert(spark.table(s"$cat.db.cf").count() == 10L)
    }
  }

  test("ALTER TABLE switches the merge mode either way") {
    withCat { (cat, tmp) =>
      // starts copy-on-write: a MERGE rewrites files
      spark.range(20).select(col("id").as("k"), lit("a").as("s"),
        lit(0L).as("v")).coalesce(1).writeTo(s"$cat.db.sw").create()
      spark.range(1).select(col("id").as("k"), lit("b").as("s"),
        lit(1L).as("v")).createOrReplaceTempView("sw_src")
      def merge(): Unit = spark.sql(
        s"""MERGE INTO $cat.db.sw t USING sw_src s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET t.s = s.s, t.v = s.v""".stripMargin)
      val probe = Dsv2WriteProbe.forPath(s"$tmp/db/sw")
      merge()
      assert(probe.lastTruncated.get() > 0, "CoW merge rewrote nothing")
      // switch to merge-on-read: the same MERGE now writes a DV
      spark.sql(s"""ALTER TABLE $cat.db.sw
        |SET TBLPROPERTIES('graft.merge.mode'='merge-on-read')""".stripMargin)
      merge()
      assert(probe.lastTruncated.get() == 0 && probe.lastDvFiles.get() > 0,
        "post-ALTER merge did not run merge-on-read")
      assert(PlanningView(s"$tmp/db/sw", None).dvMap.nonEmpty)
      // and back: copy-on-write folds the vectors into its rewrite
      spark.sql(s"""ALTER TABLE $cat.db.sw
        |SET TBLPROPERTIES('graft.merge.mode'='copy-on-write')""".stripMargin)
      merge()
      assert(probe.lastTruncated.get() > 0)
      val t = spark.table(s"$cat.db.sw")
      assert(t.count() == 20L)
      assert(t.filter(col("k") === 0 && col("s") === "b").count() == 1L)
      spark.catalog.dropTempView("sw_src")
    }
  }

  test("maintenance runs as SQL: CALL system.compact_*") {
    withCat { (cat, tmp) =>
      morTable(cat, "sq")
      spark.range(60).select(col("id").as("k"), lit("a").as("s"),
        (col("id") % 6).as("v")).coalesce(1).writeTo(s"$cat.db.sq").append()
      spark.sql(s"DELETE FROM $cat.db.sq WHERE v = 1")
      spark.sql(s"DELETE FROM $cat.db.sq WHERE v = 2")
      val conf = new org.apache.hadoop.conf.Configuration()
      val p = s"$tmp/db/sq"
      // minor: two sidecars merge into one
      val merged = spark.sql(
        s"CALL $cat.system.compact_deletion_vectors('db.sq')").collect()
      assert(merged.head.getInt(0) == 1)
      assert(PlanningView(p, None).dvMap.values.head.length == 1)
      // major: the vector folds into a rewritten file
      val folded = spark.sql(
        s"CALL $cat.system.compact_table('db.sq')").collect()
      assert(folded.head.getInt(0) == 1)
      assert(PlanningView(p, None).dvMap.isEmpty)
      assert(spark.table(s"$cat.db.sq").count() == 40L)
    }
  }

  test("dropping a data file drops its deletion vector") {
    withCat { (cat, tmp) =>
      morTable(cat, "c")
      spark.range(100).select(col("id").as("k"), lit("x").as("s"),
        (col("id") % 5).as("v")).coalesce(1).writeTo(s"$cat.db.c").append()
      spark.sql(s"DELETE FROM $cat.db.c WHERE v = 3") // creates a DV
      assert(PlanningView(s"$tmp/db/c", None).dvMap.nonEmpty)
      spark.sql(s"TRUNCATE TABLE $cat.db.c") // metadata delete: whole files
      assert(PlanningView(s"$tmp/db/c", None).dvMap.isEmpty,
        "orphan deletion vector survived its data file")
      assert(spark.table(s"$cat.db.c").count() == 0L)
    }
  }
}
