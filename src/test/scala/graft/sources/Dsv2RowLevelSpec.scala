package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Group-based row-level operations (copy-on-write) through the
 * catalog: MERGE INTO with all three action kinds, UPDATE, and the
 * DELETE fallback for predicates the metadata path refuses. */
class Dsv2RowLevelSpec extends SparkSpec {
  import spark.implicits._

  private def withCat[A](f: (String, String) => A): A = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-rlo").toString
    val cat = s"grlo_${java.lang.Long.toHexString(System.nanoTime())}"
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

  test("MERGE INTO: update + insert + not-matched-by-source delete") {
    withCat { (cat, _) =>
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
        .toDF("k", "s", "v").writeTo(s"$cat.db.m").create()
      // source: k=2 changed, k=4 new, k∈{1,3} absent → deleted
      Seq((2L, "B", 200L), (4L, "d", 40L)).toDF("k", "s", "v")
        .createOrReplaceTempView("rlo_src")
      spark.sql(
        s"""MERGE INTO $cat.db.m t USING rlo_src s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET t.s = s.s, t.v = s.v
           |WHEN NOT MATCHED THEN INSERT (k, s, v) VALUES (s.k, s.s, s.v)
           |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
      val got = spark.table(s"$cat.db.m").orderBy("k").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      assert(got.toSeq == Seq((2L, "B", 200L), (4L, "d", 40L)))
      spark.catalog.dropTempView("rlo_src")
    }
  }

  test("MERGE preserves untouched rows (carried over through rewrite)") {
    withCat { (cat, _) =>
      spark.range(100).select(col("id").as("k"), (col("id") * 7).as("v"))
        .writeTo(s"$cat.db.c").create()
      spark.range(5).select(col("id").as("k"), lit(-1L).as("v"))
        .createOrReplaceTempView("rlo_touch")
      spark.sql(
        s"""MERGE INTO $cat.db.c t USING rlo_touch s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET t.v = s.v""".stripMargin)
      val t = spark.table(s"$cat.db.c")
      assert(t.count() == 100L)
      assert(t.filter(col("v") === -1L).count() == 5L)
      assert(t.filter(col("k") >= 5 && col("v") =!= col("k") * 7).count() == 0L)
      spark.catalog.dropTempView("rlo_touch")
    }
  }

  test("UPDATE rewrites through the row-level path") {
    withCat { (cat, _) =>
      spark.range(50).select(col("id").as("k"), lit("x").as("s"))
        .writeTo(s"$cat.db.u").create()
      spark.sql(s"UPDATE $cat.db.u SET s = 'y' WHERE k % 10 = 3")
      val t = spark.table(s"$cat.db.u")
      assert(t.count() == 50L)
      assert(t.filter(col("s") === "y").count() == 5L)
    }
  }

  test("DELETE undecidable by footer proofs falls back to rewrite") {
    withCat { (cat, _) =>
      spark.range(100).select(col("id").as("k"), (col("id") % 7).as("m"))
        .coalesce(1).writeTo(s"$cat.db.d").create()
      // m-predicate is never provable from one file's footer band →
      // canDeleteWhere=false → group-based rewrite, not an error
      spark.sql(s"DELETE FROM $cat.db.d WHERE m = 3")
      val t = spark.table(s"$cat.db.d")
      assert(t.count() == 100L - 14L)
      assert(t.filter(col("m") === 3).count() == 0L)
    }
  }

  test("replace-commit aborts on a concurrent-writer conflict; table intact") {
    withCat { (cat, tmp) =>
      // two disjoint key-range files
      spark.range(10).select(col("id").as("k"), lit(0L).as("v"))
        .coalesce(1).writeTo(s"$cat.db.y").create()
      spark.range(10, 20).select(col("id").as("k"), lit(0L).as("v"))
        .coalesce(1).writeTo(s"$cat.db.y").append()
      val path = s"$tmp/db/y"
      val tblSchema = spark.table(s"$cat.db.y").schema
      // OPERATION 1 plans its scan over the current file set…
      val op = GraftRowLevelOperation(path, tblSchema,
        org.apache.spark.sql.connector.write.RowLevelOperation.Command.MERGE)
      op.newScanBuilder(
        org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()).build()
        .toBatch.planInputPartitions()
      assert(op.scannedFiles.get().length == 2)
      // …then OPERATION 2 (a real MERGE) commits first, replacing one
      // of the scanned files (group filtering confines it to k=3's file)
      spark.range(3, 4).select(col("id").as("k"), lit(9L).as("v"))
        .createOrReplaceTempView("rlo_race")
      spark.sql(
        s"""MERGE INTO $cat.db.y t USING rlo_race s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET t.v = s.v""".stripMargin)
      // operation 1's commit must now detect the vanished scanned file
      // as a conflict and abort — NOT trash the survivor and rename its
      // stale rewrite in beside operation 2's output
      val info = new org.apache.spark.sql.connector.write.LogicalWriteInfo {
        override def options() =
          org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()
        override def queryId(): String = "spec-conflict"
        override def schema() = tblSchema
      }
      val write = op.newWriteBuilder(info).build().toBatch
      val ex = intercept[IllegalStateException] {
        write.commit(Array.empty)
      }
      assert(ex.getMessage.contains("concurrent writer conflict"))
      CommitResidue.assertNone(path)
      // the loser changed nothing: operation 2's result stands exactly
      val t = spark.table(s"$cat.db.y")
      assert(t.count() == 20L)
      assert(t.filter(col("k") === 3 && col("v") === 9L).count() == 1L)
      assert(t.filter(col("v") === 0L).count() == 19L)
      // and no trash/staging residue survived the abort path
      val residue = new java.io.File(path).listFiles()
        .map(_.getName).filter(n => n.startsWith("_trash") || n.startsWith("_staging"))
      assert(residue.isEmpty, residue.toSeq.toString)
      spark.catalog.dropTempView("rlo_race")
    }
  }

  test("group filtering engages for a non-broadcast (SMJ) merge source") {
    withCat { (cat, tmp) =>
      spark.range(10).select(col("id").as("k"), lit(0L).as("v"))
        .coalesce(1).writeTo(s"$cat.db.s").create()
      spark.range(10, 20).select(col("id").as("k"), lit(0L).as("v"))
        .coalesce(1).writeTo(s"$cat.db.s").append()
      spark.range(3, 4).select(col("id").as("k"), lit(9L).as("v"))
        .createOrReplaceTempView("rlo_smj")
      val probe = Dsv2RuntimeProbe.forPath(s"$tmp/db/s#replace")
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try spark.sql(
        s"""MERGE INTO $cat.db.s t USING rlo_smj s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET t.v = s.v""".stripMargin)
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      // the matching-rows subquery ran STANDALONE (no broadcast to
      // reuse) and still handed the replace scan its _file IN filter
      assert(probe.filterCalls.get() >= 1)
      assert(probe.lastPlanned.get() == 2 && probe.lastKept.get() == 1,
        s"planned=${probe.lastPlanned.get()} kept=${probe.lastKept.get()}")
      val t = spark.table(s"$cat.db.s")
      assert(t.count() == 20L)
      assert(t.filter(col("k") === 3 && col("v") === 9L).count() == 1L)
      spark.catalog.dropTempView("rlo_smj")
    }
  }

  test("runtime group filtering rewrites only the files with matches") {
    withCat { (cat, tmp) =>
      // two disjoint key-range files: k 0-9 and k 10-19
      spark.range(10).select(col("id").as("k"), lit(0L).as("v"))
        .coalesce(1).writeTo(s"$cat.db.x").create()
      spark.range(10, 20).select(col("id").as("k"), lit(0L).as("v"))
        .coalesce(1).writeTo(s"$cat.db.x").append()
      val conf = new org.apache.hadoop.conf.Configuration()
      val before = PlanningView(s"$tmp/db/x", None).dataFiles
        .map(_.getPath.getName).toSet
      assert(before.size == 2)
      // the merge touches only k=3 — one file holds it
      spark.range(3, 4).select(col("id").as("k"), lit(9L).as("v"))
        .createOrReplaceTempView("rlo_one")
      spark.sql(
        s"""MERGE INTO $cat.db.x t USING rlo_one s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET t.v = s.v""".stripMargin)
      val after = PlanningView(s"$tmp/db/x", None).dataFiles
        .map(_.getPath.getName).toSet
      // the untouched file SURVIVES the rewrite (runtime group
      // filtering pruned it from the scan, so the commit left it);
      // the matching file was replaced
      assert(before.intersect(after).size == 1,
        s"expected one surviving pre-image file: before=$before after=$after")
      val t = spark.table(s"$cat.db.x")
      assert(t.count() == 20L)
      assert(t.filter(col("k") === 3 && col("v") === 9L).count() == 1L)
      assert(t.filter(col("v") === 0L).count() == 19L)
      spark.catalog.dropTempView("rlo_one")
    }
  }
}
