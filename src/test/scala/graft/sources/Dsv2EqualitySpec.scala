package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Equality-delete sidecars ([[Dsv2Equality]]/[[EqualityRepair]]):
 * key-value deletes committed atomically with inserts through the
 * manifest, applied at scan as a bloom-gated key probe — the repair
 * face that needs no `_file`/`_pos` knowledge. */
class Dsv2EqualitySpec extends SparkSpec {
  import spark.implicits._

  private def fmt = classOf[GraftParquetProvider].getName
  private def conf = Dsv2Parquet.readConf

  private def withTmp[A](f: String => A): A = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-eqspec").toString
    try f(tmp)
    finally {
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(): Unit
      }
      rm(new java.io.File(tmp))
    }
  }

  /** A logged two-file table of (k, s, v), k = 0..n-1. */
  private def mkTable(tmp: String, n: Long = 1000L): String = {
    val p = s"$tmp/t"
    spark.range(n).select(col("id").as("k"),
      concat(lit("s"), (col("id") % 5).cast("string")).as("s"),
      (col("id") * 2).as("v"))
      .coalesce(2).write.format(fmt)
      .option(Dsv2Parquet.SchemaOption, "k BIGINT, s STRING, v BIGINT")
      .mode("append").save(p)
    CommitLog.enable(p, conf)
    p
  }

  test("eq commit: upsert = delete keys + insert rows, one version") {
    withTmp { tmp =>
      val p = mkTable(tmp)
      val deletes = Seq(3L, 77L, 500L, 999L).toDF("k") // 3,77 also re-inserted
      val inserts = Seq((3L, "patched", 333L), (77L, "patched", 777L),
        (5000L, "new", 1L)).toDF("k", "s", "v")
      EqualityRepair.commit(spark, p, Seq("k"), deletes, inserts)
      val snap = CommitLog.latest(p, conf).get
      assert(snap.version == 2L && snap.eqFiles.nonEmpty)
      // LIVE equality deletes are translated to position deletes at
      // range open and the scan stays vectorized (the read tax is one
      // narrow key pass over targeted files)
      assert(spark.read.format(fmt).load(p)
        .queryExecution.executedPlan.toString.contains("ColumnarToRow"),
        "eq-live scan must stay columnar")
      val got = spark.read.format(fmt).load(p)
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
        .toMap
      assert(got.size == 1000 - 4 + 3)
      assert(!got.contains(500L) && !got.contains(999L))
      // inserted rows are EXEMPT from the deletes that rode with them
      assert(got(3L) == ("patched", 333L) && got(77L) == ("patched", 777L))
      assert(got(5000L) == ("new", 1L))
      // count() must not be footer-served (over-count)
      assert(spark.read.format(fmt).load(p).count() == 999L)
      // pushed limit must not truncate below the probe: take more rows
      // than any one file holds post-delete
      assert(spark.read.format(fmt).load(p).limit(998).count() == 998L)
    }
  }

  test("eq commit runs sidecar write + insert staging as ONE job") {
    // r22 (VERDICT #3): the delete-sidecar write and the insert staging
    // used to run as two sequential jobs; the tagged-union writer fuses
    // them. With AQE off (AQE materializes exchange stages as extra
    // jobs, which would count scheduling structure, not actions) the
    // whole commit must submit exactly one Spark job.
    withTmp { tmp =>
      val p = mkTable(tmp)
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet(): Unit
      }
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.sparkContext.addSparkListener(listener)
      try {
        EqualityRepair.commit(spark, p, Seq("k"),
          Seq(3L, 77L, 500L).toDF("k"),
          Seq((3L, "patched", 333L), (5000L, "new", 1L)).toDF("k", "s", "v"))
        // listener delivery is async — settle before asserting
        val deadline = System.nanoTime() + 5000000000L
        while (jobs.get() < 1 && System.nanoTime() < deadline)
          Thread.sleep(20)
        Thread.sleep(200)
        assert(jobs.get() == 1,
          s"eq commit submitted ${jobs.get()} jobs; the tagged-union " +
            "writer must need exactly one")
      } finally {
        spark.sparkContext.removeSparkListener(listener)
        spark.conf.set("spark.sql.adaptive.enabled", "true")
      }
      // and the fused commit still repaired correctly
      val got = spark.read.format(fmt).load(p)
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
        .toMap
      assert(got.size == 1000 - 3 + 2)
      assert(!got.contains(500L))
      assert(got(3L) == ("patched", 333L) && got(5000L) == ("new", 1L))
    }
  }

  test("a 12-partition delete frame stages at most 8 sidecars, in one job " +
      "and with no shuffle of the commit's own") {
    withTmp { tmp =>
      val p = mkTable(tmp)
      // range partitions run no shuffle, so any shuffle stage below is
      // the commit's own (AQE on: it would run as a job of its own too)
      val deletes = spark.range(0, 1000, 7, 12).toDF("k")
      assert(deletes.rdd.getNumPartitions == 12)
      val (_, ran) = org.apache.spark.SparkJobCount.of(spark) {
        EqualityRepair.commit(spark, p, Seq("k"), deletes,
          Seq((7L, "patched", 777L)).toDF("k", "s", "v"))
      }
      assert(ran.jobs == 1 && ran.shuffleStages == 0, s"eq commit ran $ran")
      val snap = CommitLog.latest(p, conf).get
      assert(snap.eqFiles.nonEmpty && snap.eqFiles.size <= 8, snap.eqFiles)
      val got = spark.read.format(fmt).load(p).select("k").as[Long].collect().toSet
      assert(got == ((0L until 1000L).toSet -- (0L until 1000L by 7)) + 7L)
    }
  }

  test("zero-ROW insert frame with columns commits a pure-delete repair") {
    // r21: the isEmpty pre-check (which executed the insert subtree
    // once before the write executed it again) was replaced by a
    // schema-based guard; a columned-but-empty insert frame must ride
    // the lazy-file-open writer into a no-insert commit.
    withTmp { tmp =>
      val p = mkTable(tmp)
      val before = spark.read.format(fmt).load(p).count()
      EqualityRepair.commit(spark, p, Seq("k"),
        Seq(7L).toDF("k"),
        spark.read.format(fmt).load(p).limit(0)) // columns, zero rows
      val snap = CommitLog.latest(p, Dsv2Parquet.readConf).get
      assert(snap.eqFiles.nonEmpty)
      assert(spark.read.format(fmt).load(p).count() == before - 1)
      assert(spark.read.format(fmt).load(p).filter(col("k") === 7L).count() == 0L)
    }
  }

  test("projection WITHOUT the key columns still applies the deletes") {
    withTmp { tmp =>
      val p = mkTable(tmp)
      EqualityRepair.commit(spark, p, Seq("k"),
        spark.range(0, 1000, 10).select(col("id").as("k")),
        spark.emptyDataFrame.selectExpr())
      val vs = spark.read.format(fmt).load(p).select("v")
        .as[Long].collect().toSet
      assert(vs.size == 900)
      assert(!vs.contains(0L) && !vs.contains(20L) && vs.contains(2L))
    }
  }

  test("multi-column string keys are injective under the encoding") {
    withTmp { tmp =>
      val p = s"$tmp/t"
      // ("a b", "c") must NOT collide with ("a", "b c") under any
      // separator games — the length prefix disambiguates
      Seq(("a b", "c", 1L), ("a", "b c", 2L), ("x", "y", 3L))
        .toDF("k1", "k2", "v").coalesce(1)
        .write.format(fmt)
        .option(Dsv2Parquet.SchemaOption, "k1 STRING, k2 STRING, v BIGINT")
        .mode("append").save(p)
      CommitLog.enable(p, conf)
      EqualityRepair.commit(spark, p, Seq("k1", "k2"),
        Seq(("a b", "c")).toDF("k1", "k2"),
        spark.emptyDataFrame.selectExpr())
      val got = spark.read.format(fmt).load(p).select("v")
        .as[Long].collect().toSet
      assert(got == Set(2L, 3L), s"collision: $got")
    }
  }

  test("time travel reads the pre-delete state; compaction folds") {
    withTmp { tmp =>
      val p = mkTable(tmp)
      EqualityRepair.commit(spark, p, Seq("k"),
        Seq(1L, 2L, 3L).toDF("k"), spark.emptyDataFrame.selectExpr())
      assert(spark.read.format(fmt).load(p).count() == 997L)
      assert(spark.read.format(fmt)
        .option(Dsv2Parquet.VersionAsOfOption, "1").load(p).count() == 1000L)
      // row-level operations refuse live equality deletes
      val e = intercept[Exception] {
        spark.read.format(fmt).load(p).limit(1).collect()
        val cat = s"geq_${java.lang.Long.toHexString(System.nanoTime())}"
        spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
        spark.conf.set(s"spark.sql.catalog.$cat.root", tmp)
        try spark.sql(s"DELETE FROM $cat.t WHERE k % 7 = 0")
        finally {
          spark.conf.unset(s"spark.sql.catalog.$cat")
          spark.conf.unset(s"spark.sql.catalog.$cat.root")
        }
      }
      assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .exists(c => Option(c.getMessage)
          .exists(_.contains("live equality deletes"))), e.toString)
      // compaction folds the sidecars; scans return to vectorized
      assert(GraftMaintenance.compactDeletionVectors(spark, p) == 2)
      assert(CommitLog.latest(p, conf).get.eqFiles.isEmpty)
      val t = spark.read.format(fmt).load(p)
      assert(t.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
      assert(t.count() == 997L)
      assert(t.filter(col("k") < 5).as[(Long, String, Long)].collect()
        .map(_._1).toSet == Set(0L, 4L))
    }
  }

  test("eq commit racing a compaction aborts — no lost deletes") {
    withTmp { tmp =>
      val p = mkTable(tmp)
      // put a DV on the table so compaction has something to rewrite
      val fn = PlanningView(p, None).dataFiles.head.getPath.getName
      val dvName = Dsv2Parquet.writeDvSidecar(
        new org.apache.hadoop.fs.Path(p), fn, Array(0L, 1L), conf)
      CommitLog.commitUpdate(p, conf)(cur =>
        Some(cur.copy(dvFiles = cur.dvFiles + dvName)))
      val before = spark.read.format(fmt).load(p).count()
      // a compaction retires the targeted files INSIDE the eq commit's
      // publish window — the eq commit must abort, never lose deletes
      CommitRaceProbe.beforePublish = {
        case (_, "eq-repair") =>
          GraftMaintenance.compactDeletionVectors(spark, p): Unit
        case _ =>
      }
      try {
        val e = intercept[IllegalStateException] {
          EqualityRepair.commit(spark, p, Seq("k"),
            Seq(5L).toDF("k"), spark.emptyDataFrame.selectExpr())
        }
        assert(e.getMessage.contains("concurrent writer conflict"))
      } finally CommitRaceProbe.reset()
      CommitResidue.assertNone(p)
      // the aborted delete is invisible; the compaction's state stands
      // (the DV'd rows were already dead in `before` and stay folded)
      assert(spark.read.format(fmt).load(p).count() == before)
      assert(spark.read.format(fmt).load(p).filter(col("k") === 5).count()
        == 1L)
      // re-run repairs cleanly against the compacted table
      EqualityRepair.commit(spark, p, Seq("k"),
        Seq(5L).toDF("k"), spark.emptyDataFrame.selectExpr())
      assert(spark.read.format(fmt).load(p).filter(col("k") === 5).count()
        == 0L)
    }
  }

  test("two concurrent FIRST repairs with different key tuples: the " +
      "second aborts, the table never wedges") {
    withTmp { tmp =>
      val p = mkTable(tmp)
      // repair A (keyed k) is about to publish; repair B (keyed s)
      // lands fully INSIDE A's window. Both passed the pre-job base
      // check (no sidecars existed yet) — without the in-closure
      // re-proof both published, and every later scan (including the
      // compact_table fold needed to repair it) failed the
      // sidecars-agree require: a permanently wedged table (r20 advice)
      CommitRaceProbe.beforePublish = {
        case (_, "eq-repair") =>
          CommitRaceProbe.reset() // one-shot, no recursion
          EqualityRepair.commit(spark, p, Seq("s"),
            Seq("s1").toDF("s"), spark.emptyDataFrame.selectExpr())
        case _ =>
      }
      try {
        val e = intercept[IllegalStateException] {
          EqualityRepair.commit(spark, p, Seq("k"),
            Seq(5L).toDF("k"), spark.emptyDataFrame.selectExpr())
        }
        assert(e.getMessage.contains("concurrent repair conflict"),
          e.getMessage)
      } finally CommitRaceProbe.reset()
      // B's repair stands alone: s1 rows gone, k=5 untouched, scans fine
      val rows = spark.read.format(fmt).load(p).collect()
      assert(!rows.exists(_.getString(1) == "s1"))
      assert(rows.exists(_.getLong(0) == 5L))
      // the fold still works — the table is not wedged
      GraftMaintenance.compactDeletionVectors(spark, p): Unit
      assert(CommitLog.latest(p, conf).get.eqFiles.isEmpty)
      // and a follow-up repair with B's key tuple (now folded: any
      // tuple) lands cleanly
      EqualityRepair.commit(spark, p, Seq("k"),
        Seq(5L).toDF("k"), spark.emptyDataFrame.selectExpr())
      assert(spark.read.format(fmt).load(p)
        .filter(col("k") === 5).count() == 0L)
    }
  }

  test("compact_small_files bin-packs, folding DVs and eq deletes in") {
    withTmp { tmp =>
      val p = s"$tmp/t"
      // 8 small files, logged
      spark.range(4000).select(col("id").as("k"), (col("id") * 3).as("v"))
        .repartition(8).write.format(fmt)
        .option(Dsv2Parquet.SchemaOption, "k BIGINT, v BIGINT")
        .mode("append").save(p)
      CommitLog.enable(p, conf)
      assert(PlanningView(p, None).dataFiles.length == 8)
      // damage riding along: one DV + one eq delete — both must fold
      val fn = PlanningView(p, None).dataFiles.head.getPath.getName
      val dvName = Dsv2Parquet.writeDvSidecar(
        new org.apache.hadoop.fs.Path(p), fn, Array(0L), conf)
      CommitLog.commitUpdate(p, conf)(cur =>
        Some(cur.copy(dvFiles = cur.dvFiles + dvName)))
      EqualityRepair.commit(spark, p, Seq("k"), Seq(7L, 8L).toDF("k"),
        spark.emptyDataFrame.selectExpr())
      val expect = spark.read.format(fmt).load(p)
        .as[(Long, Long)].collect().toSet
      assert(expect.size == 4000 - 1 - 2)
      // everything is tiny → one ~64MB bin packs all 8 files
      assert(GraftMaintenance.compactSmallFiles(spark, p,
        64L * 1024 * 1024) == 8)
      val snap = CommitLog.latest(p, conf).get
      assert(snap.dataFiles.size == 1, snap.dataFiles.toString)
      assert(snap.dvFiles.isEmpty && snap.eqFiles.isEmpty,
        "pack must fold the DV and retire the fully-applied eq sidecar")
      assert(spark.read.format(fmt).load(p)
        .as[(Long, Long)].collect().toSet == expect)
      // below-threshold singleton: nothing worth packing
      assert(GraftMaintenance.compactSmallFiles(spark, p,
        64L * 1024 * 1024) == 0)
    }
  }

  test("compact_small_files works log-less and over the CALL surface") {
    withTmp { tmp =>
      val cat = s"gbp_${java.lang.Long.toHexString(System.nanoTime())}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", tmp)
      try {
        // a directory graft never wrote: the compaction imports it
        spark.range(1000).select(col("id").as("k")).repartition(5)
          .write.parquet(s"$tmp/db/t")
        assert(!CommitLog.enabled(s"$tmp/db/t", conf))
        assert(PlanningView(s"$tmp/db/t", None).dataFiles.length == 5)
        val packed = spark.sql(
          s"CALL $cat.system.compact_small_files('db.t', 64)").collect()
        assert(packed.head.getInt(0) == 5)
        assert(PlanningView(s"$tmp/db/t", None).dataFiles.length == 1)
        assert(CommitLog.latest(s"$tmp/db/t", conf).get.version == 2L)
        assert(spark.sql(s"SELECT k FROM $cat.db.t").as[Long]
          .collect().toSet == (0L until 1000L).toSet)
      } finally {
        spark.conf.unset(s"spark.sql.catalog.$cat")
        spark.conf.unset(s"spark.sql.catalog.$cat.root")
      }
    }
  }

  test("rewrite_clustered restores the SPJ layout after a repair broke it") {
    withTmp { tmp =>
      val cat = s"grc_${java.lang.Long.toHexString(System.nanoTime())}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", tmp)
      try {
        val p = s"$tmp/db/t"
        spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v BIGINT) " +
          "TBLPROPERTIES ('graft.merge.mode'='merge-on-read', " +
          "'graft.commit.log'='true')")
        spark.range(2000).select(col("id").as("k"), (col("id") * 2).as("v"))
          .write.format(fmt)
          .option(Dsv2Parquet.ClusterByOption, "k")
          .option(Dsv2Parquet.NumPartitionsOption, "4")
          .option(Dsv2Parquet.SortWithinOption, "k")
          .mode("append").save(p)
        def claimed = CommitLog.latest(p, conf).flatMap(_.claimedLayout)
        assert(claimed.exists(_.width == 4))
        // a MoR repair lands DVs + insert files → no layout claimed
        spark.sql(s"DELETE FROM $cat.db.t WHERE k % 10 = 3")
        spark.sql(
          s"""MERGE INTO $cat.db.t t
             |USING (SELECT 5000 + id AS k, 1 AS v FROM range(10)) s
             |ON t.k = s.k WHEN NOT MATCHED THEN INSERT (k, v)
             |VALUES (s.k, s.v)""".stripMargin)
        assert(claimed.isEmpty,
          "the repair's insert files should have turned the claim off")
        val expect = spark.sql(s"SELECT k, v FROM $cat.db.t")
          .as[(Long, Long)].collect().toSet
        val preVersion = CommitLog.latest(p, conf).get.version
        val replaced = spark.sql(
          s"CALL $cat.system.rewrite_clustered('db.t', 'k', 4, 'k')")
          .collect().head.getInt(0)
        assert(replaced > 0)
        // layout re-recorded, every file a bucket, DVs folded, state exact
        assert(claimed.contains(CommitLog.Layout(Seq("k"), 4, Seq("k"))))
        assert(CommitLog.latest(p, conf).get.dvFiles.isEmpty)
        assert(spark.sql(s"SELECT k, v FROM $cat.db.t")
          .as[(Long, Long)].collect().toSet == expect)
        // every rewritten file carries a bucket id below the width in
        // the manifest — the invariant the scan's
        // KeyGroupedPartitioning report needs
        val buckets = CommitLog.latest(p, conf).get.buckets
        assert(PlanningView(p, None).dataFiles.forall(f =>
          buckets.get(f.getPath.getName).exists(_ < 4)))
        // pre-recluster history stays readable (replace-all was logical)
        assert(spark.sql(
          s"SELECT k FROM $cat.db.t VERSION AS OF $preVersion").count() ==
          expect.size.toLong)
      } finally {
        spark.conf.unset(s"spark.sql.catalog.$cat")
        spark.conf.unset(s"spark.sql.catalog.$cat.root")
      }
    }
  }

  test("retiring a sidecar's LAST target prunes it from the manifest") {
    withTmp { tmp =>
      val cat = s"geqr_${java.lang.Long.toHexString(System.nanoTime())}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", tmp)
      try {
        val p = s"$tmp/t"
        // range → coalesce(2) keeps halves contiguous: file stats make
        // `k >= 500` / `k < 500` provable metadata deletes
        spark.range(1000).select(col("id").as("k"), (col("id") * 2).as("v"))
          .coalesce(2).write.format(fmt)
          .option(Dsv2Parquet.SchemaOption, "k BIGINT, v BIGINT")
          .mode("append").save(p)
        CommitLog.enable(p, conf)
        // one delete partition stages one sidecar (each non-empty
        // partition writes its own, up to 8)
        EqualityRepair.commit(spark, p, Seq("k"), Seq(3L, 700L).toDF("k").coalesce(1),
          spark.emptyDataFrame.selectExpr())
        assert(CommitLog.latest(p, conf).get.eqFiles.size == 1)
        // overwrite HALF the targets: the sidecar still guards the
        // survivor (overwrite-by-filter is the batch path that can
        // retire individual target files)
        spark.range(500, 1000).select(col("id").as("k"),
            (col("id") * 10).as("v"))
          .writeTo(s"$cat.t").overwrite(col("k") >= 500)
        assert(CommitLog.latest(p, conf).get.eqFiles.size == 1,
          "a sidecar with a live target must survive a partial overwrite")
        // 500 - {3} survivors + 500 overwrite rows (k=700 fresh → exempt)
        val mid = spark.read.format(fmt).load(p)
        assert(mid.count() == 999L)
        assert(mid.filter(col("k") === 3L).count() == 0L)
        assert(mid.filter(col("k") === 700L).count() == 1L)
        // retire the LAST target: the sidecar is dead weight — pruned,
        // so scans return to the vectorized path instead of wedging on
        // a probe compact_table can never fold (its targets are gone)
        spark.range(0, 500).select(col("id").as("k"), (col("id") * 10).as("v"))
          .writeTo(s"$cat.t").overwrite(col("k") < 500)
        val snap = CommitLog.latest(p, conf).get
        assert(snap.eqFiles.isEmpty, s"orphaned sidecar must be pruned: $snap")
        val t = spark.read.format(fmt).load(p)
        assert(t.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
        assert(t.count() == 1000L)
        assert(t.filter(col("k") === 3L).count() == 1L) // fresh row, exempt
        // and the TRUNCATE face prunes through deleteWhere(AlwaysTrue)
        EqualityRepair.commit(spark, p, Seq("k"), Seq(8L).toDF("k"),
          spark.emptyDataFrame.selectExpr())
        assert(CommitLog.latest(p, conf).get.eqFiles.nonEmpty)
        spark.sql(s"TRUNCATE TABLE $cat.t")
        val truncated = CommitLog.latest(p, conf).get
        assert(truncated.dataFiles.isEmpty && truncated.eqFiles.isEmpty,
          s"truncate must prune orphaned sidecars: $truncated")
        // fully writable again: append, then a row-level DELETE (the
        // fold-first guard must not trip over pruned/inert sidecars)
        spark.range(5).select(col("id").as("k"), col("id").as("v"))
          .writeTo(s"$cat.t").append()
        spark.sql(s"DELETE FROM $cat.t WHERE k % 2 = 1")
        assert(spark.read.format(fmt).load(p).count() == 3L)
      } finally {
        spark.conf.unset(s"spark.sql.catalog.$cat")
        spark.conf.unset(s"spark.sql.catalog.$cat.root")
      }
    }
  }

  test("complete-mode epochs retire equality sidecars with their targets") {
    withTmp { tmp =>
      val p = mkTable(tmp, n = 100L)
      EqualityRepair.commit(spark, p, Seq("k"), Seq(7L).toDF("k"),
        spark.emptyDataFrame.selectExpr())
      assert(CommitLog.latest(p, conf).get.eqFiles.size == 1)
      // a complete-mode epoch replaces the WHOLE snapshot — every file
      // the sidecar targets retires with it, so carrying the sidecar
      // forward would pin the row-path probe forever
      val schema = org.apache.spark.sql.types.StructType
        .fromDDL("k BIGINT, s STRING, v BIGINT")
      val sw = GraftParquetStreamingWrite(p, schema, "spec-eqc",
        truncateFirst = true)
      val w = new GraftParquetDataWriter(s"$p/_staging-spec-eqc-e1",
        schema, 0, 0L)
      w.write(org.apache.spark.sql.catalyst.InternalRow(1L,
        org.apache.spark.unsafe.types.UTF8String.fromString("x"), 2L))
      sw.commit(1L, Array(w.commit()))
      val snap = CommitLog.latest(p, conf).get
      assert(snap.eqFiles.isEmpty,
        s"complete-mode truncate must retire eq sidecars: $snap")
      val t = spark.read.format(fmt).load(p)
      assert(t.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
      assert(t.count() == 1L)
      // pre-epoch history still carries the delete when time-traveled
      assert(spark.read.format(fmt)
        .option(Dsv2Parquet.VersionAsOfOption, "2").load(p)
        .filter(col("k") === 7L).count() == 0L)
    }
  }

  test("VERSION AS OF an eq-bearing version survives the table emptying") {
    withTmp { tmp =>
      val cat = s"gevt_${java.lang.Long.toHexString(System.nanoTime())}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", tmp)
      try {
        val p = mkTable(tmp, n = 100L)
        EqualityRepair.commit(spark, p, Seq("k"), Seq(7L).toDF("k"),
          spark.emptyDataFrame.selectExpr())
        val vEq = CommitLog.latest(p, conf).get.version
        // empty the table entirely — the LATEST manifest then has zero
        // data files, and eq key-field resolution for a PINNED read
        // must use the pinned version's footers, not the (empty)
        // current set (found by the 30-seed sequence-fuzz soak:
        // unpinned footerSchema threw 'no parquet data files')
        spark.sql(s"TRUNCATE TABLE $cat.t")
        assert(CommitLog.latest(p, conf).get.dataFiles.isEmpty)
        assert(spark.read.format(fmt).load(p).count() == 0L)
        val pinned = spark.read.format(fmt)
          .option(Dsv2Parquet.VersionAsOfOption, vEq.toString).load(p)
        assert(pinned.count() == 99L)
        assert(pinned.filter(col("k") === 7L).count() == 0L,
          "the pinned read must still apply the version's eq deletes")
      } finally {
        spark.conf.unset(s"spark.sql.catalog.$cat")
        spark.conf.unset(s"spark.sql.catalog.$cat.root")
      }
    }
  }

  test("a legacy manifest's dead sidecar is inert on every surface") {
    withTmp { tmp =>
      val p = mkTable(tmp, n = 100L)
      EqualityRepair.commit(spark, p, Seq("k"), Seq(7L).toDF("k"),
        spark.emptyDataFrame.selectExpr())
      // simulate a manifest published before orphan pruning existed:
      // swap in a fresh file set while carrying the sidecar verbatim
      val staging = s"$tmp/staged"
      spark.range(3).select(col("id").as("k"), lit("z").as("s"),
        col("id").as("v")).coalesce(1).write.format(fmt)
        .option(Dsv2Parquet.SchemaOption, "k BIGINT, s STRING, v BIGINT")
        .mode("append").save(staging)
      val fs = new org.apache.hadoop.fs.Path(p).getFileSystem(conf)
      val fresh = PlanningView(staging, None).dataFiles.map { s =>
        val dst = new org.apache.hadoop.fs.Path(p, s.getPath.getName)
        require(fs.rename(s.getPath, dst), "stage rename failed")
        dst.getName
      }.toSet
      CommitLog.commitUpdate(p, conf, operation = "legacy-swap")(cur =>
        Some(cur.copy(dataFiles = fresh, dvFiles = Set.empty)))
      val snap = CommitLog.latest(p, conf).get
      assert(snap.eqFiles.size == 1 &&
        !snap.eqFiles.exists(n => Dsv2Equality.read(
          new org.apache.hadoop.fs.Path(p), n, conf)
          .targets.exists(snap.dataFiles.contains)),
        s"precondition: the sidecar must be dead in $snap")
      // reads: vectorized, no phantom probe
      val t = spark.read.format(fmt).load(p)
      assert(t.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
      assert(t.count() == 3L)
      // a NEW repair with a DIFFERENT key tuple: inert sidecars must
      // not force key agreement (only live ones constrain)
      EqualityRepair.commit(spark, p, Seq("s"), Seq("z").toDF("s"),
        spark.emptyDataFrame.selectExpr())
      assert(spark.read.format(fmt).load(p).count() == 0L)
    }
  }

  test("streamed micro-batches apply equality deletes") {
    withTmp { tmp =>
      val p = mkTable(tmp, n = 200L)
      EqualityRepair.commit(spark, p, Seq("k"),
        spark.range(0, 200, 2).select(col("id").as("k")),
        spark.emptyDataFrame.selectExpr())
      val sink = s"eqstream_${java.lang.Long.toHexString(System.nanoTime())}"
      val q = spark.readStream.format(fmt)
        .option(Dsv2Parquet.SchemaOption, "k BIGINT, s STRING, v BIGINT")
        .load(p)
        .writeStream.format("memory").queryName(sink).start()
      try q.processAllAvailable() finally q.stop()
      val ks = spark.table(sink).select("k").as[Long].collect().toSet
      assert(ks == (1L until 200L by 2).toSet)
    }
  }

  test("eq commit on a directory graft never wrote imports it first") {
    withTmp { tmp =>
      val p = s"$tmp/plain"
      spark.range(100).select(col("id").as("k"), (col("id") * 2).as("v"))
        .coalesce(1).write.parquet(p)
      assert(!CommitLog.enabled(p, conf))
      // validation runs before the import: a refused repair leaves the
      // directory as found
      intercept[IllegalArgumentException](EqualityRepair.commit(spark, p,
        Seq("nope"), Seq(3L).toDF("nope"), Seq.empty[Long].toDF("k")))
      assert(!CommitLog.enabled(p, conf))
      EqualityRepair.commit(spark, p, Seq("k"), Seq(3L, 4L).toDF("k"),
        Seq((4L, 40L), (500L, 1L)).toDF("k", "v"))
      // version 1 is the listing as found, version 2 the repair
      assert(CommitLog.versions(new org.apache.hadoop.fs.Path(p), conf)
        .toSeq == Seq(1L, 2L))
      assert(spark.read.format(fmt).option(Dsv2Parquet.VersionAsOfOption, "1")
        .load(p).count() == 100L)
      val got = spark.read.format(fmt).load(p)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.size == 100 - 2 + 2)
      assert(!got.contains(3L) && got(4L) == 40L && got(500L) == 1L)
    }
  }

  test("eq commit inserts follow store assignment: a mistyped column or " +
      "an overflow fails with the table unchanged") {
    withTmp { tmp =>
      val prevAnsi = spark.conf.get("spark.sql.ansi.enabled")
      // with ANSI off a plain cast would commit null / a wrapped value
      spark.conf.set("spark.sql.ansi.enabled", "false")
      try {
        val p = mkTable(tmp)
        val before = CommitLog.latest(p, conf).get.version
        def unchanged(): Unit = {
          assert(CommitLog.latest(p, conf).get.version == before)
          assert(spark.read.format(fmt).load(p).count() == 1000L)
        }
        // a string into the BIGINT column v: refused before staging
        val e1 = intercept[IllegalArgumentException] {
          EqualityRepair.commit(spark, p, Seq("k"), Seq(7L).toDF("k"),
            Seq((7L, "s7", "not a number")).toDF("k", "s", "v"))
        }
        assert(e1.getMessage.contains("cannot store insert column v"))
        unchanged()
        // 2^40 into an INT column: store-assignable, so the ANSI cast
        // fails the job instead of wrapping
        val q = s"$tmp/narrow"
        Seq((1L, 1)).toDF("k", "i").coalesce(1).write.format(fmt)
          .option(Dsv2Parquet.SchemaOption, "k BIGINT, i INT")
          .mode("append").save(q)
        intercept[Exception] {
          EqualityRepair.commit(spark, q, Seq("k"), Seq(1L).toDF("k"),
            Seq((1L, 1L << 40)).toDF("k", "i"))
        }
        assert(CommitLog.latest(q, conf).get.version == 1L)
        assert(spark.read.format(fmt).load(q).as[(Long, Int)].collect()
          .toSeq == Seq((1L, 1)))
      } finally spark.conf.set("spark.sql.ansi.enabled", prevAnsi)
    }
  }
}
