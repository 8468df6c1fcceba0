package graft.sources

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** A RawLocalFileSystem under a non-`file` scheme: forces
 * [[CommitLog.tryCommit]] down its non-local (exclusive-create) CAS
 * branch against a real local directory. */
class GraftTestRemoteFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftremote"
  override def getUri: java.net.URI = java.net.URI.create("graftremote:///")
}

/** [[GraftTestRemoteFs]] whose created streams can be made to throw
 * mid-write: the crash-injection seam for the non-local tryCommit
 * staging path (r20 verdict What's-wrong #1 — a writer dying with a
 * half-written manifest must not wedge the table). */
class GraftTestTornWriteFs extends GraftTestRemoteFs {
  // every RawLocalFileSystem create overload funnels through this
  override def createOutputStreamWithMode(f: Path, append: Boolean,
      permission: org.apache.hadoop.fs.permission.FsPermission)
      : java.io.OutputStream = {
    val inner = super.createOutputStreamWithMode(f, append, permission)
    if (!GraftTestTornWriteFs.failWrites) inner
    else new java.io.OutputStream {
      private var n = 0
      override def write(b: Int): Unit = {
        if (n >= 4) throw new java.io.IOException("injected torn write")
        inner.write(b); n += 1
      }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        val take = math.min(len, math.max(0, 4 - n))
        if (take > 0) { inner.write(b, off, take); n += take }
        if (n >= 4) throw new java.io.IOException("injected torn write")
      }
      override def close(): Unit = inner.close()
    }
  }
}
object GraftTestTornWriteFs {
  @volatile var failWrites = false
}

/** FileContext binding for the graftremote scheme (delegating to
 * [[GraftTestRemoteFs]]): lets a spec drive tryCommit's
 * stage-then-atomic-no-replace-rename promotion, the branch real HDFS
 * takes. */
class GraftTestRemoteAbstractFs(uri: java.net.URI, conf: Configuration)
  extends org.apache.hadoop.fs.DelegateToFileSystem(
    uri, new GraftTestRemoteFs(), conf, "graftremote", false)

/** The commit log itself (r19 verdict #1/#2): CAS publish on both
 * filesystem branches, commitUpdate retry/abort, manifest parse
 * hygiene, TBLPROPERTIES wiring, SQL VERSION AS OF, maintenance
 * through the manifest, the compaction-vs-delta race (loser aborts,
 * no lost deletes), streaming epochs on a logged table, and
 * expire_snapshots. */
class CommitLogSpec extends SparkSpec {
  import spark.implicits._

  private def fmt = classOf[GraftParquetProvider].getName
  private def conf = Dsv2Parquet.readConf

  private def withTmp[A](f: String => A): A = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-clog").toString
    try f(tmp)
    finally {
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(): Unit
      }
      rm(new java.io.File(tmp))
    }
  }

  private def withCatalog[A](f: String => A): A = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-clogcat").toString
    val cat = s"gclog_${java.lang.Long.toHexString(System.nanoTime())}"
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

  private def assertCauseContains(t: Throwable, msg: String): Unit = {
    val chain = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(c => Option(c.getMessage).exists(_.contains(msg))),
      s"no cause contains '$msg': $t")
  }

  private def parquetFilesOnDisk(dir: String): Set[String] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(n => n.endsWith(".parquet") &&
        !n.startsWith("_") && !n.startsWith(".")).toSet

  // ---- the log primitive itself ------------------------------------

  test("versionOf: manifest names round-trip, everything else is None") {
    assert(CommitLog.versionOf(CommitLog.manifestName(7L)) == Some(7L))
    assert(CommitLog.versionOf(CommitLog.manifestName(0L)) == Some(0L))
    assert(CommitLog.versionOf("_v5.manifest") == Some(5L))
    assert(CommitLog.versionOf("_v.manifest").isEmpty)
    assert(CommitLog.versionOf("_v12x3.manifest").isEmpty)
    assert(CommitLog.versionOf("part-0.parquet").isEmpty)
    assert(CommitLog.versionOf("_v1.manifestx").isEmpty)
    assert(CommitLog.versionOf("v1.manifest").isEmpty)
  }

  test("tryCommit: exactly one concurrent publisher wins a version") {
    withTmp { tmp =>
      assert(CommitLog.tryCommit(tmp,
        CommitLog.Snapshot(1L, Set("seed.parquet"), Set.empty), conf))
      val n = 8
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
      val barrier = new java.util.concurrent.CyclicBarrier(n)
      val wins = new java.util.concurrent.atomic.AtomicInteger
      val tasks = (0 until n).map { i =>
        pool.submit(new Runnable {
          def run(): Unit = {
            barrier.await()
            if (CommitLog.tryCommit(tmp,
                CommitLog.Snapshot(2L, Set(s"f$i.parquet"), Set.empty), conf))
              wins.incrementAndGet(): Unit
          }
        })
      }
      tasks.foreach(_.get())
      pool.shutdown()
      assert(wins.get() == 1, s"${wins.get()} writers won version 2")
      // the published manifest is exactly the winner's snapshot
      val snap = CommitLog.read(new Path(tmp), 2L, conf)
      assert(snap.dataFiles.size == 1 &&
        snap.dataFiles.head.matches("f[0-7]\\.parquet"))
      // no temp residue
      assert(!new java.io.File(tmp).listFiles()
        .exists(_.getName.startsWith("._manifest-tmp")))
    }
  }

  test("tryCommit: non-local scheme CASes via exclusive create") {
    withTmp { tmp0 =>
      val c = new Configuration(conf)
      c.set("fs.graftremote.impl", classOf[GraftTestRemoteFs].getName)
      c.setBoolean("fs.graftremote.impl.disable.cache", true)
      val tmp = s"graftremote://$tmp0"
      assert(new Path(tmp).getFileSystem(c).getScheme == "graftremote")
      assert(CommitLog.tryCommit(tmp,
        CommitLog.Snapshot(1L, Set("a.parquet"), Set.empty), c))
      // losing the race: the version exists — create(overwrite=false)
      // refuses, tryCommit reports the loss, the winner's bytes stand
      assert(!CommitLog.tryCommit(tmp,
        CommitLog.Snapshot(1L, Set("b.parquet"), Set.empty), c))
      assert(CommitLog.read(new Path(tmp), 1L, c).dataFiles ==
        Set("a.parquet"))
    }
  }

  test("commitUpdate: contended commuting updates all land (retry loop)") {
    withTmp { tmp =>
      assert(CommitLog.tryCommit(tmp,
        CommitLog.Snapshot(1L, Set.empty, Set.empty), conf))
      val n = 8
      val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
      val barrier = new java.util.concurrent.CyclicBarrier(n)
      val tasks = (0 until n).map { i =>
        pool.submit(new Runnable {
          def run(): Unit = {
            barrier.await()
            val published = CommitLog.commitUpdate(tmp, conf)(cur =>
              Some(cur.copy(dataFiles = cur.dataFiles + s"f$i.parquet")))
            assert(published.nonEmpty)
          }
        })
      }
      tasks.foreach(_.get())
      pool.shutdown()
      val latest = CommitLog.latest(tmp, conf).get
      assert(latest.version == 1L + n)
      assert(latest.dataFiles ==
        (0 until n).map(i => s"f$i.parquet").toSet)
      // every intermediate version remains readable (time travel)
      assert(CommitLog.read(new Path(tmp), 1L, conf).dataFiles.isEmpty)
      assert((1 to n).forall(v =>
        CommitLog.read(new Path(tmp), 1L + v, conf).dataFiles.size == v))
    }
  }

  test("commitUpdate: None aborts without publishing; no log fails loudly") {
    withTmp { tmp =>
      assert(CommitLog.tryCommit(tmp,
        CommitLog.Snapshot(1L, Set("a.parquet"), Set.empty), conf))
      assert(CommitLog.commitUpdate(tmp, conf)(_ => None).isEmpty)
      assert(CommitLog.latest(tmp, conf).get.version == 1L)
    }
    withTmp { tmp =>
      val e = intercept[IllegalStateException] {
        CommitLog.commitUpdate(tmp, conf)(cur => Some(cur))
      }
      assert(e.getMessage.contains("no commit log"))
    }
  }

  test("manifest parse: bad header / bad line / unknown tag fail loudly") {
    def writeManifest(tmp: String, text: String): Unit = {
      val p = new Path(tmp, CommitLog.manifestName(1L))
      val out = p.getFileSystem(conf).create(p, true)
      try out.write(text.getBytes("UTF-8")) finally out.close()
    }
    withTmp { tmp =>
      writeManifest(tmp, "garbage\nD a.parquet\n")
      assertCauseContains(intercept[IllegalArgumentException] {
        CommitLog.read(new Path(tmp), 1L, conf)
      }, "bad header")
    }
    withTmp { tmp =>
      writeManifest(tmp, "graft-manifest 1\nD\n")
      assertCauseContains(intercept[IllegalArgumentException] {
        CommitLog.read(new Path(tmp), 1L, conf)
      }, "bad line")
    }
    withTmp { tmp =>
      writeManifest(tmp, "graft-manifest 1\nX a.parquet\n")
      assertCauseContains(intercept[IllegalArgumentException] {
        CommitLog.read(new Path(tmp), 1L, conf)
      }, "unknown entry tag")
    }
    withTmp { tmp =>
      assertCauseContains(intercept[IllegalArgumentException] {
        CommitLog.read(new Path(tmp), 9L, conf)
      }, "does not exist")
    }
    // the clustered layout and per-file bucket ids round-trip
    withTmp { tmp =>
      val snap = CommitLog.Snapshot(1L, Set("a.parquet", "b c.parquet"),
        Set.empty, layout = Some(CommitLog.Layout(Seq("k", "j"), 8, Seq("k"))),
        buckets = Map("a.parquet" -> 3, "b c.parquet" -> 7))
      assert(CommitLog.tryCommit(tmp, snap, conf))
      val back = CommitLog.read(new Path(tmp), 1L, conf)
      assert(back.layout == snap.layout && back.buckets == snap.buckets)
      assert(back.claimedLayout == snap.layout)
    }
    Seq("B x a.parquet", "B 3", "B -1 a.parquet").foreach { bad =>
      withTmp { tmp =>
        writeManifest(tmp, s"graft-manifest 1\nD a.parquet\n$bad\n")
        assertCauseContains(intercept[IllegalArgumentException] {
          CommitLog.read(new Path(tmp), 1L, conf)
        }, "bad bucket line")
      }
    }
    withTmp { tmp =>
      writeManifest(tmp, "graft-manifest 1\nL 8|k\nD a.parquet\n")
      assertCauseContains(intercept[IllegalArgumentException] {
        CommitLog.read(new Path(tmp), 1L, conf)
      }, "bad layout line")
    }
    // a manifest from before the layout tags parses with no layout
    withTmp { tmp =>
      writeManifest(tmp, "graft-manifest 1\nM operation append\nD a.parquet\n")
      val old = CommitLog.read(new Path(tmp), 1L, conf)
      assert(old.dataFiles == Set("a.parquet"))
      assert(old.layout.isEmpty && old.buckets.isEmpty &&
        old.claimedLayout.isEmpty)
    }
  }

  test("enable is idempotent and snapshots the current listing") {
    withTmp { tmp =>
      spark.range(10).select(col("id").as("k")).coalesce(1)
        .write.format(fmt).option(Dsv2Parquet.SchemaOption, "k BIGINT")
        .mode("append").save(tmp)
      val s1 = CommitLog.enable(tmp, conf)
      assert(s1.version == 1L && s1.dataFiles == parquetFilesOnDisk(tmp))
      // second enable returns the existing latest, publishes nothing
      assert(CommitLog.enable(tmp, conf).version == 1L)
      assert(CommitLog.versions(new Path(tmp), conf).toSeq == Seq(1L))
    }
  }

  test("path reads pin the footer-union schema to the version") {
    withTmp { tmp =>
      spark.range(10).select(col("id").as("k")).coalesce(1)
        .write.format(fmt).option(Dsv2Parquet.SchemaOption, "k BIGINT")
        .mode("append").save(tmp)
      CommitLog.enable(tmp, conf)                               // v1
      spark.range(3).select(col("id").as("k"), col("id").as("v"))
        .coalesce(1).write.format(fmt).mode("append").save(tmp) // v2
      // current path read: footer union of v2's files = both columns
      assert(spark.read.format(fmt).load(tmp).columns.sorted.toSeq ==
        Seq("k", "v"))
      // pinned path read: union over v1's files only — no column leak
      val pinned = spark.read.format(fmt)
        .option(Dsv2Parquet.VersionAsOfOption, "1").load(tmp)
      assert(pinned.columns.toSeq == Seq("k"))
      assert(pinned.count() == 10L)
    }
  }

  // ---- the user surfaces -------------------------------------------

  test("TBLPROPERTIES starts the log; SQL VERSION AS OF time-travels") {
    withCatalog { cat =>
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT) " +
        "TBLPROPERTIES ('graft.commit.log'='true')")
      val p = s"${root(cat)}/db/t"
      assert(CommitLog.enabled(p, conf), "CREATE did not publish version 1")
      spark.range(10).select(col("id").as("k")).coalesce(1)
        .writeTo(s"$cat.db.t").append()
      spark.range(10, 20).select(col("id").as("k")).coalesce(1)
        .writeTo(s"$cat.db.t").append()
      assert(spark.sql(s"SELECT k FROM $cat.db.t").count() == 20L)
      assert(spark.sql(s"SELECT k FROM $cat.db.t VERSION AS OF 2")
        .as[Long].collect().toSet == (0L until 10L).toSet)
      assert(spark.sql(s"SELECT k FROM $cat.db.t VERSION AS OF 1").count() == 0L)
      // the loaded table reports the property
      assert(spark.sql(s"SHOW TBLPROPERTIES $cat.db.t").collect()
        .exists(r => r.getString(0) == Dsv2Parquet.CommitLogProperty &&
          r.getString(1) == "true"))
      // enable-only: UNSET and SET-to-false are refused
      assertCauseContains(intercept[Throwable] {
        spark.sql(
          s"ALTER TABLE $cat.db.t UNSET TBLPROPERTIES ('graft.commit.log')")
      }, "cannot UNSET")
      assertCauseContains(intercept[Throwable] {
        spark.sql(s"ALTER TABLE $cat.db.t " +
          "SET TBLPROPERTIES ('graft.commit.log'='false')")
      }, "enable-only")
    }
  }

  test("a plain parquet table is imported by its first graft write") {
    withCatalog { cat =>
      // a table directory graft never wrote: plain parquet output
      val p = s"${root(cat)}/db/t"
      spark.range(1, 1001).select(col("id").as("k")).coalesce(1)
        .write.parquet(p)
      spark.range(1001, 2001).select(col("id").as("k")).coalesce(1)
        .write.mode("append").parquet(p)
      // reads do not import it, and 'true' is accepted as a no-op
      assert(spark.sql(s"SELECT k FROM $cat.db.t").count() == 2000L)
      spark.sql(
        s"ALTER TABLE $cat.db.t SET TBLPROPERTIES ('graft.commit.log'='true')")
      assert(!CommitLog.enabled(p, conf))
      // the first write — here a file-aligned metadata DELETE — imports
      // the listing as version 1 and retires LOGICALLY at version 2:
      // the dropped file stays on disk, readable at version 1
      spark.sql(s"DELETE FROM $cat.db.t WHERE k <= 1000")
      assert(CommitLog.read(new Path(p), 1L, conf).dataFiles ==
        parquetFilesOnDisk(p))
      assert(CommitLog.latest(p, conf).get.version == 2L)
      assert(spark.sql(s"SELECT k FROM $cat.db.t").as[Long].collect().toSet ==
        (1001L to 2000L).toSet)
      assert(parquetFilesOnDisk(p).size == 2,
        "logical retire must not physically delete")
      assert(spark.sql(s"SELECT k FROM $cat.db.t VERSION AS OF 1").count() ==
        2000L)
    }
  }

  test("atomic CTAS honors graft.commit.log") {
    withCatalog { cat =>
      spark.sql(s"CREATE TABLE $cat.db.c TBLPROPERTIES " +
        "('graft.commit.log'='true') AS SELECT id AS k FROM range(5)")
      val p = s"${root(cat)}/db/c"
      assert(CommitLog.enabled(p, conf))
      assert(spark.sql(s"SELECT k FROM $cat.db.c VERSION AS OF 1")
        .count() == 5L)
      spark.range(5, 9).select(col("id").as("k")).coalesce(1)
        .writeTo(s"$cat.db.c").append()
      assert(spark.sql(s"SELECT k FROM $cat.db.c").count() == 9L)
      assert(spark.sql(s"SELECT k FROM $cat.db.c VERSION AS OF 1")
        .count() == 5L)
    }
  }

  // ---- maintenance and the race it was built to close ---------------

  test("compaction racing a delta commit: compaction aborts, no lost deletes") {
    withCatalog { cat =>
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v BIGINT) TBLPROPERTIES " +
        "('graft.merge.mode'='merge-on-read', 'graft.commit.log'='true')")
      val p = s"${root(cat)}/db/t"
      spark.range(100).select(col("id").as("k"), (col("id") * 2).as("v"))
        .coalesce(2).writeTo(s"$cat.db.t").append()
      spark.sql(s"DELETE FROM $cat.db.t WHERE k % 10 = 3")
      assert(Dsv2WriteProbe.forPath(p).lastDvPositions.get() == 10L)
      // a delta commit lands INSIDE compaction's publish window
      CommitRaceProbe.beforePublish = {
        case (_, "compact") =>
          spark.sql(s"DELETE FROM $cat.db.t WHERE k % 10 = 7"): Unit
        case _ =>
      }
      try {
        val e = intercept[IllegalStateException] {
          GraftMaintenance.compactDeletionVectors(spark, p)
        }
        assert(e.getMessage.contains("concurrent delta commit landed"))
      } finally CommitRaceProbe.reset()
      CommitResidue.assertNone(p)
      // loser aborted, NOTHING lost: both delete sets visible
      assert(spark.sql(s"SELECT k FROM $cat.db.t").as[Long].collect().toSet ==
        (0L until 100L).filterNot(k => k % 10 == 3 || k % 10 == 7).toSet)
      // after the dust settles, compaction succeeds and preserves state
      assert(GraftMaintenance.compactDeletionVectors(spark, p) == 2)
      assert(spark.sql(s"SELECT k FROM $cat.db.t").as[Long].collect().toSet ==
        (0L until 100L).filterNot(k => k % 10 == 3 || k % 10 == 7).toSet)
      assert(CommitLog.latest(p, conf).get.dvFiles.isEmpty,
        "compaction must retire the folded deletion vectors")
    }
  }

  test("delta commit racing a compaction: delta aborts, no partial repair") {
    withCatalog { cat =>
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v BIGINT) TBLPROPERTIES " +
        "('graft.merge.mode'='merge-on-read', 'graft.commit.log'='true')")
      val p = s"${root(cat)}/db/t"
      spark.range(100).select(col("id").as("k"), (col("id") * 2).as("v"))
        .coalesce(2).writeTo(s"$cat.db.t").append()
      spark.sql(s"DELETE FROM $cat.db.t WHERE k % 10 = 3")
      // a compaction wins the version INSIDE the delta's publish window
      CommitRaceProbe.beforePublish = {
        case (_, "delta") =>
          CommitRaceProbe.reset() // one-shot
          GraftMaintenance.compactDeletionVectors(spark, p): Unit
        case _ =>
      }
      try {
        assertCauseContains(intercept[Throwable] {
          spark.sql(s"DELETE FROM $cat.db.t WHERE k % 10 = 7")
        }, "concurrent writer conflict")
      } finally CommitRaceProbe.reset()
      CommitResidue.assertNone(p)
      // the table is the compaction's state: first deletes folded in,
      // the aborted delta invisible — not partially applied
      assert(spark.sql(s"SELECT k FROM $cat.db.t").as[Long].collect().toSet ==
        (0L until 100L).filterNot(_ % 10 == 3).toSet)
      assert(CommitLog.latest(p, conf).get.dvFiles.isEmpty)
      // re-run repairs cleanly against the compacted table
      spark.sql(s"DELETE FROM $cat.db.t WHERE k % 10 = 7")
      assert(spark.sql(s"SELECT k FROM $cat.db.t").as[Long].collect().toSet ==
        (0L until 100L).filterNot(k => k % 10 == 3 || k % 10 == 7).toSet)
    }
  }

  test("replace racing an equality repair: replace aborts, no lost deletes") {
    withCatalog { cat =>
      // copy-on-write: a DELETE rewrites the scanned files wholesale
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v BIGINT) TBLPROPERTIES " +
        "('graft.commit.log'='true')")
      val p = s"${root(cat)}/db/t"
      spark.range(100).select(col("id").as("k"), (col("id") * 2).as("v"))
        .coalesce(2).writeTo(s"$cat.db.t").append()
      // an equality repair publishes INSIDE the replace's commit window
      // — its deletes target the files the replace is about to retire,
      // and the replace's output (scanned pre-repair) does not carry
      // them: the replace must abort, never silently drop the repair
      CommitRaceProbe.beforePublish = {
        case (_, "replace") =>
          CommitRaceProbe.reset() // one-shot
          EqualityRepair.commit(spark, p, Seq("k"),
            spark.range(5).select((col("id") * 10 + 5).as("k")),
            spark.emptyDataFrame.selectExpr())
        case _ =>
      }
      try {
        assertCauseContains(intercept[Throwable] {
          spark.sql(s"DELETE FROM $cat.db.t WHERE k % 10 = 3")
        }, "concurrent equality-delete commit")
      } finally CommitRaceProbe.reset()
      CommitResidue.assertNone(p)
      // the repair's state stands; the aborted replace is invisible
      val repaired = Set(5L, 15L, 25L, 35L, 45L)
      assert(spark.sql(s"SELECT k FROM $cat.db.t").as[Long].collect().toSet ==
        (0L until 100L).toSet -- repaired)
      // fold the eq deletes, then the replace re-runs cleanly
      assert(GraftMaintenance.compactDeletionVectors(spark, p) > 0)
      spark.sql(s"DELETE FROM $cat.db.t WHERE k % 10 = 3")
      assert(spark.sql(s"SELECT k FROM $cat.db.t").as[Long].collect().toSet ==
        (0L until 100L).filterNot(_ % 10 == 3).toSet -- repaired)
    }
  }

  test("replace racing a delta's deletion vector: replace aborts") {
    withCatalog { cat =>
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v BIGINT) TBLPROPERTIES " +
        "('graft.commit.log'='true')")
      val p = s"${root(cat)}/db/t"
      spark.range(100).select(col("id").as("k"), (col("id") * 2).as("v"))
        .coalesce(2).writeTo(s"$cat.db.t").append()
      // a delta-style commit lands a DV on a scanned file INSIDE the
      // replace's publish window — deletes the replace's rewrite does
      // not carry (its scan ran pre-DV): abort, never lose them
      CommitRaceProbe.beforePublish = {
        case (_, "replace") =>
          CommitRaceProbe.reset() // one-shot
          val fn = PlanningView(p, None).dataFiles.head.getPath.getName
          val dv = Dsv2Parquet.writeDvSidecar(
            new org.apache.hadoop.fs.Path(p), fn, Array(0L, 1L), conf)
          CommitLog.commitUpdate(p, conf, operation = "delta")(cur =>
            Some(cur.copy(dvFiles = cur.dvFiles + dv))): Unit
        case _ =>
      }
      try {
        assertCauseContains(intercept[Throwable] {
          spark.sql(s"DELETE FROM $cat.db.t WHERE k % 10 = 3")
        }, "concurrent delta commit landed")
      } finally CommitRaceProbe.reset()
      CommitResidue.assertNone(p)
      // the DV's two rows are dead, the aborted band is still present
      val afterAbort = spark.sql(s"SELECT k FROM $cat.db.t")
        .as[Long].collect().toSet
      assert(afterAbort.size == 98)
      assert((3L until 100L by 10L).forall(afterAbort.contains),
        "the aborted replace must leave its band untouched")
      // re-run applies cleanly on top of the DV
      spark.sql(s"DELETE FROM $cat.db.t WHERE k % 10 = 3")
      val got = spark.sql(s"SELECT k FROM $cat.db.t").as[Long].collect().toSet
      assert(got.size == 88)
      assert((3L until 100L by 10L).forall(k => !got.contains(k)))
    }
  }

  test("concurrent SQL writers: every commit lands, none lost") {
    withCatalog { cat =>
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v BIGINT) TBLPROPERTIES " +
        "('graft.merge.mode'='merge-on-read', 'graft.commit.log'='true')")
      val p = s"${root(cat)}/db/t"
      spark.range(1000).select(col("id").as("k"), (col("id") * 2).as("v"))
        .coalesce(2).writeTo(s"$cat.db.t").append()
      val baseVersions = CommitLog.versions(
        new org.apache.hadoop.fs.Path(p), conf).length
      // 4 appender threads × 3 disjoint batches + 4 deleter threads,
      // all REAL SQL commits racing through the CAS retry loop —
      // appends and delta deletes commute, so every one must land
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      val tasks: Seq[java.util.concurrent.Callable[Unit]] =
        (0 until 4).map { tid =>
          new java.util.concurrent.Callable[Unit] {
            override def call(): Unit = (0 until 3).foreach { b =>
              spark.range(100)
                .select((col("id") + 10000L + tid * 1000L + b * 100L).as("k"),
                  lit(1L).as("v"))
                .coalesce(1).writeTo(s"$cat.db.t").append()
            }
          }
        } ++ (0 until 4).map { r =>
          new java.util.concurrent.Callable[Unit] {
            override def call(): Unit = {
              // bands scoped to the initial rows: concurrent appends
              // never match, so the expected state is deterministic
              spark.sql(s"DELETE FROM $cat.db.t WHERE k < 1000 AND " +
                s"k % 29 = $r"): Unit
            }
          }
        }
      import scala.jdk.CollectionConverters._
      val futures = pool.invokeAll(tasks.asJava)
      pool.shutdown()
      futures.asScala.foreach(_.get()) // propagate any thread's failure
      val expected = (0L until 1000L).filterNot(_ % 29 < 4).toSet ++
        (for (tid <- 0 until 4; b <- 0 until 3; i <- 0 until 100)
          yield 10000L + tid * 1000L + b * 100L + i).toSet
      assert(spark.sql(s"SELECT k FROM $cat.db.t").as[Long].collect().toSet
        == expected, "a concurrent commit was lost")
      // every commit published exactly one version — 12 appends + 4
      // deltas on top of the base, no version skipped or stolen
      assert(CommitLog.versions(new org.apache.hadoop.fs.Path(p), conf)
        .length == baseVersions + 16)
    }
  }

  test("minor compaction merges sidecars through the manifest") {
    withCatalog { cat =>
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT) TBLPROPERTIES " +
        "('graft.merge.mode'='merge-on-read', 'graft.commit.log'='true')")
      val p = s"${root(cat)}/db/t"
      spark.range(100).select(col("id").as("k")).coalesce(1)
        .writeTo(s"$cat.db.t").append()
      spark.sql(s"DELETE FROM $cat.db.t WHERE k % 10 = 3")
      spark.sql(s"DELETE FROM $cat.db.t WHERE k % 10 = 7")
      assert(CommitLog.latest(p, conf).get.dvFiles.size == 2)
      assert(GraftMaintenance.compactDvSidecars(p) == 1)
      val after = CommitLog.latest(p, conf).get
      assert(after.dvFiles.size == 1, "sidecars not merged in the manifest")
      assert(spark.sql(s"SELECT k FROM $cat.db.t").as[Long].collect().toSet ==
        (0L until 100L).filterNot(k => k % 10 == 3 || k % 10 == 7).toSet)
      // merged inputs stay on disk for time travel (logical retire)
      val diskDvs = Option(new java.io.File(p).listFiles()).get
        .map(_.getName).count(_.startsWith("_dv-"))
      assert(diskDvs == 3, s"expected 2 retired + 1 merged, got $diskDvs")
    }
  }

  test("expire_snapshots reclaims only what no retained version references") {
    withCatalog { cat =>
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT) " +
        "TBLPROPERTIES ('graft.commit.log'='true')")
      val p = s"${root(cat)}/db/t"
      spark.range(1, 1001).select(col("id").as("k")).coalesce(1)
        .writeTo(s"$cat.db.t").append() // v2
      spark.range(1001, 2001).select(col("id").as("k")).coalesce(1)
        .writeTo(s"$cat.db.t").append() // v3
      spark.sql(s"DELETE FROM $cat.db.t WHERE k <= 1000") // v4, logical
      assert(parquetFilesOnDisk(p).size == 2)
      val deleted = spark.sql(
        s"CALL $cat.system.expire_snapshots('db.t', 1)").collect()
      // 3 manifests (v1..v3) + the one data file only they referenced
      assert(deleted.head.getInt(0) == 4, deleted.mkString)
      assert(parquetFilesOnDisk(p).size == 1)
      assert(CommitLog.versions(new Path(p), conf).toSeq == Seq(4L))
      // expired versions are gone — even from the same-JVM cache
      assertCauseContains(intercept[Throwable] {
        spark.sql(s"SELECT k FROM $cat.db.t VERSION AS OF 2").count()
      }, "does not exist")
      assert(spark.sql(s"SELECT k FROM $cat.db.t").as[Long].collect().toSet ==
        (1001L to 2000L).toSet)
      // retaining more than history is a no-op
      assert(spark.sql(s"CALL $cat.system.expire_snapshots('db.t', 5)")
        .collect().head.getInt(0) == 0)
    }
  }

  test("history depth and its expiry leave a read's answer unchanged") {
    withTmp { tmp =>
      val p = s"$tmp/t"
      spark.range(1, 4001).select(col("id").as("k"),
        (col("id") * 0.25).as("v")).repartition(4).write.parquet(p)
      CommitLog.enable(p, conf)
      def read(): Row = spark.read.format(fmt).load(p)
        .agg(count(lit(1)), sum("v")).head()
      val shallow = read()
      (1 to 40).foreach { _ =>
        CommitLog.commitUpdate(p, conf, "noop")(Some(_)): Unit
      }
      assert(CommitLog.versions(new Path(p), conf).length == 41)
      assert(read() == shallow)
      assert(GraftMaintenance.expireSnapshots(p, 1) == 40)
      assert(CommitLog.versions(new Path(p), conf).toSeq == Seq(41L))
      assert(read() == shallow)
    }
  }

  test("time travel serves the schema AS OF the commit, not the current") {
    withCatalog { cat =>
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT) " +
        "TBLPROPERTIES ('graft.commit.log'='true')")            // v1
      spark.range(5).select(col("id").as("k")).coalesce(1)
        .writeTo(s"$cat.db.t").append()                         // v2
      spark.sql(s"ALTER TABLE $cat.db.t ADD COLUMN v BIGINT")   // v3
      // a path read serves the catalog's schema, at every version; with
      // no row written since the ALTER no file holds v
      val path = s"${spark.conf.get(s"spark.sql.catalog.$cat.root")}/db/t"
      def pathSchema(v: Option[Long]) = v.fold(spark.read.format(fmt))(n =>
        spark.read.format(fmt).option(Dsv2Parquet.VersionAsOfOption, n.toString))
        .load(path).schema
      assert(pathSchema(None) == spark.table(s"$cat.db.t").schema)
      Seq(2L, 3L).foreach(n => assert(pathSchema(Some(n)) ==
        spark.sql(s"SELECT * FROM $cat.db.t VERSION AS OF $n").schema, s"v$n"))
      spark.range(5, 8).select(col("id").as("k"), (col("id") * 10).as("v"))
        .coalesce(1).writeTo(s"$cat.db.t").append()             // v4
      // current read: both columns, old rows null-filled
      assert(spark.sql(s"SELECT * FROM $cat.db.t").columns.toSeq ==
        Seq("k", "v"))
      // a version committed BEFORE the ALTER must not show the column
      assert(spark.sql(s"SELECT * FROM $cat.db.t VERSION AS OF 2")
        .columns.toSeq == Seq("k"))
      // the ALTER itself is a published, history-visible commit…
      val hist = spark.sql(s"CALL $cat.system.snapshots('db.t')")
        .collect().map(r => (r.getLong(0), r.getString(4)))
      assert(hist.toSeq == Seq((1L, "enable"), (2L, "append"),
        (3L, "alter schema"), (4L, "append")), hist.mkString)
      // …and the history lists each version's recorded schema
      val schemas = spark.sql(s"CALL $cat.system.snapshots('db.t')")
        .collect().map(_.getString(6))
      assert(schemas(1) == "k BIGINT" && schemas(3).contains("v BIGINT"),
        schemas.mkString("|"))
      // …whose pinned read already serves the widened schema
      assert(spark.sql(s"SELECT * FROM $cat.db.t VERSION AS OF 3")
        .columns.toSeq == Seq("k", "v"))
      assert(spark.sql(s"SELECT * FROM $cat.db.t VERSION AS OF 4")
        .count() == 8L)
      // TIMESTAMP AS OF resolves through the same pinning
      val ts2 = spark.sql(s"CALL $cat.system.snapshots('db.t')")
        .collect().map(_.getLong(5)).apply(1)
      assert(spark.sql(s"SELECT * FROM $cat.db.t TIMESTAMP AS OF " +
        s"timestamp_millis($ts2)").columns.toSeq == Seq("k"))
    }
  }

  test("rollback_to_version restores a prior state, history preserved") {
    withCatalog { cat =>
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT) " +
        "TBLPROPERTIES ('graft.commit.log'='true')")            // v1
      spark.range(10).select(col("id").as("k")).coalesce(1)
        .writeTo(s"$cat.db.t").append()                         // v2
      spark.range(10, 20).select(col("id").as("k")).coalesce(1)
        .writeTo(s"$cat.db.t").append()                         // v3
      spark.sql(s"DELETE FROM $cat.db.t WHERE k < 10")          // v4
      assert(spark.sql(s"SELECT k FROM $cat.db.t").count() == 10L)
      val v = spark.sql(
        s"CALL $cat.system.rollback_to_version('db.t', 2)").collect()
      assert(v.head.getLong(0) == 5L, v.mkString)               // v5
      // the table IS version 2's state again — zero data movement
      assert(spark.sql(s"SELECT k FROM $cat.db.t").as[Long]
        .collect().toSet == (0L until 10L).toSet)
      // rolled-over versions remain time-travelable until expiry
      assert(spark.sql(s"SELECT k FROM $cat.db.t VERSION AS OF 3")
        .count() == 20L)
      assert(spark.sql(s"SELECT k FROM $cat.db.t VERSION AS OF 4")
        .count() == 10L)
      // the rollback is itself one more commit in the history
      val hist = spark.sql(s"CALL $cat.system.snapshots('db.t')")
        .collect().map(r => (r.getLong(0), r.getString(4)))
      assert(hist.last == ((5L, "rollback to 2")), hist.mkString)
      // rolling forward again works too (undo the undo)
      spark.sql(s"CALL $cat.system.rollback_to_version('db.t', 4)")
      assert(spark.sql(s"SELECT k FROM $cat.db.t").as[Long]
        .collect().toSet == (10L until 20L).toSet)
      // a never-published version is refused
      assertCauseContains(intercept[Throwable] {
        spark.sql(s"CALL $cat.system.rollback_to_version('db.t', 99)")
          .collect()
      }, "does not exist")
      // a reclaimed target is refused: expire past v2, then ask for it
      spark.sql(s"CALL $cat.system.expire_snapshots('db.t', 1)")
      assertCauseContains(intercept[Throwable] {
        spark.sql(s"CALL $cat.system.rollback_to_version('db.t', 2)")
          .collect()
      }, "does not exist")
    }
  }

  test("rollback racing a concurrent append: last write wins, by design") {
    withCatalog { cat =>
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT) " +
        "TBLPROPERTIES ('graft.commit.log'='true')")            // v1
      spark.range(10).select(col("id").as("k")).coalesce(1)
        .writeTo(s"$cat.db.t").append()                         // v2
      spark.range(10, 20).select(col("id").as("k")).coalesce(1)
        .writeTo(s"$cat.db.t").append()                         // v3
      // an append wins a version INSIDE the rollback's publish window:
      // the rollback must RETRY (CAS loss) and still set the table to
      // the target — "set the table to version N" means exactly that
      CommitRaceProbe.beforePublish = {
        case (_, op) if op.startsWith("rollback") =>
          CommitRaceProbe.reset() // one-shot
          spark.range(20, 30).select(col("id").as("k")).coalesce(1)
            .writeTo(s"$cat.db.t").append()             // v4 (racer)
        case _ =>
      }
      try {
        val v = spark.sql(
          s"CALL $cat.system.rollback_to_version('db.t', 2)").collect()
        assert(v.head.getLong(0) == 5L, v.mkString)     // v5, after retry
      } finally CommitRaceProbe.reset()
      // current state IS version 2's; the raced append is rolled over…
      assert(spark.sql(s"SELECT k FROM $cat.db.t").as[Long]
        .collect().toSet == (0L until 10L).toSet)
      // …but not lost: its version remains readable until expiry
      assert(spark.sql(s"SELECT k FROM $cat.db.t VERSION AS OF 4")
        .as[Long].collect().toSet == (0L until 30L).toSet)
    }
  }

  test("remove_orphan_files deletes only unreferenced, age-gated files") {
    withCatalog { cat =>
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT) " +
        "TBLPROPERTIES ('graft.commit.log'='true')")
      spark.range(10).select(col("id").as("k")).coalesce(1)
        .writeTo(s"$cat.db.t").append()
      val p = s"${root(cat)}/db/t"
      // plant strays of every table-file shape + a non-candidate
      val strayData = new java.io.File(p, "stray-crashed-write.parquet")
      val strayDv = new java.io.File(p,
        s"${Dsv2Parquet.DvPrefix}stray.parquet-x.bin")
      val strayEq = new java.io.File(p, s"${Dsv2Equality.EqPrefix}stray.bin")
      val marker = new java.io.File(p, "_clustering_unrelated")
      val strayTmp = new java.io.File(p, "._manifest-tmp-deadbeef")
      Seq(strayData, strayDv, strayEq, marker, strayTmp).foreach { f =>
        val w = new java.io.FileWriter(f); w.write("x"); w.close()
      }
      val strayStaging = new java.io.File(p, "_staging-deadquery")
      strayStaging.mkdir()
      val w2 = new java.io.FileWriter(
        new java.io.File(strayStaging, "part-0.parquet"))
      w2.write("x"); w2.close()
      // age guard: nothing is old enough yet
      assert(spark.sql(
        s"CALL $cat.system.remove_orphan_files('db.t', ${86400L * 1000})")
        .collect().head.getInt(0) == 0)
      assert(strayData.exists() && strayDv.exists() && strayEq.exists())
      // no guard: the three table-shaped strays + two writer debris go
      assert(spark.sql(s"CALL $cat.system.remove_orphan_files('db.t', 0)")
        .collect().head.getInt(0) == 5)
      assert(!strayData.exists() && !strayDv.exists() && !strayEq.exists())
      assert(!strayTmp.exists() && !strayStaging.exists(),
        "crashed-writer debris must be reclaimed")
      assert(marker.exists(), "non-table-shaped file must survive")
      // referenced data + manifests untouched; the table still reads
      assert(parquetFilesOnDisk(p).size == 1)
      assert(spark.sql(s"SELECT k FROM $cat.db.t").count() == 10L)
      assert(CommitLog.versions(new Path(p), conf).length == 2)
      // a directory graft never wrote is refused — its listing IS the
      // state
      spark.range(3).select(col("id").as("k"))
        .write.parquet(s"${root(cat)}/db/nolog")
      assertCauseContains(intercept[Throwable] {
        spark.sql(s"CALL $cat.system.remove_orphan_files('db.nolog', 0)")
          .collect()
      }, "no commit log")
    }
  }

  test("snapshots lists the published history (DESCRIBE HISTORY face)") {
    withCatalog { cat =>
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT) " +
        "TBLPROPERTIES ('graft.commit.log'='true')")
      spark.range(10).select(col("id").as("k")).coalesce(1)
        .writeTo(s"$cat.db.t").append()
      spark.range(10, 20).select(col("id").as("k")).coalesce(1)
        .writeTo(s"$cat.db.t").append()
      val rows = spark.sql(s"CALL $cat.system.snapshots('db.t')")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(4)))
      assert(rows.toSeq == Seq((1L, 0, "enable"), (2L, 1, "append"),
        (3L, 2, "append")), rows.mkString)
      // commit timestamps are stamped and non-decreasing
      val ts = spark.sql(s"CALL $cat.system.snapshots('db.t')")
        .collect().map(_.getLong(5))
      assert(ts.forall(_ > 0L) && ts.sorted.sameElements(ts))
      // TIMESTAMP AS OF resolves to the newest version at-or-before:
      // version 2's own stamp must read version 2's state
      assert(spark.sql(s"SELECT k FROM $cat.db.t TIMESTAMP AS OF " +
        s"timestamp_millis(${ts(1)})").count() == 10L)
      // far future = latest; before history = refused
      assert(spark.sql(s"SELECT k FROM $cat.db.t TIMESTAMP AS OF " +
        s"timestamp_millis(${ts(2) + 3600000L})").count() == 20L)
      assertCauseContains(intercept[Throwable] {
        spark.sql(s"SELECT k FROM $cat.db.t TIMESTAMP AS OF " +
          s"timestamp_millis(${ts(0) - 3600000L})").count()
      }, "precedes")
    }
  }

  // ---- streaming epochs on a logged table ---------------------------

  test("streaming epochs publish manifest versions (append mode)") {
    withTmp { tmp =>
      val src = s"$tmp/src"
      val dst = s"$tmp/dst"
      new java.io.File(dst).mkdirs()
      CommitLog.enable(dst, conf)
      spark.range(10).select(col("id").as("k")).coalesce(1).write.parquet(src)
      val q = spark.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
        .option("maxFilesPerTrigger", "1").parquet(src)
        .writeStream.format(fmt).outputMode("append")
        .option(Dsv2Parquet.SchemaOption, "k BIGINT")
        .option("checkpointLocation", s"$tmp/ckpt")
        .start(dst)
      try {
        q.processAllAvailable()
        spark.range(10, 25).select(col("id").as("k"))
          .coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
      } finally q.stop()
      val latest = CommitLog.latest(dst, conf).get
      assert(latest.version >= 3L, "one manifest version per epoch")
      assert(spark.read.format(fmt).load(dst).as[Long].collect().toSet ==
        (0L until 25L).toSet)
      // the first epoch alone is still readable
      assert(spark.read.format(fmt)
        .option(Dsv2Parquet.VersionAsOfOption, "2").load(dst)
        .as[Long].collect().toSet == (0L until 10L).toSet)
    }
  }

  test("complete-mode epochs retire logically on a logged table") {
    withTmp { tmp =>
      val src = s"$tmp/src"
      val dst = s"$tmp/dst"
      new java.io.File(dst).mkdirs()
      CommitLog.enable(dst, conf)
      spark.range(8).select((col("id") % 2).as("g")).coalesce(1)
        .write.parquet(src)
      val q = spark.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL("g BIGINT"))
        .option("maxFilesPerTrigger", "1").parquet(src)
        .groupBy("g").agg(count(lit(1)).as("n"))
        .writeStream.format(fmt).outputMode("complete")
        .option(Dsv2Parquet.SchemaOption, "g BIGINT, n BIGINT")
        .option("checkpointLocation", s"$tmp/ckpt")
        .start(dst)
      try {
        q.processAllAvailable()
        spark.range(8).select(lit(1L).as("g")).coalesce(1)
          .write.mode("append").parquet(src)
        q.processAllAvailable()
      } finally q.stop()
      // current snapshot = final counts only
      val got = spark.read.format(fmt).load(dst).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(0L -> 4L, 1L -> 12L), got.toString)
      // the replaced epoch stayed on disk (manifest-referenced history,
      // never physically deleted by a logged commit) and reads back
      val v2 = spark.read.format(fmt)
        .option(Dsv2Parquet.VersionAsOfOption, "2").load(dst).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(v2 == Map(0L -> 4L, 1L -> 4L), v2.toString)
      assert(parquetFilesOnDisk(dst).size >
        CommitLog.latest(dst, conf).get.dataFiles.size)
    }
  }

  // ---- non-local commit durability (r20 verdict What's-wrong #1) ----

  test("non-local tryCommit: a writer crash mid-write never wedges the table") {
    withTmp { tmp0 =>
      val c = new Configuration(conf)
      c.set("fs.graftremote.impl", classOf[GraftTestTornWriteFs].getName)
      c.setBoolean("fs.graftremote.impl.disable.cache", true)
      val tmp = s"graftremote://$tmp0"
      assert(CommitLog.tryCommit(tmp,
        CommitLog.Snapshot(1L, Set("a.parquet"), Set.empty), c))
      // inject the crash: the staged write dies after 4 bytes — with
      // the old write-in-place-at-the-published-name protocol this
      // left a torn _v2 manifest that burned the version and made
      // every read throw "bad header" forever
      GraftTestTornWriteFs.failWrites = true
      try {
        intercept[java.io.IOException] {
          CommitLog.tryCommit(tmp,
            CommitLog.Snapshot(2L, Set("b.parquet"), Set.empty), c)
        }
      } finally GraftTestTornWriteFs.failWrites = false
      // the table stayed fully readable at version 1…
      assert(CommitLog.latest(tmp, c).get.version == 1L)
      assert(CommitLog.read(new Path(tmp), 1L, c).dataFiles ==
        Set("a.parquet"))
      // …and version 2 was NOT burned: the next CAS wins it cleanly
      assert(CommitLog.tryCommit(tmp,
        CommitLog.Snapshot(2L, Set("b.parquet"), Set.empty), c))
      assert(CommitLog.read(new Path(tmp), 2L, c).dataFiles ==
        Set("b.parquet"))
    }
  }

  test("non-local tryCommit promotes via atomic no-replace rename when " +
      "FileContext is bound (the HDFS branch)") {
    withTmp { tmp0 =>
      val c = new Configuration(conf)
      c.set("fs.graftremote.impl", classOf[GraftTestTornWriteFs].getName)
      c.setBoolean("fs.graftremote.impl.disable.cache", true)
      c.set("fs.AbstractFileSystem.graftremote.impl",
        classOf[GraftTestRemoteAbstractFs].getName)
      val tmp = s"graftremote://$tmp0"
      // win: staged + renamed in
      assert(CommitLog.tryCommit(tmp,
        CommitLog.Snapshot(1L, Set("a.parquet"), Set.empty), c))
      assert(CommitLog.read(new Path(tmp), 1L, c).dataFiles ==
        Set("a.parquet"))
      // lose: the destination exists — the no-replace rename refuses,
      // the loser reports false, the winner's bytes stand untouched
      assert(!CommitLog.tryCommit(tmp,
        CommitLog.Snapshot(1L, Set("b.parquet"), Set.empty), c))
      assert(CommitLog.read(new Path(tmp), 1L, c).dataFiles ==
        Set("a.parquet"))
      // crash mid-stage: only tmp debris, never a torn published name
      GraftTestTornWriteFs.failWrites = true
      try {
        intercept[java.io.IOException] {
          CommitLog.tryCommit(tmp,
            CommitLog.Snapshot(2L, Set("b.parquet"), Set.empty), c)
        }
      } finally GraftTestTornWriteFs.failWrites = false
      assert(CommitLog.latest(tmp, c).get.version == 1L)
      assert(CommitLog.tryCommit(tmp,
        CommitLog.Snapshot(2L, Set("b.parquet"), Set.empty), c))
      assert(CommitLog.read(new Path(tmp), 2L, c).dataFiles ==
        Set("b.parquet"))
      // no temp residue from the win/lose/crash sequence
      assert(!new java.io.File(tmp0).listFiles()
        .exists(_.getName.startsWith("._manifest-tmp")))
    }
  }

  // ---- schema stamped under a raced ALTER (r20 What's-wrong #2) ----

  test("commitUpdate republishes the POST-alter schema after losing a " +
      "CAS to a concurrent ALTER") {
    withTmp { tmp =>
      val fs = new Path(tmp).getFileSystem(conf)
      def declare(ddl: String): Unit = {
        val out = fs.create(new Path(tmp, Dsv2Parquet.SchemaFileName), true)
        try out.write(ddl.getBytes("UTF-8")) finally out.close()
      }
      declare("a BIGINT")
      assert(CommitLog.tryCommit(tmp,
        CommitLog.Snapshot(1L, Set("f1.parquet"), Set.empty,
          meta = Map("schema" -> "a BIGINT")), conf))
      var first = true
      val published = CommitLog.commitUpdate(tmp, conf,
          operation = "append") { cur =>
        if (first) {
          first = false
          // the concurrent ALTER lands INSIDE our commit window: new
          // declared DDL plus a competing commit that steals the
          // version so our first CAS loses and the loop retries
          declare("a BIGINT,b STRING")
          assert(CommitLog.tryCommit(tmp, cur.copy(
            version = cur.version + 1,
            meta = Map("operation" -> "alter",
              "schema" -> "a BIGINT,b STRING")), conf))
        }
        Some(cur.copy(dataFiles = cur.dataFiles + "f2.parquet"))
      }.get
      // the retried publish must carry the POST-alter DDL — the old
      // once-before-the-loop read stamped the pre-alter schema, so
      // time travel to this version lost column b
      assert(published.meta("schema") == "a BIGINT,b STRING")
      assert(published.version == 3L)
      assert(CommitLog.read(new Path(tmp), 3L, conf)
        .meta("schema") == "a BIGINT,b STRING")
    }
  }
}
