package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** Executor side of the task failures: a UDF that passes values below
 * `badFrom` through and, on the first value at or above it, waits until
 * `staged` files sit in the table's staging dirs (other tasks of the
 * same job have staged their output) and then throws. */
object FailGate {
  def stagedFiles(path: String): Int = {
    def walk(f: java.io.File, inStaging: Boolean): Int =
      Option(f.listFiles()).toSeq.flatten.map { c =>
        val n = c.getName
        if (c.isDirectory) walk(c, inStaging || n.startsWith("_staging-"))
        else if (inStaging && !n.startsWith(".") &&
          (n.endsWith(".parquet") || n.endsWith(".bin"))) 1
        else 0
      }.sum
    walk(new java.io.File(path), inStaging = false)
  }

  def udfFor(path: String, badFrom: Long, staged: Int): UserDefinedFunction =
    udf { (v: Long) =>
      if (v < badFrom) v
      else {
        val deadline = System.nanoTime() + 30L * 1000000000L
        while (stagedFiles(path) < staged && System.nanoTime() < deadline)
          Thread.sleep(20)
        Thread.sleep(300) // let the staging tasks finish their commit
        throw new IllegalStateException(s"injected task failure at $v")
      }
    }
}

/** A local filesystem under the `graftfail` scheme whose armed state
 * fails the second staged data file's open once the first is closed:
 * the task failure for compaction, which takes no frame a UDF could
 * ride in. */
class GraftTestFailFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftfail"
  override def getUri: java.net.URI = java.net.URI.create("graftfail:///")
  override def createOutputStreamWithMode(f: Path, append: Boolean,
      permission: org.apache.hadoop.fs.permission.FsPermission)
      : java.io.OutputStream = {
    import GraftTestFailFs._
    val inner = super.createOutputStreamWithMode(f, append, permission)
    val stagedData = f.toString.contains("/_staging-") &&
      f.getName.startsWith("part-")
    if (!armed || !stagedData) inner
    else if (opened.getAndIncrement() == 0) new java.io.FilterOutputStream(inner) {
      override def write(b: Array[Byte], off: Int, len: Int): Unit =
        inner.write(b, off, len)
      override def close(): Unit = { super.close(); closed.incrementAndGet(): Unit }
    } else {
      inner.close()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (closed.get() == 0 && System.nanoTime() < deadline) Thread.sleep(20)
      throw new java.io.IOException(s"injected task failure opening $f")
    }
  }
}
object GraftTestFailFs {
  @volatile var armed = false
  val opened = new java.util.concurrent.atomic.AtomicInteger
  val closed = new java.util.concurrent.atomic.AtomicInteger
  def arm(): Unit = { opened.set(0); closed.set(0); armed = true }
}

/** Every graft commit path that places files, failed at a task and at
 * the publish: the table keeps its version and rows, no `_staging-*`
 * dir remains, `remove_orphan_files` finds nothing, and the same
 * operation then commits. */
class CommitFailureSpec extends SparkSpec {
  import spark.implicits._

  private def fmt = classOf[GraftParquetProvider].getName
  private def conf = Dsv2Parquet.readConf

  private def withCatalog[A](f: (String, String) => A): A = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-cfail").toString
    val cat = s"gcfail_${java.lang.Long.toHexString(System.nanoTime())}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", tmp)
    try f(cat, tmp)
    finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.root")
      CommitRaceProbe.reset()
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(): Unit
      }
      rm(new java.io.File(tmp))
    }
  }

  private def rows(df: DataFrame): Set[Row] = df.collect().toSet

  /** Run `op` expecting `msg` somewhere in its cause chain, then check
   * the table is exactly as it was. */
  private def failsCleanly(p: String, read: => DataFrame, msg: String)(
      op: => Unit): Unit = {
    val version = CommitLog.latest(p, conf).get.version
    val before = rows(read)
    val e = intercept[Throwable](op)
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(c => Option(c.getMessage).exists(_.contains(msg))),
      s"no cause contains '$msg': $e")
    assert(CommitLog.latest(p, conf).get.version == version)
    assert(rows(read) == before)
    CommitResidue.assertNone(p)
  }

  /** The publish fails: the hook throws for `operation`. */
  private def failPublish(operation: String): Unit =
    CommitRaceProbe.beforePublish = {
      case (_, `operation`) =>
        throw new IllegalStateException("injected publish failure")
      case _ =>
    }

  private def twoFileTable(cat: String, props: String = ""): Unit = {
    spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v BIGINT) $props")
    Seq(0L, 50L).foreach { lo =>
      spark.range(lo, lo + 50).select(col("id").as("k"), (col("id") * 2).as("v"))
        .coalesce(1).writeTo(s"$cat.db.t").append()
    }
  }

  test("batch append: a failed task or publish leaves the table as it was") {
    withCatalog { (cat, root) =>
      twoFileTable(cat)
      val p = s"$root/db/t"
      def read = spark.table(s"$cat.db.t")
      def append(k: org.apache.spark.sql.Column): Unit =
        spark.range(100, 200, 1, 2).select(k.as("k"), lit(1L).as("v"))
          .writeTo(s"$cat.db.t").append()
      val gate = FailGate.udfFor(p, badFrom = 150L, staged = 1)
      failsCleanly(p, read, "injected task failure")(append(gate(col("id"))))
      failPublish("append")
      failsCleanly(p, read, "injected publish failure")(append(col("id")))
      CommitRaceProbe.reset()
      val version = CommitLog.latest(p, conf).get.version
      append(col("id"))
      assert(CommitLog.latest(p, conf).get.version == version + 1)
      assert(read.count() == 200L)
    }
  }

  test("copy-on-write DELETE: a failed task or publish leaves the table " +
      "as it was") {
    withCatalog { (cat, root) =>
      twoFileTable(cat)
      val p = s"$root/db/t"
      def read = spark.table(s"$cat.db.t")
      // every file is rewritten, so the job has one task per file
      val groupFilter =
        "spark.sql.optimizer.runtime.rowLevelOperationGroupFilter.enabled"
      spark.conf.set(groupFilter, "false")
      try {
        spark.udf.register("fail_gate", FailGate.udfFor(p, 50L, staged = 1))
        failsCleanly(p, read, "injected task failure")(
          spark.sql(s"DELETE FROM $cat.db.t WHERE fail_gate(k) % 10 = 3"))
        failPublish("replace")
        failsCleanly(p, read, "injected publish failure")(
          spark.sql(s"DELETE FROM $cat.db.t WHERE k % 10 = 3"))
        CommitRaceProbe.reset()
        val version = CommitLog.latest(p, conf).get.version
        spark.sql(s"DELETE FROM $cat.db.t WHERE k % 10 = 3")
        assert(CommitLog.latest(p, conf).get.version == version + 1)
        assert(read.select("k").as[Long].collect().toSet ==
          (0L until 100L).filterNot(_ % 10 == 3).toSet)
      } finally spark.conf.unset(groupFilter)
    }
  }

  test("merge-on-read DELETE: a failed task or publish leaves the table " +
      "as it was") {
    withCatalog { (cat, root) =>
      twoFileTable(cat,
        "TBLPROPERTIES ('graft.merge.mode'='merge-on-read')")
      val p = s"$root/db/t"
      def read = spark.table(s"$cat.db.t")
      // delete-only tasks stage nothing: the sidecars are the driver's
      spark.udf.register("fail_gate", FailGate.udfFor(p, 50L, staged = 0))
      failsCleanly(p, read, "injected task failure")(
        spark.sql(s"DELETE FROM $cat.db.t WHERE fail_gate(k) % 10 = 3"))
      failPublish("delta")
      failsCleanly(p, read, "injected publish failure")(
        spark.sql(s"DELETE FROM $cat.db.t WHERE k % 10 = 3"))
      CommitRaceProbe.reset()
      val version = CommitLog.latest(p, conf).get.version
      spark.sql(s"DELETE FROM $cat.db.t WHERE k % 10 = 3")
      assert(CommitLog.latest(p, conf).get.version == version + 1)
      assert(CommitLog.latest(p, conf).get.dvFiles.size == 2)
      assert(read.select("k").as[Long].collect().toSet ==
        (0L until 100L).filterNot(_ % 10 == 3).toSet)
    }
  }

  test("equality-delete commit: a failed task or publish leaves the table " +
      "as it was") {
    withCatalog { (cat, root) =>
      twoFileTable(cat)
      val p = s"$root/db/t"
      def read = spark.table(s"$cat.db.t")
      def repair(k: org.apache.spark.sql.Column): Unit =
        EqualityRepair.commit(spark, p, Seq("k"), Seq(5L, 55L).toDF("k"),
          spark.range(1000, 1100, 1, 2).select(k.as("k"), lit(1L).as("v")))
      // the other insert task's file and the delete task's sidecar
      val gate = FailGate.udfFor(p, badFrom = 1050L, staged = 2)
      failsCleanly(p, read, "injected task failure")(repair(gate(col("id"))))
      failPublish("eq-repair")
      failsCleanly(p, read, "injected publish failure")(repair(col("id")))
      CommitRaceProbe.reset()
      val version = CommitLog.latest(p, conf).get.version
      repair(col("id"))
      val snap = CommitLog.latest(p, conf).get
      assert(snap.version == version + 1 && snap.eqFiles.nonEmpty)
      assert(read.select("k").as[Long].collect().toSet ==
        ((0L until 100L).toSet -- Set(5L, 55L)) ++ (1000L until 1100L))
    }
  }

  test("compaction: a failed task or publish leaves the table as it was") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-cfail").toString
    conf.set("fs.graftfail.impl", classOf[GraftTestFailFs].getName)
    val p = s"graftfail://$tmp/t"
    def read = spark.read.format(fmt).load(p)
    try {
      Seq(0L, 50L).foreach { lo =>
        spark.range(lo, lo + 50).select(col("id").as("k"), (col("id") * 2).as("v"))
          .coalesce(1).write.format(fmt).mode("append").save(p)
      }
      // a deletion vector on each file, so compaction rewrites both
      PlanningView(p, None).dataFiles.foreach { f =>
        val dv = Dsv2Parquet.writeDvSidecar(new Path(p), f.getPath.getName,
          Array(0L, 1L), conf)
        CommitLog.commitUpdate(p, conf, operation = "delta")(cur =>
          Some(cur.copy(dvFiles = cur.dvFiles + dv))): Unit
      }
      GraftTestFailFs.arm()
      try failsCleanly(p, read, "injected task failure")(
        GraftMaintenance.compactDeletionVectors(spark, p): Unit)
      finally GraftTestFailFs.armed = false
      assert(GraftTestFailFs.closed.get() == 1,
        "the other task had staged its file")
      failPublish("compact")
      try failsCleanly(p, read, "injected publish failure")(
        GraftMaintenance.compactDeletionVectors(spark, p): Unit)
      finally CommitRaceProbe.reset()
      val version = CommitLog.latest(p, conf).get.version
      val live = rows(read)
      assert(GraftMaintenance.compactDeletionVectors(spark, p) == 2)
      val snap = CommitLog.latest(p, conf).get
      assert(snap.version == version + 1 && snap.dvFiles.isEmpty)
      assert(rows(read) == live && live.size == 96)
    } finally {
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(): Unit
      }
      rm(new java.io.File(tmp))
    }
  }
}
