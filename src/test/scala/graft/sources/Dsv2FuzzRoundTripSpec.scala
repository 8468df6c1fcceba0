package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

/** Deterministic fuzz of the provider's full read surface: random flat
 * schemas/data (nulls, low/high-cardinality strings, decimals) written
 * through the DSv2 writer under random page sizes and bloom options,
 * then read back through the provider, with random deletion vectors
 * (1-3 sidecars, union semantics) and random band filters (pushed +
 * page index + residual) — every combination compared against a
 * driver-side expected model. Seeded per iteration, so a failure
 * reproduces exactly. This is the randomized complement of the
 * shape-targeted specs: batch boundaries, RLE runs straddling pages,
 * bit-width edges and filter/DV composition all arise by volume. */
class Dsv2FuzzRoundTripSpec extends SparkSpec {

  private def fmt = classOf[GraftParquetProvider].getName

  private case class Col(name: String, dt: DataType,
      gen: (scala.util.Random, Long) => Any)

  test("randomized write/read/DV/filter round trips are exact") {
    (0 until 10).foreach { iter =>
      val rnd = new scala.util.Random(20260814L + iter)
      val n = 2000 + rnd.nextInt(28000)
      val lowK = 2 + rnd.nextInt(18)
      val cols = scala.collection.mutable.ArrayBuffer[Col](
        Col("k", LongType, (_, i) => i))
      if (rnd.nextBoolean()) cols += Col("slow", StringType,
        (r, _) => if (r.nextInt(10) == 0) null else s"cat_${r.nextInt(lowK)}")
      if (rnd.nextBoolean()) cols += Col("shigh", StringType,
        (r, i) => if (r.nextInt(17) == 0) null else s"u-$i-${r.nextInt(1 << 20)}")
      if (rnd.nextBoolean()) cols += Col("v", LongType,
        (r, _) => if (r.nextInt(7) == 0) null else java.lang.Long.valueOf(r.nextLong() >> 16))
      if (rnd.nextBoolean()) cols += Col("d", DoubleType,
        (r, _) => if (r.nextInt(11) == 0) null else java.lang.Double.valueOf(r.nextInt(1 << 20) / 7.0))
      if (rnd.nextBoolean()) cols += Col("dec", DecimalType(9, 2),
        (r, _) => if (r.nextInt(9) == 0) null
          else new java.math.BigDecimal(r.nextInt(1 << 24)).movePointLeft(2))
      if (rnd.nextBoolean()) cols += Col("wide", DecimalType(30, 2),
        (r, _) => if (r.nextInt(9) == 0) null
          else new java.math.BigDecimal(r.nextLong() >> 8).movePointLeft(2))
      if (rnd.nextBoolean()) cols += Col("b", BooleanType,
        (r, _) => if (r.nextInt(13) == 0) null else java.lang.Boolean.valueOf(r.nextBoolean()))
      if (rnd.nextBoolean()) cols += Col("dt", DateType,
        (r, _) => if (r.nextInt(13) == 0) null
          else java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(r.nextInt(20000).toLong)))
      if (rnd.nextBoolean()) cols += Col("ts", TimestampType,
        (r, _) => if (r.nextInt(13) == 0) null
          else new java.sql.Timestamp(1000000000000L + r.nextInt(1 << 30).toLong * 1000L))
      if (rnd.nextBoolean()) cols += Col("tsn", TimestampNTZType,
        (r, _) => if (r.nextInt(13) == 0) null
          else java.time.LocalDateTime.ofEpochSecond(
            1000000000L + r.nextInt(1 << 30).toLong, 0, java.time.ZoneOffset.UTC))
      if (rnd.nextBoolean()) cols += Col("i", IntegerType,
        (r, _) => if (r.nextInt(13) == 0) null else java.lang.Integer.valueOf(r.nextInt()))
      if (rnd.nextBoolean()) cols += Col("sh", ShortType,
        (r, _) => if (r.nextInt(13) == 0) null else java.lang.Short.valueOf(r.nextInt().toShort))
      if (rnd.nextBoolean()) cols += Col("fl", FloatType,
        (r, _) => if (r.nextInt(13) == 0) null else java.lang.Float.valueOf(r.nextInt(1 << 16) / 3.0f))
      val schema = StructType(cols.map(c =>
        StructField(c.name, c.dt, nullable = true)).toSeq)
      val data: IndexedSeq[Row] = (0L until n.toLong).map(i =>
        Row.fromSeq(cols.map(c => c.gen(rnd, i)).toSeq))
      val tmp = java.nio.file.Files.createTempDirectory("graft-fuzz").toString
      try {
        val p = s"$tmp/t"
        var w = spark.createDataFrame(
            spark.sparkContext.parallelize(data.toSeq, 1), schema)
          .write.format(fmt).option(Dsv2Parquet.SchemaOption, schema.toDDL)
        if (rnd.nextBoolean())
          w = w.option("parquet.page.row.count.limit",
            (64 + rnd.nextInt(1000)).toString)
        if (rnd.nextBoolean() && cols.exists(_.name == "shigh"))
          w = w.option(Dsv2Parquet.BloomForOption, "shigh")
        w.mode("append").save(p)

        // random deletion vector: subset positions, split across 1-3
        // sidecars to exercise the union, published in one version
        val conf = new org.apache.hadoop.conf.Configuration()
        val dv: Set[Long] =
          if (rnd.nextInt(3) == 0) Set.empty
          else (0L until n.toLong).filter(_ => rnd.nextInt(10) == 0).toSet
        if (dv.nonEmpty) {
          val fileName = PlanningView(p, None).dataFiles.head.getPath.getName
          val parts = dv.toArray.sorted
            .grouped(math.max(1, dv.size / (1 + rnd.nextInt(3)))).toSeq
          val sidecars = parts.map(ps => Dsv2Parquet.writeDvSidecar(
            new org.apache.hadoop.fs.Path(p), fileName, ps, conf))
          CommitLog.commitUpdate(p, conf, "delta")(cur =>
            Some(cur.copy(dvFiles = cur.dvFiles ++ sidecars)))
        }

        def norm(r: Row): Seq[String] = r.toSeq.map {
          case null => "NULL"
          case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
          case x => x.toString
        }
        val expectedAll = data.zipWithIndex
          .filterNot { case (_, i) => dv(i.toLong) }.map(x => norm(x._1))
          .sortBy(_.mkString("|"))
        def got(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
          df.collect().toSeq.map(norm).sortBy(_.mkString("|"))

        val vec = spark.read.format(fmt).load(p)
        assert(got(vec) == expectedAll, s"iter=$iter vec full scan")
        assert(vec.count() == expectedAll.size.toLong, s"iter=$iter count")

        // random band filter on k (pushed + page-index + residual; DV
        // composes when present)
        val lo = rnd.nextInt(n).toLong
        val hi = math.min(n.toLong, lo + 1 + rnd.nextInt(n))
        val kIdx = 0
        val expBand = data.zipWithIndex
          .filterNot { case (_, i) => dv(i.toLong) }
          .filter { case (r, _) =>
            val k = r.getLong(kIdx); k >= lo && k < hi
          }.map(x => norm(x._1)).sortBy(_.mkString("|"))
        assert(got(vec.filter(col("k") >= lo && col("k") < hi)) == expBand,
          s"iter=$iter vec band [$lo,$hi)")
      } finally {
        def rm(x: java.io.File): Unit = {
          Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(): Unit
        }
        rm(new java.io.File(tmp))
      }
    }
  }

  /** Randomized SCHEMA-EVOLUTION HISTORIES: each iteration runs a
   * random program of append / ALTER TABLE ADD COLUMN / rollback on a
   * commit-logged table, snapshotting after every step what a pinned
   * read must serve — the columns DECLARED at that commit and the row
   * values as written (columns added later must read as absent, not
   * null-filled; columns added before a row's insert but after
   * another's must null-fill exactly the older rows). At the end every
   * published version is re-read via SQL `VERSION AS OF` and compared
   * field-by-field. Seeded, so any failure reproduces exactly. */
  test("randomized schema-evolution histories time-travel exactly") {
    import graft.sources.CommitLog
    (0 until 5).foreach { iter =>
      val rnd = new scala.util.Random(20260815L + iter)
      val tmp = java.nio.file.Files.createTempDirectory("graft-schfuzz").toString
      val cat = s"gsc${iter}_${java.lang.Long.toHexString(System.nanoTime())}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", tmp)
      try {
        val p = s"$tmp/db/t"
        val conf = Dsv2Parquet.readConf
        spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, c0 BIGINT) " +
          s"TBLPROPERTIES ('${Dsv2Parquet.CommitLogProperty}'='true')")
        var cols = Vector("c0")
        var nextKey = 0L
        // per key: the values actually written (the columns that
        // existed at its insert; a pinned read projects / null-fills)
        var rows = Map.empty[Long, Map[String, Long]]
        // version -> (declared columns, full written rows)
        val history = scala.collection.mutable.Map
          .empty[Long, (Vector[String], Map[Long, Map[String, Long]])]
        def checkpoint(): Unit =
          history(CommitLog.latest(p, conf).get.version) = (cols, rows)
        checkpoint() // v1 (enable)

        (0 until 6).foreach { step =>
          rnd.nextInt(4) match {
            case 0 | 1 => // append fresh keys valued in ALL current cols
              val fresh = (0 until 10 + rnd.nextInt(30)).map { _ =>
                nextKey += 1
                nextKey -> cols.map(c =>
                  c -> rnd.nextInt(1 << 20).toLong).toMap
              }.toMap
              val schema = org.apache.spark.sql.types.StructType(
                ("k" +: cols).map(n => org.apache.spark.sql.types
                  .StructField(n, org.apache.spark.sql.types.LongType)))
              val data = fresh.toSeq.sortBy(_._1).map { case (k, vs) =>
                org.apache.spark.sql.Row.fromSeq(
                  k +: cols.map(c => vs(c)))
              }
              spark.createDataFrame(
                spark.sparkContext.parallelize(data, 1), schema)
                .writeTo(s"$cat.db.t").append()
              rows ++= fresh
            case 2 => // widen the schema: a commit like any other
              val c = s"c${cols.length}"
              spark.sql(s"ALTER TABLE $cat.db.t ADD COLUMN $c BIGINT")
              cols = cols :+ c
            case 3 => // rollback: contents revert, schema stays current
              val versions = history.keys.toSeq.sorted
              val target = versions(rnd.nextInt(versions.length))
              spark.sql(
                s"CALL $cat.system.rollback_to_version('db.t', $target)")
                .collect(): Unit
              rows = history(target)._2
          }
          checkpoint()
        }

        history.toSeq.sortBy(_._1).foreach { case (v, (vcols, vrows)) =>
          val df = spark.sql(s"SELECT * FROM $cat.db.t VERSION AS OF $v")
          assert(df.columns.toSeq == ("k" +: vcols),
            s"iter=$iter v=$v schema mismatch: ${df.columns.toSeq}")
          val got = df.collect().map { r =>
            r.getLong(0) -> vcols.zipWithIndex.map { case (c, i) =>
              c -> (if (r.isNullAt(i + 1)) None else Some(r.getLong(i + 1)))
            }.toMap
          }.toMap
          val expected = vrows.map { case (k, vs) =>
            k -> vcols.map(c => c -> vs.get(c)).toMap
          }
          assert(got == expected, s"iter=$iter VERSION AS OF $v contents")
        }
      } finally {
        spark.conf.unset(s"spark.sql.catalog.$cat")
        spark.conf.unset(s"spark.sql.catalog.$cat.root")
        def rm(x: java.io.File): Unit = {
          Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(): Unit
        }
        rm(new java.io.File(tmp))
      }
    }
  }

  /** Randomized OPERATION SEQUENCES against a driver-side model: each
   * iteration starts from one of two states — a catalog table from
   * CREATE TABLE (random copy-on-write / merge-on-read), or a plain
   * parquet directory that the first graft write imports — and runs a
   * random program of append / row-level DELETE / MERGE / INSERT
   * OVERWRITE / TRUNCATE / major+minor compaction / merge-mode switch /
   * no-op `graft.commit.log` SET / equality repair / rollback_to_version /
   * remove_orphan_files / complete-mode streaming epoch, comparing the
   * FULL table contents with an in-memory Map after every step. Every
   * published version's expected state after a step is recorded and
   * re-read via SQL `VERSION AS OF` at the end, then
   * expire_snapshots(1) must keep exactly the final state. The
   * randomized complement of CommitLogSpec's shape-targeted cases:
   * commit composition (delta-after-compact, overwrite-after-delta,
   * mode switches with live DVs) arises by volume. Seeded, so any
   * failure reproduces exactly. */
  test("randomized operation sequences match the model (log and log-less)") {
    import graft.sources.{CommitLog, GraftMaintenance}
    (0 until 10).foreach { iter =>
      val rnd = new scala.util.Random(20260814L + 100 + iter)
      val tmp = java.nio.file.Files.createTempDirectory("graft-seqfuzz").toString
      val cat = s"gsf${iter}_${java.lang.Long.toHexString(System.nanoTime())}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", tmp)
      try {
        val p = s"$tmp/db/t"
        val conf = Dsv2Parquet.readConf
        var mor = rnd.nextBoolean()
        val plain = rnd.nextBoolean()

        val model = scala.collection.mutable.Map.empty[Long, Long]
        var nextKey = 0L
        val history = scala.collection.mutable.Map.empty[Long, Map[Long, Long]]
        def df(rows: Seq[(Long, Long)]) = {
          import spark.implicits._
          rows.toDF("k", "v").coalesce(1 + rnd.nextInt(2))
        }
        def freshRows(m: Int): Seq[(Long, Long)] = (0 until m).map { _ =>
          nextKey += 1; (nextKey, rnd.nextInt(1 << 20).toLong)
        }
        if (plain) {
          // a directory graft never wrote, in the default mode
          mor = false
          val rows = freshRows(50 + rnd.nextInt(200))
          df(rows).write.parquet(p)
          model ++= rows
        } else spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v BIGINT) " +
          s"TBLPROPERTIES ('${Dsv2Parquet.MergeModeProperty}'='" +
          s"${if (mor) Dsv2Parquet.MergeOnRead else Dsv2Parquet.CopyOnWrite}')")
        def checkpoint(): Unit =
          CommitLog.latest(p, conf).foreach(s => history(s.version) = model.toMap)

        // the scan's layout claim: a full outer join against a fixed
        // 8-bucket table must answer the same with storage-partitioned
        // joins on as with bucketing off, whatever layout (or none) the
        // table's latest version — or a recorded earlier one, read
        // VERSION AS OF — claims
        spark.range(0, 4000).select(col("id").as("k"), (col("id") * 7).as("rv"))
          .writeTo(s"$cat.db.ref")
          .option(Dsv2Parquet.ClusterByOption, "k")
          .option(Dsv2Parquet.NumPartitionsOption, "8")
          .create()
        def spjMatchesPlain(step: Int): Unit = {
          val spj = "spark.sql.sources.v2.bucketing.enabled"
          val keys = Seq(spj, "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.enabled")
          val saved = keys.map(k => k -> spark.conf.getOption(k))
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          spark.conf.set("spark.sql.adaptive.enabled", "false")
          val asOf = if (history.isEmpty) "" else {
            val vs = history.keys.toSeq.sorted
            s" VERSION AS OF ${vs(rnd.nextInt(vs.length))}"
          }
          def joined(from: String, bucketing: Boolean): Seq[String] = {
            spark.conf.set(spj, bucketing.toString)
            spark.sql(s"SELECT k, v FROM $cat.db.t$from")
              .join(spark.table(s"$cat.db.ref"), Seq("k"), "full_outer")
              .collect().map(_.toString).toSeq.sorted
          }
          try Seq("", asOf).distinct.foreach { from =>
            if (joined(from, true) != joined(from, false))
              fail(s"iter=$iter step=$step SPJ join of t$from differs " +
                "from the plain plan")
          } finally saved.foreach { case (k, v) =>
            v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
          }
        }

        // row-level operations refuse live equality deletes — fold
        // first, exactly as a production maintenance schedule would
        def foldEqIfLive(): Unit =
          if (CommitLog.latest(p, conf).exists(_.eqFiles.nonEmpty))
            GraftMaintenance.compactDeletionVectors(spark, p): Unit

        (0 until 6).foreach { step =>
          rnd.nextInt(15) match {
            case 0 | 1 => // append a fresh batch
              val rows = freshRows(50 + rnd.nextInt(200))
              df(rows).writeTo(s"$cat.db.t").append()
              model ++= rows
            case 2 => // row-level DELETE (CoW rewrite or MoR delta)
              foldEqIfLive()
              val m = 5 + rnd.nextInt(8)
              val r = rnd.nextInt(m)
              spark.sql(s"DELETE FROM $cat.db.t WHERE k % $m = $r")
              model.keys.filter(_ % m == r).toSeq.foreach(model.remove)
            case 3 => // MERGE: update an existing band + insert fresh keys
              foldEqIfLive()
              val m = 4 + rnd.nextInt(6)
              val r = rnd.nextInt(m)
              val updates = model.keys.filter(_ % m == r).toSeq.sorted
                .map(k => (k, model(k) + 100000L))
              val inserts = freshRows(20 + rnd.nextInt(60))
              val view = s"seqsrc_${cat}_$step"
              df(updates ++ inserts).createOrReplaceTempView(view)
              spark.sql(
                s"""MERGE INTO $cat.db.t t USING $view s ON t.k = s.k
                   |WHEN MATCHED THEN UPDATE SET v = s.v
                   |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
                   |""".stripMargin)
              spark.catalog.dropTempView(view)
              model ++= updates ++ inserts
            case 4 => // INSERT OVERWRITE: truncate + replace
              val rows = freshRows(30 + rnd.nextInt(100))
              val view = s"seqovr_${cat}_$step"
              df(rows).createOrReplaceTempView(view)
              spark.sql(
                s"INSERT OVERWRITE TABLE $cat.db.t SELECT k, v FROM $view")
              spark.catalog.dropTempView(view)
              model.clear()
              model ++= rows
            case 5 => // maintenance (no-op on the model)
              if (rnd.nextBoolean())
                GraftMaintenance.compactDeletionVectors(spark, p): Unit
              else GraftMaintenance.compactDvSidecars(p): Unit
            case 6 => // merge-mode switch (metadata only)
              mor = !mor
              val mode = if (mor) Dsv2Parquet.MergeOnRead
                else Dsv2Parquet.CopyOnWrite
              spark.sql(s"ALTER TABLE $cat.db.t SET TBLPROPERTIES " +
                s"('${Dsv2Parquet.MergeModeProperty}'='$mode')")
            case 7 => // 'true' is accepted, and changes nothing
              spark.sql(s"ALTER TABLE $cat.db.t SET TBLPROPERTIES " +
                s"('${Dsv2Parquet.CommitLogProperty}'='true')")
            case 8 => // TRUNCATE TABLE: the deleteWhere(AlwaysTrue) face
              // — logical retire (and eq/DV sidecar pruning)
              spark.sql(s"TRUNCATE TABLE $cat.db.t")
              model.clear()
            case 9 => // equality repair: delete a band by KEY + insert
              // fresh rows in one manifest commit
              val m = 6 + rnd.nextInt(6)
              val r = rnd.nextInt(m)
              val victims = model.keys.filter(_ % m == r).toSeq.sorted
              val inserts = freshRows(10 + rnd.nextInt(40))
              graft.sources.EqualityRepair.commit(spark, p, Seq("k"),
                df(victims.map(k => (k, 0L))).select("k"), df(inserts))
              victims.foreach(model.remove)
              model ++= inserts
            case 10 => // rollback to a recorded version: the model IS
              // that version's recorded expected state
              if (history.nonEmpty) {
                val versions = history.keys.toSeq.sorted
                val target = versions(rnd.nextInt(versions.length))
                spark.sql(
                  s"CALL $cat.system.rollback_to_version('db.t', $target)")
                  .collect(): Unit
                model.clear()
                model ++= history(target)
              }
            case 11 => // orphan GC mid-program: must delete nothing any
              // published version references (step + end checks prove
              // it); a directory not yet imported is refused
              if (CommitLog.enabled(p, conf))
                spark.sql(s"CALL $cat.system.remove_orphan_files('db.t', 0)")
                  .collect(): Unit
            case 12 => // complete-mode streaming epoch: the published
              // snapshot IS the epoch's rows — prior files (and any eq
              // sidecars targeting them) retire logically
              val rows = freshRows(20 + rnd.nextInt(50))
              val schema = org.apache.spark.sql.types.StructType.fromDDL(
                "k BIGINT, v BIGINT")
              val qid = s"fz$step"
              val sw = GraftParquetStreamingWrite(p, schema, qid,
                truncateFirst = true)
              val w = new GraftParquetDataWriter(s"$p/_staging-$qid-e1",
                schema, 0, 0L)
              rows.foreach { case (k, v) =>
                w.write(org.apache.spark.sql.catalyst.InternalRow(k, v))
              }
              sw.commit(1L, Array(w.commit()))
              model.clear()
              model ++= rows
            case 13 | 14 => // a clustered append, or a re-cluster of
              // the whole table — drawn twice as often as the other
              // operations, so that a claimed layout often meets the
              // commits and time travel that must not inherit it. Either
              // may make the latest version claim 8 buckets, which join
              // the reference without an exchange, or 16, which do not
              val width = if (rnd.nextBoolean()) 8 else 16
              if (rnd.nextBoolean()) {
                val rows = freshRows(20 + rnd.nextInt(80))
                df(rows).writeTo(s"$cat.db.t")
                  .option(Dsv2Parquet.ClusterByOption, "k")
                  .option(Dsv2Parquet.NumPartitionsOption, width.toString)
                  .append()
                model ++= rows
              } else spark.sql(s"CALL $cat.system.rewrite_clustered('db.t', " +
                s"'k', $width, '${if (rnd.nextBoolean()) "k" else ""}')")
                .collect(): Unit
          }
          checkpoint()
          spjMatchesPlain(step)
          val got = spark.sql(s"SELECT k, v FROM $cat.db.t").collect()
            .map(r => r.getLong(0) -> r.getLong(1))
          assert(got.length == got.map(_._1).distinct.length,
            s"iter=$iter step=$step duplicate keys")
          assert(got.toMap == model.toMap,
            s"iter=$iter step=$step state diverged from the model")
        }

        // every recorded version remains exactly re-readable
        history.foreach { case (version, expected) =>
          val got = spark.sql(
            s"SELECT k, v FROM $cat.db.t VERSION AS OF $version").collect()
            .map(r => r.getLong(0) -> r.getLong(1)).toMap
          assert(got == expected, s"iter=$iter VERSION AS OF $version")
        }
        if (CommitLog.enabled(p, conf)) {
          spark.sql(s"CALL $cat.system.expire_snapshots('db.t', 1)").collect()
          val got = spark.sql(s"SELECT k, v FROM $cat.db.t").collect()
            .map(r => r.getLong(0) -> r.getLong(1)).toMap
          assert(got == model.toMap, s"iter=$iter state after expire")
        }
      } finally {
        spark.conf.unset(s"spark.sql.catalog.$cat")
        spark.conf.unset(s"spark.sql.catalog.$cat.root")
        def rm(x: java.io.File): Unit = {
          Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(): Unit
        }
        rm(new java.io.File(tmp))
      }
    }
  }
}
