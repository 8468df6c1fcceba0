package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The DSv2 WRITE path: append into a fresh directory (schema from the
 * `graft.schema` option — no footers exist yet), append accumulation,
 * overwrite-as-truncate, staging invisibility, job abort, and the
 * fail-fast type posture. Read-back runs through BOTH Spark's builtin
 * parquet source and the DSv2 scan — the files must be ordinary
 * parquet, not a private format. */
class Dsv2WriteSpec extends SparkSpec {
  import spark.implicits._

  private def fmt = classOf[GraftParquetProvider].getName

  private def withTmp[A](f: String => A): A = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-dsv2-write").toString
    try f(tmp)
    finally {
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(): Unit
      }
      rm(new java.io.File(tmp))
    }
  }

  private def fixture: DataFrame =
    spark.range(100).select(
      col("id").as("k"),
      (col("id") % 5).cast("int").as("i"),
      (col("id") * 0.25).as("d"),
      (col("id") % 3 === 0).as("b"),
      concat(lit("v"), (col("id") % 13).cast("string")).as("s"),
      when(col("id") % 4 === 0, col("id") * 100).as("n"),
      when(col("id") % 2 === 0,
        encode(col("id").cast("string"), "UTF-8")).as("raw"))

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case a: Array[Byte] => a.toSeq
      case x => x
    }).toSet

  test("append into a fresh directory round-trips every leaf type") {
    withTmp { tmp =>
      val p = s"$tmp/t"
      fixture.write.format(fmt)
        .option(Dsv2Parquet.SchemaOption, fixture.schema.toDDL)
        .mode("append").save(p)
      // builtin source: the committed files are ordinary parquet
      assert(rows(spark.read.parquet(p)) == rows(fixture))
      // DSv2 scan: same values, schema inferred from the new footers
      assert(rows(spark.read.format(fmt).load(p)) == rows(fixture))
      assert(Dsv2WriteProbe.forPath(p).lastCommittedRows.get() == 100L)
      assert(Dsv2WriteProbe.forPath(p).lastTruncated.get() == 0)
      // no staging residue
      val names = new java.io.File(p).list().toSeq
      assert(names.forall(n => !n.contains("_staging")), names.toString)
    }
  }

  test("second append accumulates; overwrite truncates committed files") {
    withTmp { tmp =>
      val p = s"$tmp/t"
      val ddl = fixture.schema.toDDL
      fixture.write.format(fmt).option(Dsv2Parquet.SchemaOption, ddl)
        .mode("append").save(p)
      fixture.write.format(fmt).mode("append").save(p)
      assert(spark.read.parquet(p).count() == 200L)
      val repl = fixture.filter(col("k") < 10)
      repl.write.format(fmt).mode("overwrite").save(p)
      assert(Dsv2WriteProbe.forPath(p).lastTruncated.get() > 0)
      assert(rows(spark.read.format(fmt).load(p)) == rows(repl))
      // the truncated files stay on disk until expire_snapshots
      assert(spark.read.parquet(p).count() == 200L + repl.count())
      GraftMaintenance.expireSnapshots(p, 1)
      assert(rows(spark.read.parquet(p)) == rows(repl))
    }
  }

  test("empty partitions stage no files") {
    withTmp { tmp =>
      val p = s"$tmp/t"
      val one = fixture.filter(col("k") === 1).repartition(8)
      one.write.format(fmt)
        .option(Dsv2Parquet.SchemaOption, one.schema.toDDL)
        .mode("append").save(p)
      assert(Dsv2WriteProbe.forPath(p).lastCommittedFiles.get() == 1)
      assert(spark.read.parquet(p).count() == 1L)
    }
  }

  test("job abort removes staged files and leaves committed data intact") {
    withTmp { tmp =>
      val p = s"$tmp/t"
      val schema = org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")
      fixture.select("k").write.format(fmt)
        .option(Dsv2Parquet.SchemaOption, "k BIGINT").mode("append").save(p)
      // drive the BatchWrite API directly: stage a file, then abort
      val bw = GraftParquetBatchWrite(p, schema, "spec-abort", truncateFirst = false)
      val w = GraftParquetWriterFactory(s"$p/_staging-spec-abort", schema)
        .createWriter(0, 0L)
      w.write(org.apache.spark.sql.catalyst.InternalRow(42L))
      val msg = w.commit()
      assert(new java.io.File(s"$p/_staging-spec-abort").exists())
      // staged rows are invisible to readers even before abort
      assert(spark.read.parquet(p).count() == 100L)
      bw.abort(Array(msg))
      assert(!new java.io.File(s"$p/_staging-spec-abort").exists())
      assert(spark.read.parquet(p).count() == 100L)
    }
  }

  test("commit verifies staged files exist before truncating") {
    withTmp { tmp =>
      val p = s"$tmp/t"
      fixture.select("k").write.format(fmt)
        .option(Dsv2Parquet.SchemaOption, "k BIGINT").mode("append").save(p)
      val schema = org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")
      val bw = GraftParquetBatchWrite(p, schema, "spec-missing", truncateFirst = true)
      val ex = intercept[IllegalArgumentException] {
        bw.commit(Array(GraftParquetCommitMessage(
          Some(s"$p/_staging-spec-missing/ghost.parquet"), 1L)))
      }
      assert(ex.getMessage.contains("staged file missing"))
      // the failed overwrite destroyed nothing
      assert(spark.read.parquet(p).count() == 100L)
    }
  }

  test("mixed required/optional files in one directory read exactly") {
    withTmp { tmp =>
      val p = s"$tmp/t"
      // builtin source writes non-nullable long as REQUIRED int64
      spark.range(50).select(col("id").as("k")).write.parquet(p)
      // our writer stages everything OPTIONAL into the same directory
      spark.range(50, 80).select(col("id").as("k"))
        .write.format(fmt).mode("append").save(p)
      val q = spark.read.format(fmt).load(p).filter(col("k") >= 40)
      assert(q.collect().map(_.getLong(0)).toSet == (40L until 80L).toSet)
    }
  }

  test("orderBy demands a range exchange: disjoint sorted files") {
    withTmp { tmp =>
      val p = s"$tmp/t"
      val src = spark.range(2000).select(col("id").as("k"))
        .repartition(8) // scrambled input — the SINK must demand the sort
      src.write.format(fmt)
        .option(Dsv2Parquet.SchemaOption, "k BIGINT")
        .option(Dsv2Parquet.OrderByOption, "k")
        .option(Dsv2Parquet.NumPartitionsOption, "5")
        .mode("append").save(p)
      val perFile = spark.read.parquet(p)
        .select(col("k"), input_file_name().as("f"))
        .groupBy("f")
        .agg(min("k").as("lo"), max("k").as("hi"), count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
      assert(perFile.length > 1, "expected a multi-file range layout")
      // disjoint, covering ranges
      perFile.sliding(2).foreach { case Array((_, hi1), (lo2, _)) =>
        assert(hi1 < lo2, s"overlapping file ranges: $perFile")
      }
      assert(spark.read.format(fmt).load(p).count() == 2000L)
    }
  }

  test("clusterBy demands a hash exchange: one key never straddles files") {
    withTmp { tmp =>
      val p = s"$tmp/t"
      val src = spark.range(2000)
        .select((col("id") % 16).as("g"), col("id").as("k"))
        .repartition(8)
      src.write.format(fmt)
        .option(Dsv2Parquet.SchemaOption, "g BIGINT, k BIGINT")
        .option(Dsv2Parquet.ClusterByOption, "g")
        .option(Dsv2Parquet.NumPartitionsOption, "5")
        .mode("append").save(p)
      val spread = spark.read.parquet(p)
        .select(col("g"), input_file_name().as("f"))
        .groupBy("g").agg(countDistinct(col("f")).as("nf"))
        .agg(max("nf")).collect()(0).getLong(0)
      assert(spread == 1L, s"a clustered key straddled $spread files")
      assert(spark.read.parquet(p).count() == 2000L)
    }
  }

  test("two interleaved append jobs both land (no commit interference)") {
    withTmp { tmp =>
      val p = s"$tmp/t"
      val schema = org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")
      // two writers stage under DIFFERENT queryIds concurrently; their
      // commits interleave — unique staged names and per-query staging
      // dirs mean neither clobbers the other
      val bwA = GraftParquetBatchWrite(p, schema, "job-A", truncateFirst = false)
      val bwB = GraftParquetBatchWrite(p, schema, "job-B", truncateFirst = false)
      def stage(q: String, v: Long) = {
        val w = new GraftParquetDataWriter(s"$p/_staging-$q", schema, 0, v)
        w.write(org.apache.spark.sql.catalyst.InternalRow(v))
        w.commit()
      }
      val mA = stage("job-A", 1L)
      val mB = stage("job-B", 2L)   // staged while A is uncommitted
      bwA.commit(Array(mA))
      bwB.commit(Array(mB))
      assert(spark.read.parquet(p).as[Long].collect().toSet == Set(1L, 2L))
    }
  }

  test("unsupported write types fail fast") {
    withTmp { tmp =>
      // arrays and maps are supported since the collection work —
      // nested STRUCTs are the fail-fast frontier now
      val bad = spark.range(3)
        .select(struct(col("id").as("x")).as("a"))
      val ex = intercept[Exception] {
        bad.write.format(fmt)
          .option(Dsv2Parquet.SchemaOption, bad.schema.toDDL)
          .mode("append").save(s"$tmp/t")
      }
      def chain(t: Throwable): Seq[String] =
        if (t == null) Nil else t.getMessage +: chain(t.getCause)
      assert(chain(ex).exists(m =>
        m != null && m.contains("unsupported write type")), chain(ex).toString)
    }
  }
}
