package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

class Dsv2ParquetSpec extends SparkSpec {
  import spark.implicits._

  private def fmt = classOf[GraftParquetProvider].getName

  private def withTmp[A](f: String => A): A = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-dsv2-spec").toString
    try f(tmp)
    finally {
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(): Unit
      }
      rm(new java.io.File(tmp))
    }
  }

  private def fixture: DataFrame =
    spark.range(200).select(
      col("id").as("k"),
      (col("id") % 7).cast("int").as("i"),
      (col("id") * 1.5).as("d"),
      concat(lit("s"), (col("id") % 11).cast("string")).as("s"),
      (col("id") % 2 === 0).as("b"),
      when(col("id") % 3 === 0, col("id") * 10).as("n")) // nullable long

  private def scanDesc(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("round-trips all supported leaf types including nulls") {
    withTmp { tmp =>
      fixture.write.parquet(s"$tmp/t")
      val back = spark.read.format(fmt).load(s"$tmp/t")
      assert(back.schema == spark.read.parquet(s"$tmp/t").schema)
      val exp = fixture.collect().map(_.toSeq).toSet
      assert(back.collect().map(_.toSeq).toSet == exp)
    }
  }

  test("prunes columns into the scan's requested schema") {
    withTmp { tmp =>
      fixture.write.parquet(s"$tmp/t")
      val q = spark.read.format(fmt).load(s"$tmp/t").select("k", "s")
      val plan = scanDesc(q)
      assert(plan.contains("ReadSchema: struct<k:bigint,s:string>"), plan)
      assert(q.collect().length == 200)
    }
  }

  test("pushes supported predicates and keeps results exact") {
    withTmp { tmp =>
      fixture.write.parquet(s"$tmp/t")
      val q = spark.read.format(fmt).load(s"$tmp/t")
        .filter(col("k") > 150 && col("s") === "s3" && col("d") > 0.0)
        .select("k", "s", "d")
      val plan = scanDesc(q)
      // long + string comparisons reach the source; the double one
      // stays residual-only (NaN/-0.0 statistics ordering)
      assert(plan.contains("GreaterThan(k,150)"), plan)
      assert(plan.contains("EqualTo(s,s3)"), plan)
      assert(!plan.contains("PushedFilters: [") ||
        !plan.substring(plan.indexOf("PushedFilters: [")).takeWhile(_ != ']')
          .contains("d,0.0"), plan)
      val exp = spark.read.parquet(s"$tmp/t")
        .filter(col("k") > 150 && col("s") === "s3" && col("d") > 0.0)
        .select("k", "s", "d").collect().map(_.toSeq).toSet
      assert(q.collect().map(_.toSeq).toSet == exp)
      assert(exp.nonEmpty)
    }
  }

  test("filters are an IO optimization, not a correctness dependency: nulls") {
    withTmp { tmp =>
      fixture.write.parquet(s"$tmp/t")
      // n is null on 2/3 of rows — IsNotNull + comparison must agree
      // with the built-in source exactly
      def q(read: DataFrame) = read.filter(col("n") >= 600).select("k", "n")
      val got = q(spark.read.format(fmt).load(s"$tmp/t"))
        .collect().map(_.toSeq).toSet
      val exp = q(spark.read.parquet(s"$tmp/t")).collect().map(_.toSeq).toSet
      assert(got == exp && exp.nonEmpty)
    }
  }

  test("plans one input partition per parquet row group") {
    withTmp { tmp =>
      // 4 files -> at least 4 row groups -> at least 4 partitions
      fixture.repartition(4).write.parquet(s"$tmp/t")
      val scan = GraftParquetScan(s"$tmp/t",
        spark.read.format(fmt).load(s"$tmp/t").schema, Array.empty)
      val parts = scan.planInputPartitions()
      assert(parts.length >= 4)
      // byte ranges are per-file and non-overlapping
      val byFile = parts.map(_.asInstanceOf[GraftParquetPartition])
        .groupBy(_.file)
      byFile.values.foreach { ps =>
        val sorted = ps.sortBy(_.start)
        sorted.sliding(2).foreach {
          case Array(a, b) => assert(a.end <= b.start)
          case _ =>
        }
      }
    }
  }

  test("runtime In filter prunes row groups from footer stats on re-plan") {
    withTmp { tmp =>
      // range-partitioned write: each file's single row group covers a
      // disjoint k range, so footer min/max stats are discriminating
      spark.range(400).select(col("id").as("k"), (col("id") % 13).as("v"))
        .repartitionByRange(8, col("k")).write.parquet(s"$tmp/fact")
      val schema = spark.read.format(fmt).load(s"$tmp/fact").schema
      val scan = GraftParquetScan(s"$tmp/fact", schema, Array.empty)
      val probe = Dsv2RuntimeProbe.forPath(s"$tmp/fact")
      scan.planInputPartitions()
      // row-group counts from the probe: small-split packing folds
      // tiny row groups into fewer TASKS, so partition length is no
      // longer the pruning evidence
      val all = probe.lastKept.get()
      assert(all >= 8)
      // join-time filter arrives: only two keys survive — at most one
      // row group (file) can hold both
      scan.filter(Array[org.apache.spark.sql.sources.Filter](org.apache.spark.sql.sources.In("k",
        Array(5L, 6L))))
      val keptParts = scan.planInputPartitions()
      val kept = probe.lastKept.get()
      assert(kept < all && keptParts.nonEmpty, s"kept=$kept all=$all")
      // pruning is per value, not by the values' [min, max] envelope:
      // the two extreme keys live in the first and last row groups
      def keptBy(vs: Any*): Int = {
        scan.filter(Array[org.apache.spark.sql.sources.Filter](
          org.apache.spark.sql.sources.In("k", vs.toArray)))
        scan.planInputPartitions()
        probe.lastKept.get()
      }
      assert(keptBy(5L, 395L) <= 2, s"kept=${probe.lastKept.get()}")
      // a null never satisfies IN: alone it prunes all, beside a value
      // it keeps exactly what the value keeps
      assert(keptBy(null: Any) == 0, "IN (null) must prune all")
      assert(keptBy(5L, null) == keptBy(5L))
      // (row-level parity under pruning is covered by the DPP test below)
      val empty = GraftParquetScan(s"$tmp/fact", schema, Array.empty)
      empty.filter(Array[org.apache.spark.sql.sources.Filter](org.apache.spark.sql.sources.In("k",
        Array.empty[Any])))
      assert(empty.planInputPartitions().isEmpty, "IN () must prune all")
    }
  }

  test("dynamic partition pruning reaches the scan at join execution time") {
    withTmp { tmp =>
      spark.range(400).select(col("id").as("k"), (col("id") % 13).as("v"))
        .repartitionByRange(8, col("k")).write.parquet(s"$tmp/fact")
      val confs = Seq(
        "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly" -> "false",
        "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false")
      val dppKey = "spark.sql.optimizer.dynamicPartitionPruning.enabled"
      val saved = (confs.map(_._1) :+ dppKey)
        .map(k => k -> spark.conf.getOption(k))
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        Dsv2RuntimeProbe.forPath(s"$tmp/fact").reset()
        val dim = spark.range(400).select(col("id").as("fk"))
          .filter(col("fk") >= 390) // selective build side
        val fact = spark.read.format(fmt).load(s"$tmp/fact")
        val got = fact.join(broadcast(dim), col("k") === col("fk"))
          .agg(count(lit(1)), sum("v")).collect().head
        val exp = spark.read.parquet(s"$tmp/fact")
          .join(broadcast(dim), col("k") === col("fk"))
          .agg(count(lit(1)), sum("v")).collect().head
        assert(got == exp && got.getLong(0) == 10L)
        // Spark handed the scan the join-side key set...
        assert(Dsv2RuntimeProbe.forPath(s"$tmp/fact").filterCalls.get() >= 1,
          "runtime filter never reached the scan")
        // ...and the re-plan dropped row groups before any task launched
        assert(Dsv2RuntimeProbe.forPath(s"$tmp/fact").lastKept.get() < Dsv2RuntimeProbe.forPath(s"$tmp/fact").lastPlanned.get(),
          s"kept=${Dsv2RuntimeProbe.forPath(s"$tmp/fact").lastKept.get()} " +
            s"planned=${Dsv2RuntimeProbe.forPath(s"$tmp/fact").lastPlanned.get()}")
        // the same DSv2 join with pruning OFF reads every row group and
        // gives the same answer
        spark.conf.set(dppKey, "false")
        Dsv2RuntimeProbe.forPath(s"$tmp/fact").reset()
        val off = spark.read.format(fmt).load(s"$tmp/fact")
          .join(broadcast(dim), col("k") === col("fk"))
          .agg(count(lit(1)), sum("v")).collect().head
        assert(off == got)
        assert(Dsv2RuntimeProbe.forPath(s"$tmp/fact").filterCalls.get() == 0)
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("COUNT/MIN/MAX are answered from footers without reading data") {
    withTmp { tmp =>
      fixture.repartition(4).write.parquet(s"$tmp/t")
      def agg(df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n"), min("k").as("mn"), max("k").as("mx"),
          count(col("n")).as("nn"), min("i").as("mni"))
      val q = agg(spark.read.format(fmt).load(s"$tmp/t"))
      val plan = scanDesc(q)
      assert(plan.contains("GraftParquetAggScan PushedAggregates: " +
        "[COUNT(*), MIN(k), MAX(k), COUNT(n), MIN(i)]"), plan)
      assert(q.collect().toSeq ==
        agg(spark.read.parquet(s"$tmp/t")).collect().toSeq)
      // a predicate forces real rows: ours are residual-advisory, so
      // the aggregate must NOT be served from footers
      def fagg(df: DataFrame): DataFrame =
        agg(df.filter(col("k") > 100))
      val fq = fagg(spark.read.format(fmt).load(s"$tmp/t"))
      assert(!scanDesc(fq).contains("GraftParquetAggScan"), scanDesc(fq))
      assert(fq.collect().toSeq ==
        fagg(spark.read.parquet(s"$tmp/t")).collect().toSeq)
      // GROUP BY likewise runs on real rows
      def gagg(df: DataFrame): DataFrame =
        df.groupBy("s").agg(count(lit(1)).as("n")).orderBy("s")
      val gq = gagg(spark.read.format(fmt).load(s"$tmp/t"))
      assert(!scanDesc(gq).contains("GraftParquetAggScan"), scanDesc(gq))
      assert(gq.collect().toSeq ==
        gagg(spark.read.parquet(s"$tmp/t")).collect().toSeq)
      // unsupported aggregate (sum) falls back whole
      val sq = spark.read.format(fmt).load(s"$tmp/t").agg(sum("k").as("s"))
      assert(!scanDesc(sq).contains("GraftParquetAggScan"), scanDesc(sq))
      assert(sq.collect().head.getLong(0) ==
        spark.read.parquet(s"$tmp/t").agg(sum("k")).collect().head.getLong(0))
    }
  }

  test("scan reports exact footer statistics to the planner") {
    withTmp { tmp =>
      fixture.repartition(4).write.parquet(s"$tmp/t")
      val stats = spark.read.format(fmt).load(s"$tmp/t")
        .queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(200)), stats)
      assert(stats.sizeInBytes > 0)
    }
  }

  test("Dsv2ParquetSource projects through the trait boundary") {
    withTmp { tmp =>
      val base = graft.MvSyncDemo.baseDf(spark,
        "/root/testdata/sf0.001")
      base.write.parquet(s"$tmp/base")
      val loaded = Dsv2ParquetSource(s"$tmp/base")
        .load(spark, graft.MvSyncDemo.baseSchema)
      assert(loaded.columns.toSeq == base.columns.toSeq)
      assert(loaded.count() == base.count())
      val plan = scanDesc(loaded.select("o_orderkey", "o_totalprice"))
      assert(plan.contains("ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>"),
        plan)
    }
  }
}
