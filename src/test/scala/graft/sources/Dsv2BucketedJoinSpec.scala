package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * STORAGE-PARTITIONED JOIN through the DSv2 provider (r16 verdict #3):
 * two tables written via the sink-demanded `graft.clusterBy` hash
 * exchange read back with their layout claimed
 * (SupportsReportPartitioning + HasPartitionKey + the catalog's
 * `bucket` function), so an equi-join on the cluster keys plans with
 * ZERO shuffle exchanges — the DSv2 twin of the bucketed-catalog
 * reconcile configuration.
 */
class Dsv2BucketedJoinSpec extends SparkSpec {
  import spark.implicits._

  private def fmt = classOf[GraftParquetProvider].getName

  private def shuffles(df: DataFrame): Int = {
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Int =
      (if (p.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]) 1
       else 0) + p.children.map(walk).sum
    walk(df.queryExecution.executedPlan)
  }

  private def withSpj[A](root: String)(f: String => A): A = {
    val cat = s"gspj_${java.lang.Long.toHexString(System.nanoTime())}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val saved = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled").map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try f(cat)
    finally {
      saved.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      }
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.root")
    }
  }

  private def withTmp[A](f: String => A): A = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-spj").toString
    try f(tmp)
    finally {
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(): Unit
      }
      rm(new java.io.File(tmp))
    }
  }

  private def writeClustered(df: DataFrame, cat: String, table: String,
      cols: String, n: Int): Unit =
    df.writeTo(s"$cat.db.$table")
      .option(Dsv2Parquet.ClusterByOption, cols)
      .option(Dsv2Parquet.NumPartitionsOption, n.toString)
      .create()

  private def conf = new org.apache.hadoop.conf.Configuration()

  /** The layout the table's latest version claims. */
  private def claimed(p: String): Option[CommitLog.Layout] =
    CommitLog.latest(p, conf).flatMap(_.claimedLayout)

  /** The bucket width each graft scan in `df`'s plan reports (None for a
   * scan that claims no layout). */
  private def widths(df: DataFrame): Seq[Option[Int]] = {
    val Bucket = "bucket\\((\\d+),.*".r
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan
    }.collect { case s: GraftParquetScan =>
      s.outputPartitioning() match {
        case k: org.apache.spark.sql.connector.read.partitioning
            .KeyGroupedPartitioning =>
          k.keys().head.describe() match { case Bucket(n) => Some(n.toInt) }
        case _ => None
      }
    }
  }

  /** `f`'s rows (a full outer join's two key columns) must be the same
   * with storage-partitioned joins on as with bucketing off; a failure
   * counts each plan's one-sided rows. */
  private def assertSpjMatchesPlain(what: String)(f: => DataFrame): Unit = {
    def rows = f.collect().map(_.toString).toSeq.sorted
    val spj = rows
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
    val plain =
      try rows
      finally spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    def sides(rs: Seq[String]) = (rs.count(_.startsWith("[null,")),
      rs.count(_.endsWith(",null]")))
    if (spj != plain) fail(s"$what: SPJ and plain plans differ — " +
      s"(right-only, left-only) rows: SPJ ${sides(spj)}, plain ${sides(plain)}")
  }

  test("clustered write declares the layout; unclustered append retracts it") {
    withTmp { tmp =>
      withSpj(tmp) { cat =>
        val df = spark.range(100).select(col("id").as("k"),
          (col("id") * 2).as("v"))
        writeClustered(df, cat, "t", "k", 4)
        assert(claimed(s"$tmp/db/t").exists(l =>
          l.cols == Seq("k") && l.width == 4))
        // unclustered append breaks the invariant → no layout claimed
        df.limit(5).writeTo(s"$cat.db.t").append()
        assert(claimed(s"$tmp/db/t").isEmpty)
      }
    }
  }

  test("same-width clustered tables join with zero exchanges, exact result") {
    withTmp { tmp =>
      withSpj(tmp) { cat =>
        val left = spark.range(2000).select(col("id").as("k"),
          (col("id") % 97).as("lv"))
        val right = spark.range(1500).select(col("id").as("k"),
          (col("id") % 89).as("rv"))
        writeClustered(left, cat, "l", "k", 8)
        writeClustered(right, cat, "r", "k", 8)
        val joined = spark.table(s"$cat.db.l")
          .join(spark.table(s"$cat.db.r"), Seq("k"), "inner")
        assert(shuffles(joined) == 0,
          s"expected zero exchanges:\n${joined.queryExecution.executedPlan}")
        val got = joined.orderBy("k").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        val exp = left.join(right, Seq("k"), "inner").orderBy("k").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        assert(got.sameElements(exp))
      }
    }
  }

  test("full outer storage-partitioned join stays exchange-free") {
    withTmp { tmp =>
      withSpj(tmp) { cat =>
        val left = spark.range(0, 1200).select(col("id").as("k"),
          lit("L").as("side_l"))
        val right = spark.range(600, 2000).select(col("id").as("k"),
          lit("R").as("side_r"))
        writeClustered(left, cat, "fl", "k", 8)
        writeClustered(right, cat, "fr", "k", 8)
        val joined = spark.table(s"$cat.db.fl")
          .join(spark.table(s"$cat.db.fr"), Seq("k"), "full_outer")
        assert(shuffles(joined) == 0,
          s"expected zero exchanges:\n${joined.queryExecution.executedPlan}")
        assert(joined.count() == 2000L)
        assert(joined.filter(col("side_l").isNull).count() == 800L)
        assert(joined.filter(col("side_r").isNull).count() == 600L)
      }
    }
  }

  test("superset join keys accept single-component co-partitioning") {
    // Spark's key-grouped spec demands exactly one leaf per partition
    // transform, so a composite key co-locates on ONE component —
    // sufficient for the join (equal composite keys have equal
    // components) under requireAllClusterKeysForCoPartition=false.
    // This is the recon_classify_bucketed_dsv2 shape.
    withTmp { tmp =>
      withSpj(tmp) { cat =>
        val saved = spark.conf.getOption(
          "spark.sql.requireAllClusterKeysForCoPartition")
        spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
        try {
          val left = spark.range(1000).select((col("id") % 50).as("a"),
            col("id").as("b"), lit(1L).as("lv"))
          val right = spark.range(800).select((col("id") % 50).as("a"),
            col("id").as("b"), lit(2L).as("rv"))
          writeClustered(left, cat, "sl", "b", 8)
          writeClustered(right, cat, "sr", "b", 8)
          val joined = spark.table(s"$cat.db.sl")
            .join(spark.table(s"$cat.db.sr"), Seq("a", "b"), "full_outer")
          assert(shuffles(joined) == 0,
            s"expected zero exchanges:\n${joined.queryExecution.executedPlan}")
          assert(joined.count() == 1000L)
        } finally saved.fold(spark.conf.unset(
          "spark.sql.requireAllClusterKeysForCoPartition"))(
          spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", _))
      }
    }
  }

  test("sortWithin layout: SMJ plans with zero exchanges AND zero sorts") {
    withTmp { tmp =>
      withSpj(tmp) { cat =>
        def writeSorted(df: DataFrame, table: String): Unit =
          df.writeTo(s"$cat.db.$table")
            .option(Dsv2Parquet.ClusterByOption, "k")
            .option(Dsv2Parquet.NumPartitionsOption, "8")
            .option(Dsv2Parquet.SortWithinOption, "k")
            .create()
        val left = spark.range(2000).select(col("id").as("k"),
          (col("id") % 97).as("lv"))
        val right = spark.range(1500).select(col("id").as("k"),
          (col("id") % 89).as("rv"))
        writeSorted(left, "ol")
        writeSorted(right, "or_")
        val joined = spark.table(s"$cat.db.ol")
          .join(spark.table(s"$cat.db.or_"), Seq("k"), "inner")
        def sorts(p: org.apache.spark.sql.execution.SparkPlan): Int =
          (if (p.isInstanceOf[org.apache.spark.sql.execution.SortExec]) 1
           else 0) + p.children.map(sorts).sum
        val plan = joined.queryExecution.executedPlan
        assert(shuffles(joined) == 0, s"expected zero exchanges:\n$plan")
        assert(sorts(plan) == 0,
          s"expected the declared within-file sort to erase SortExec:\n$plan")
        val got = joined.orderBy("k").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        val exp = left.join(right, Seq("k"), "inner").orderBy("k").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        assert(got.sameElements(exp))
        // the committed files really ARE internally sorted — from the
        // bytes, via the _file metadata column
        val mono = spark.table(s"$cat.db.ol")
          .select(col("k"), col("_file").as("f"))
          .withColumn("prev", lag("k", 1).over(
            org.apache.spark.sql.expressions.Window.partitionBy("f")
              .orderBy(monotonically_increasing_id())))
        assert(mono.filter(col("prev") > col("k")).count() == 0L)
      }
    }
  }

  test("merge-on-read deletes preserve the storage-partitioned layout") {
    withTmp { tmp =>
      withSpj(tmp) { cat =>
        val a = spark.range(200).select(col("id").as("k"),
          (col("id") * 3).as("va"))
        val b = spark.range(200).select(col("id").as("k"),
          (col("id") * 7).as("vb"))
        a.writeTo(s"$cat.db.sa")
          .tableProperty(Dsv2Parquet.MergeModeProperty, Dsv2Parquet.MergeOnRead)
          .option(Dsv2Parquet.ClusterByOption, "k")
          .option(Dsv2Parquet.NumPartitionsOption, "4")
          .create()
        writeClustered(b, cat, "sb", "k", 4)
        // delta position deletes: no file rewritten, no insert — the
        // clustered layout claim survives (a subset of a bucket is
        // still exactly that bucket)
        spark.sql(s"DELETE FROM $cat.db.sa WHERE k % 10 = 3")
        assert(PlanningView(s"$tmp/db/sa", None).dvMap.nonEmpty)
        assert(claimed(s"$tmp/db/sa").nonEmpty,
          "delete-only delta commit turned the layout claim off")
        val j = spark.table(s"$cat.db.sa")
          .join(spark.table(s"$cat.db.sb"), "k")
        assert(shuffles(j) == 0, "MoR delete broke the zero-exchange join")
        assert(j.count() == 180L)
        assert(j.filter(col("k") % 10 === 3).count() == 0L)
      }
    }
  }

  test("bucket function matches the writer exchange's routing") {
    withTmp { tmp =>
      withSpj(tmp) { cat =>
        val df = spark.range(500).select(col("id").as("k"),
          concat(lit("s"), col("id")).as("s"))
        writeClustered(df, cat, "bf", "k", 8)
        // every row of every file must evaluate to the file's bucket in
        // the manifest under the catalog's bound function
        val bound = GraftBucketFunction.bind(org.apache.spark.sql.types
          .StructType.fromDDL("n INT, k BIGINT"))
          .asInstanceOf[GraftBucketBound]
        val buckets = CommitLog.latest(s"$tmp/db/bf", conf).get.buckets
        val perFile = spark.read.parquet(s"$tmp/db/bf")
          .select(col("k"), input_file_name().as("f")).collect()
        perFile.foreach { r =>
          val fileBucket = buckets(
            new org.apache.hadoop.fs.Path(r.getString(1)).getName)
          val row = new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(Array[Any](8, r.getLong(0)))
          assert(bound.produceResult(row) == fileBucket,
            s"k=${r.getLong(0)} file bucket $fileBucket")
        }
      }
    }
  }

  test("an equality repair of a clustered MV leaves no false layout claim") {
    // the reconcile's full outer join of base and MV, each clustered
    // into 64 buckets: an eq commit's insert files are not bucket
    // aligned, so after it the MV scan must claim no layout — else
    // key-grouped planning pairs inserted keys with the wrong base
    // bucket and the SPJ plan reports them missing on both sides
    withTmp { tmp =>
      withSpj(tmp) { cat =>
        val saved = spark.conf.getOption(
          "spark.sql.requireAllClusterKeysForCoPartition")
        spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
        try {
          val base = spark.range(3000).select(col("id").as("k"),
            (col("id") * 3).as("v"))
          writeClustered(base, cat, "base", "k", 64)
          writeClustered(base.filter(col("k") % 20 =!= 7), cat, "mv", "k", 64)
          EqualityRepair.commit(spark, s"$tmp/db/mv", Seq("k"),
            spark.range(3000).filter(col("id") % 50 === 3)
              .select(col("id").as("k")),
            base.filter(col("k") % 20 === 7))
          assert(spark.table(s"$cat.db.mv").count() == 2940L)
          assertSpjMatchesPlain("reconcile after an eq repair") {
            spark.table(s"$cat.db.base").as("b")
              .join(spark.table(s"$cat.db.mv").as("m"),
                col("b.k") === col("m.k") && col("b.v") === col("m.v"),
                "full_outer")
              .select(col("b.k"), col("m.k"))
          }
        } finally saved.fold(spark.conf.unset(
          "spark.sql.requireAllClusterKeysForCoPartition"))(
          spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", _))
      }
    }
  }

  test("time travel and rollback claim their own version's layout") {
    withTmp { tmp =>
      withSpj(tmp) { cat =>
        val p = s"$tmp/db/tt"
        writeClustered(spark.range(3000).select(col("id").as("k"),
          (col("id") % 101).as("v")), cat, "tt", "k", 8)
        writeClustered(spark.range(1000, 4000).select(col("id").as("k"),
          lit(1L).as("w")), cat, "r16", "k", 16)
        val v8 = CommitLog.latest(p, conf).get.version
        spark.sql(s"CALL $cat.system.rewrite_clustered('db.tt', 'k', 16, '')")
          .collect()
        def joined(t: DataFrame): DataFrame = t.as("t")
          .join(spark.table(s"$cat.db.r16").as("r"),
            col("t.k") === col("r.k"), "full_outer")
          .select(col("t.k"), col("r.k"))
        def asOf = spark.sql(s"SELECT * FROM $cat.db.tt VERSION AS OF $v8")
        // the pre-recluster version never claims the newer width
        assert(!widths(asOf).contains(Some(16)))
        assertSpjMatchesPlain("VERSION AS OF the 8-bucket version")(joined(asOf))
        assert(widths(spark.table(s"$cat.db.tt")) == Seq(Some(16)))
        // rollback restores the target version's layout with its files
        spark.sql(s"CALL $cat.system.rollback_to_version('db.tt', $v8)")
          .collect()
        assert(widths(spark.table(s"$cat.db.tt")) == Seq(Some(8)))
        // a later eq repair with inserts turns the claim off
        EqualityRepair.commit(spark, p, Seq("k"),
          spark.range(0, 3000, 7).select(col("id").as("k")),
          spark.range(5000, 5100).select(col("id").as("k"), lit(0L).as("v")))
        assert(widths(spark.table(s"$cat.db.tt")) == Seq(None))
        assertSpjMatchesPlain("after the eq repair")(
          joined(spark.table(s"$cat.db.tt")))
      }
    }
  }
}
