package graft.operators

import graft.{MvSyncDemo, MvSyncJob}
import graft.config.Settings
import graft.reconcile.{AllTypesFixture, MvReconciler}
import graft.repair.RepairPlanner
import graft.report.{ReportFormatter, ReportWriter, StatsCollector}
import graft.sources.{CommitLog, Dsv2Parquet, Dsv2ParquetSource, GraftCatalog,
  GraftParquetProvider, Source}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The reconciliation engine exposed as oracle-checkable queries over the
 * driver testdata. The base/MV pair is derived deterministically from
 * `orders` (see MvSyncDemo: %97 orphans, %89 missing-in-MV, %13 price
 * perturbation) so the DuckDB oracle can recreate both sides with plain
 * SQL CTEs and reproduce the classification semantics with a FULL OUTER
 * JOIN — a line-by-line independent check of operators C, E, F, G, H, I,
 * J, M of SURVEY §2.
 */
object ReconQueries {

  /** Shared oracle CTE prelude: the derived base/MV pair. */
  private val Cte =
    """WITH base AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority,
      |         CAST(epoch(o_orderdate) AS BIGINT) * 1000000 AS wt,
      |         CASE WHEN o_orderkey % 7 = 0
      |              THEN CAST(86400 + o_orderkey % 1000 AS INTEGER) END AS ttl
      |  FROM orders WHERE o_orderkey % 97 <> 0),
      |mv AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus,
      |         CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.0
      |              ELSE o_totalprice END AS o_totalprice,
      |         o_orderpriority,
      |         CAST(epoch(o_orderdate) AS BIGINT) * 1000000 AS wt
      |  FROM orders WHERE o_orderkey % 89 <> 0),
      |joined AS (
      |  SELECT COALESCE(b.o_custkey, m.o_custkey) AS o_custkey,
      |         COALESCE(b.o_orderkey, m.o_orderkey) AS o_orderkey,
      |         b.o_orderkey IS NOT NULL AS in_base,
      |         m.o_orderkey IS NOT NULL AS in_mv,
      |         b.o_orderpriority AS b_pri, m.o_orderpriority AS m_pri,
      |         b.o_orderstatus AS b_st, m.o_st AS m_st,
      |         b.o_totalprice AS b_tp, m.o_totalprice AS m_tp,
      |         b.wt AS b_wt, m.wt AS m_wt, b.ttl AS b_ttl
      |  FROM base b FULL OUTER JOIN (SELECT o_orderkey, o_custkey,
      |         o_orderstatus AS o_st, o_totalprice, o_orderpriority, wt FROM mv) m
      |    ON b.o_orderkey = m.o_orderkey AND b.o_custkey = m.o_custkey),
      |classified AS (
      |  SELECT o_custkey, o_orderkey,
      |         CASE WHEN NOT in_base THEN 'MISSING_IN_BASE_TABLE'
      |              WHEN NOT in_mv THEN 'MISSING_IN_MV_TABLE'
      |              WHEN b_pri IS DISTINCT FROM m_pri
      |                OR b_st IS DISTINCT FROM m_st
      |                OR b_tp IS DISTINCT FROM m_tp THEN 'INCONSISTENT'
      |              ELSE 'CONSISTENT' END AS problem,
      |         CASE WHEN in_base AND in_mv THEN
      |           CASE WHEN b_pri IS DISTINCT FROM m_pri THEN 'o_orderpriority'
      |                WHEN b_st IS DISTINCT FROM m_st THEN 'o_orderstatus'
      |                WHEN b_tp IS DISTINCT FROM m_tp THEN 'o_totalprice' END
      |         END AS mismatch_col,
      |         b_pri, m_pri, b_st, m_st, b_tp, m_tp, b_wt, b_ttl
      |  FROM joined)
      |""".stripMargin

  /** The demo pair derives both sides from `orders` keyed by its
   * primary key — unique by construction, like any real Cassandra scan
   * — so the wired queries run with `trustUniquePk` (the defensive
   * first-element dropDuplicates is pure cost here: 1.11s → 0.73s
   * classify at sf0.1, measured r07 — BASELINE.md). Parity mode stays the
   * engine default and keeps its duplicate-keys spec. */
  private val Trusted = Settings(trustUniquePk = true)

  private def classified(spark: SparkSession, dir: String,
      settings: Settings = Trusted): DataFrame =
    MvReconciler.reconcile(
      MvSyncDemo.baseDf(spark, dir), MvSyncDemo.mvDf(spark, dir),
      MvSyncDemo.baseSchema, MvSyncDemo.mvSchema, settings)

  /** Per-key consistency classification + first mismatching column. */
  def reconClassify(spark: SparkSession, dir: String): DataFrame =
    classified(spark, dir)
      .select("o_custkey", "o_orderkey", "problem", "mismatch_col")

  /** Operator A's pluggability, proven end-to-end: the SAME
   * classification as [[reconClassify]] with both sides round-tripped
   * through [[graft.sources.CsvSource]] — the second offline Source
   * implementation (the slot a live CassandraSource fills, reference
   * MvSync.java:232-258). Shares recon_classify's oracle SQL, so a
   * hash match proves the reconciler never learned the format. */
  def reconClassifyCsv(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.CsvSource
    // per-invocation private tmp dir: a shared dir-keyed path would let
    // two concurrent runs race each other's overwrite (r9 advice), and
    // the files are cleaned up after the eager materialization below
    withTempDir("graft-csv-source") { tmp =>
      val base = MvSyncDemo.baseDf(spark, dir)
      val mv = MvSyncDemo.mvDf(spark, dir)
      // default emptyValue (quoted "") + explicit null marker: NULL and
      // empty string occupy distinct encodings (see CsvSource.NullMarker)
      def writeCsv(df: DataFrame, path: String): Unit =
        df.write.option("header", "true")
          .option("nullValue", graft.sources.CsvSource.NullMarker).csv(path)
      writeCsv(base, s"$tmp/base")
      writeCsv(mv, s"$tmp/mv")
      // eager checkpoint: the classification is damage-proportional-small,
      // and materializing it lets the CSV round-trip files be deleted
      // before the caller consumes the result
      MvReconciler.reconcile(
        CsvSource(s"$tmp/base", base.schema).load(spark, MvSyncDemo.baseSchema),
        CsvSource(s"$tmp/mv", mv.schema).load(spark, MvSyncDemo.mvSchema),
        MvSyncDemo.baseSchema, MvSyncDemo.mvSchema, Trusted)
        .select("o_custkey", "o_orderkey", "problem", "mismatch_col")
        .localCheckpoint()
    }
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** `f` over a fresh temp directory, deleted afterwards even when `f`
   * fails, so a failed run leaks nothing. */
  private def withTempDir[A](prefix: String)(f: String => A): A = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix).toString
    try f(tmp) finally deleteRecursively(new java.io.File(tmp))
  }

  /** `f(catalog, root)` with a [[GraftCatalog]] registered under a fresh
   * name `<prefix>_<hex>`, rooted in a fresh temp directory; the
   * registration and the directory go afterwards. */
  private def withCatalog[A](spark: SparkSession, prefix: String)(
      f: (String, String) => A): A =
    withTempDir(s"graft-$prefix") { root =>
      val cat = s"${prefix}_${java.lang.Long.toHexString(System.nanoTime())}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", root)
      try f(cat, root) finally {
        spark.conf.unset(s"spark.sql.catalog.$cat")
        spark.conf.unset(s"spark.sql.catalog.$cat.root")
      }
    }

  /** The same classification through a [[graft.sources.JsonSource]]
   * round-trip — the third Source implementation driver-verified
   * against recon_classify's oracle. JSON's native null needs no
   * marker convention (the CSV variant's r9 trap); what the hash pins
   * is type fidelity through the text round-trip: longs, doubles, and
   * the writetime/ttl sibling columns re-parse exactly under the
   * explicit schema. */
  def reconClassifyJson(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.JsonSource
    withTempDir("graft-json-source") { tmp =>
      val base = MvSyncDemo.baseDf(spark, dir)
      val mv = MvSyncDemo.mvDf(spark, dir)
      base.write.json(s"$tmp/base")
      mv.write.json(s"$tmp/mv")
      MvReconciler.reconcile(
        JsonSource(s"$tmp/base", base.schema).load(spark, MvSyncDemo.baseSchema),
        JsonSource(s"$tmp/mv", mv.schema).load(spark, MvSyncDemo.mvSchema),
        MvSyncDemo.baseSchema, MvSyncDemo.mvSchema, Trusted)
        .select("o_custkey", "o_orderkey", "problem", "mismatch_col")
        .localCheckpoint()
    }
  }

  /** The same classification through [[graft.sources.Dsv2ParquetSource]]
   * — the fourth Source implementation, and the one whose read path is
   * the DataSource V2 connector API itself (the seam a live Cassandra
   * connector implements; r15 verdict #2). Shares recon_classify's
   * oracle, so a hash match proves Catalyst's pruneColumns/pushFilters
   * → parquet requested-schema/row-group-statistics path forwards every
   * row and column value exactly. The audited plan tree (PLANS.md)
   * shows the PushedFilters/ReadSchema lines at the GraftParquetScan
   * node. */
  def reconClassifyDsv2(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Dsv2ParquetSource
    // The base/mv parquet pair is FIXTURE, not operator: it is written
    // by Spark's builtin writer (the DSv2 WRITE path has its own rows:
    // recon_post_repair_dsv2, dsv2_ordered_write, the alltypes twin),
    // so it materializes once per (JVM, sf dir) — the packedVideoTable
    // amortization pattern — and every timed pass measures the
    // provider READ path + reconcile, which is what this row proves.
    // v2 key: content-stamped + atomically published (FixtureCache) —
    // bump the version when the MvSyncDemo derivation changes; a
    // regenerated source dir re-keys by stamp automatically
    val cache = ReconQueries.synchronized {
      FixtureCache.materialize(
        s"graft-dsv2-recon-fixture-v2-${FixtureCache.dirStamp(dir)}") { tmp =>
        MvSyncDemo.baseDf(spark, dir).write.mode("overwrite")
          .parquet(s"$tmp/base")
        MvSyncDemo.mvDf(spark, dir).write.mode("overwrite")
          .parquet(s"$tmp/mv")
      }
    }
    MvReconciler.reconcile(
      Dsv2ParquetSource(s"$cache/base").load(spark, MvSyncDemo.baseSchema),
      Dsv2ParquetSource(s"$cache/mv").load(spark, MvSyncDemo.mvSchema),
      MvSyncDemo.baseSchema, MvSyncDemo.mvSchema, Trusted)
      .select("o_custkey", "o_orderkey", "problem", "mismatch_col")
  }

  /** The DSv2 metadata-only aggregate path driver-verified:
   * COUNT(*)/MIN/MAX/COUNT(col) over orders answered ENTIRELY from
   * parquet footer metadata (row counts + chunk statistics) through
   * `SupportsPushDownAggregates` complete pushdown — zero data bytes
   * read. The require() makes the oracle row meaningful: if the
   * pushdown ever stops engaging, the query fails rather than silently
   * computing the same numbers the slow way. */
  def dsv2AggPushdown(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, max, min}
    val df = spark.read
      .format(classOf[graft.sources.GraftParquetProvider].getName)
      .load(s"$dir/orders.parquet")
      .agg(count(lit(1)).as("n_rows"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"),
        count(col("o_custkey")).as("n_cust"))
    require(
      df.queryExecution.executedPlan.toString.contains("GraftParquetAggScan"),
      "dsv2_agg_pushdown: aggregate was not served from footer metadata")
    df
  }

  /** The DSv2 pushed-limit path driver-verified: orders rewritten as 8
   * row groups, then `LIMIT 500` through the provider — the scan must
   * plan only the leading row groups whose footer row counts cover the
   * limit (here 1 of 8) and still deliver exactly 500 rows to Spark's
   * own Limit. The require()s pin both the pushdown engaging
   * (PushedLimit in the executed plan) and the truncation actually
   * dropping row groups — if either stops, the row errors rather than
   * passing the slow way. */
  def dsv2LimitPushdown(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Dsv2RuntimeProbe
    val fmt = classOf[GraftParquetProvider].getName
    withTempDir("graft-dsv2-limit") { tmp =>
      spark.read.parquet(s"$dir/orders.parquet")
        .select("o_orderkey", "o_custkey")
        .repartition(8).write.parquet(s"$tmp/orders")
      val limited = spark.read.format(fmt).load(s"$tmp/orders").limit(500)
      val out = limited.agg(count(lit(1)).as("n_rows"))
      val plan = out.queryExecution.executedPlan.toString
      require(plan.contains("PushedLimit: LIMIT 500"),
        s"dsv2_limit_pushdown: limit did not reach the scan\n$plan")
      val forced = out.localCheckpoint()
      val probe = Dsv2RuntimeProbe.forPath(s"$tmp/orders")
      require(probe.lastKept.get() < probe.lastPlanned.get(),
        "dsv2_limit_pushdown: no row group was truncated " +
          s"(${probe.lastKept.get()}/${probe.lastPlanned.get()})")
      forced
    }
  }

  /** The SINK-REQUESTED distribution contract driver-verified
   * (`RequiresDistributionAndOrdering` — the V2 surface a Cassandra
   * writer uses to make Spark hash by token, an Iceberg writer to get
   * globally clustered files): orders keys scrambled across 8 input
   * partitions, then written through the provider with
   * `graft.orderBy=o_orderkey` and a strict 6-partition requirement —
   * the SINK declares the range exchange + in-partition sort, Catalyst
   * plans it. The require() pins the layout actually materialized:
   * >1 output file, per-file [min,max] key ranges strictly disjoint
   * (from the written data itself). The read-back through the provider
   * returns every key — value-level oracle over the full key set, so a
   * dropped or duplicated row in the exchange+sort+commit chain turns
   * the hash red. */
  def dsv2OrderedWrite(spark: SparkSession, dir: String): DataFrame = {
    val fmt = classOf[GraftParquetProvider].getName
    withTempDir("graft-dsv2-ordered") { tmp =>
      val p = s"$tmp/orders"
      spark.read.parquet(s"$dir/orders.parquet").select("o_orderkey")
        .repartition(8)
        .write.format(fmt)
        .option("graft.schema", "o_orderkey BIGINT")
        .option("graft.orderBy", "o_orderkey")
        .option("graft.numPartitions", "6")
        .mode("append").save(p)
      val perFile = spark.read.parquet(p)
        .select(col("o_orderkey"), input_file_name().as("f"))
        .groupBy("f")
        .agg(min("o_orderkey").as("lo"), max("o_orderkey").as("hi"))
        .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
      require(perFile.length > 1,
        "dsv2_ordered_write: expected a multi-file range layout")
      perFile.sliding(2).foreach {
        case Array((_, hi1), (lo2, _)) =>
          require(hi1 < lo2,
            s"dsv2_ordered_write: overlapping file key ranges (${perFile.toSeq})")
        case _ => ()
      }
      spark.read.format(fmt).load(p).localCheckpoint()
    }
  }

  /** The CATALOG + METADATA-DELETE surfaces driver-verified: orders
   * keys written as two band-aligned files ([min,1000] and
   * (1000,max]) into a [[graft.sources.GraftCatalog]] root, then
   * plain SQL `DELETE FROM <cat>.db.orders WHERE o_orderkey <= 1000`
   * — the connector drops exactly the file whose footer statistics
   * PROVE every row matches (Iceberg's metadata-delete posture; a
   * live Cassandra catalog resolves keyspace.table the same way) and
   * refuses undecidable deletes outright. The surviving key set read
   * back through catalog SQL carries the full value-level oracle: a
   * file wrongly dropped, wrongly kept, or a stats misread flips the
   * hash. */
  def dsv2DeleteWhere(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Dsv2DeleteProbe
    val fmt = classOf[GraftParquetProvider].getName
    withCatalog(spark, "gq") { (cat, tmp) =>
      val p = s"$tmp/db/orders"
      val keys = spark.read.parquet(s"$dir/orders.parquet").select("o_orderkey")
      keys.filter(col("o_orderkey") <= 1000).coalesce(1).write.format(fmt)
        .option("graft.schema", "o_orderkey BIGINT").mode("append").save(p)
      keys.filter(col("o_orderkey") > 1000).coalesce(1).write.format(fmt)
        .mode("append").save(p)
      spark.sql(s"DELETE FROM $cat.db.orders WHERE o_orderkey <= 1000")
      val dp = Dsv2DeleteProbe.forPath(p)
      require(dp.lastDropped.get() == 1 && dp.lastKept.get() == 1,
        s"dsv2_delete_where: expected 1 dropped + 1 kept file, got " +
          s"${dp.lastDropped.get()}/${dp.lastKept.get()}")
      spark.sql(s"SELECT o_orderkey FROM $cat.db.orders").localCheckpoint()
    }
  }

  /** FILTER-scoped overwrite (`INSERT OVERWRITE … WHERE` /
   * `writeTo(t).overwrite(cond)`) driver-verified: orders keys written
   * as two band-aligned files into a catalog table, then ONE overwrite
   * statement replaces the lower band with a narrower key set —
   * accepted because footer statistics PROVE the predicate
   * file-aligned (`canOverwrite`, the same metadata-proof posture as
   * DELETE WHERE; an unprovable predicate fails at planning, spec'd).
   * The require() pins exactly one file replaced; the read-back key
   * set carries the full value-level oracle: upper band untouched,
   * lower band now the overwrite payload — a file wrongly kept,
   * dropped, or double-written flips the hash. */
  def dsv2OverwriteWhere(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Dsv2WriteProbe
    withCatalog(spark, "gow") { (cat, tmp) =>
      val keys = spark.read.parquet(s"$dir/orders.parquet").select("o_orderkey")
      keys.filter(col("o_orderkey") <= 1000).coalesce(1)
        .writeTo(s"$cat.db.orders").create()
      keys.filter(col("o_orderkey") > 1000).coalesce(1)
        .writeTo(s"$cat.db.orders").append()
      keys.filter(col("o_orderkey") <= 500)
        .writeTo(s"$cat.db.orders").overwrite(col("o_orderkey") <= 1000)
      val probe = Dsv2WriteProbe.forPath(s"$tmp/db/orders")
      require(probe.lastTruncated.get() == 1,
        s"dsv2_overwrite_where: expected exactly the lower-band file " +
          s"replaced, got ${probe.lastTruncated.get()}")
      spark.sql(s"SELECT o_orderkey FROM $cat.db.orders").localCheckpoint()
    }
  }

  /** Operators D/N (scan/mutation rate limiting) driver-verified: the
   * SAME classification as [[reconClassify]] with BOTH scans wrapped in
   * [[graft.sources.Throttle.perPartitionRows]] — the reference's
   * guava-RateLimiter-per-row ceiling (MvSync.java:250-255). The
   * throughput EFFECT is spec'd (ThrottleSpec) and disabled for bench
   * per BASELINE.md; what the oracle pins is that the token bucket is
   * ROW-TRANSPARENT — a hash match proves every partition forwards
   * every row unchanged through the rate-limited iterator. The rate is
   * set high enough (100k rows/s/partition) that the sf0.01 run pays
   * microseconds, not the reference's 10-rows/s default. */
  def reconClassifyThrottled(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Throttle
    MvReconciler.reconcile(
      Throttle.perPartitionRows(MvSyncDemo.baseDf(spark, dir), 100000),
      Throttle.perPartitionRows(MvSyncDemo.mvDf(spark, dir), 100000),
      MvSyncDemo.baseSchema, MvSyncDemo.mvSchema, Trusted)
      .select("o_custkey", "o_orderkey", "problem", "mismatch_col")
  }

  /** The reconcile plan a periodic 100 TB job would ACTUALLY run,
   * driver-verified: both sides written `bucketBy(8, MV PK).sortBy` into
   * the session catalog, then the SAME classification as
   * [[reconClassify]] through the exchange-free sort-merge join the
   * bucketing enables — the one reconcile shuffle disappears entirely
   * (BucketedJoinSpec pins the zero-exchange plan; the r07 scale smoke
   * measured the 2.2× win with the network-bound exchange eliminated).
   * Shares recon_classify's oracle SQL, so a hash match proves the
   * exchange-free configuration computes the identical classification —
   * and the function itself re-asserts zero ShuffleExchanges in the
   * plan it executes, so a driver run fails loudly if bucketed SMJ
   * ever regresses to a shuffle. Eagerly materialized (with broadcast +
   * AQE pinned off so the executed plan IS the audited one); the
   * bucketed tables are per-invocation-named and dropped after. */
  def reconClassifyBucketed(spark: SparkSession, dir: String): DataFrame = {
    val tag = java.lang.Long.toHexString(System.nanoTime())
    val (baseT, mvT) = (s"graft_bucketed_base_$tag", s"graft_bucketed_mv_$tag")
    def writeBucketed(df: DataFrame, table: String): Unit =
      df.write.bucketBy(8, "o_custkey", "o_orderkey")
        .sortBy("o_custkey", "o_orderkey").saveAsTable(table)
    writeBucketed(MvSyncDemo.baseDf(spark, dir), baseT)
    writeBucketed(MvSyncDemo.mvDf(spark, dir), mvT)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val out = MvReconciler.reconcile(
        spark.table(baseT), spark.table(mvT),
        MvSyncDemo.baseSchema, MvSyncDemo.mvSchema, Trusted)
        .select("o_custkey", "o_orderkey", "problem", "mismatch_col")
      def shuffles(p: org.apache.spark.sql.execution.SparkPlan): Int =
        (if (p.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]) 1
         else 0) + p.children.map(shuffles).sum
      val n = shuffles(out.queryExecution.executedPlan)
      require(n == 0, s"bucketed reconcile planned $n exchanges — the " +
        "zero-exchange configuration regressed")
      out.localCheckpoint()
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql(s"DROP TABLE IF EXISTS $baseT")
      spark.sql(s"DROP TABLE IF EXISTS $mvT")
    }
  }

  /** The reference's `writetime(col)` / `ttl(col)` scan-select surface
   * (MvSync.java:222-228) served as catalog-SQL METADATA COLUMNS
   * (`SupportsMetadataColumns` on the provider table): the demo base
   * written into a [[graft.sources.GraftCatalog]] table, then one SQL
   * statement selects the SAME provenance through both spellings — the
   * metadata column `` `writetime(o_totalprice)` `` and the wide
   * physical `writetime_o_totalprice` — plus the ttl pair. The oracle
   * derives all four from the CTE's wt/ttl, so a hash match proves the
   * metadata name maps onto exactly the wide column's bytes (one value
   * off and the two spellings diverge from the derivation AND from
   * each other). */
  def dsv2MetadataColumns(spark: SparkSession, dir: String): DataFrame = {
    withCatalog(spark, "gmeta") { (cat, _) =>
      MvSyncDemo.baseDf(spark, dir).writeTo(s"$cat.db.base").create()
      spark.sql(
        s"""SELECT o_custkey, o_orderkey,
           |       `writetime(o_totalprice)` AS wt_meta,
           |       writetime_o_totalprice AS wt_wide,
           |       `ttl(o_totalprice)` AS ttl_meta,
           |       ttl_o_totalprice AS ttl_wide
           |FROM $cat.db.base""".stripMargin)
        .localCheckpoint()
    }
  }

  /** The zero-exchange reconcile THROUGH THE CONNECTOR — the DSv2 twin
   * of [[reconClassifyBucketed]] (r16 verdict #3), and the plan a
   * periodic 100 TB job over connector tables would actually run: both
   * sides written into a [[graft.sources.GraftCatalog]] through the
   * sink-demanded `graft.clusterBy` hash exchange, then read back with
   * the layout CLAIMED (`SupportsReportPartitioning` reporting
   * `bucket(8, pk)` per row-group partition, resolved against the
   * catalog's FunctionCatalog), so Spark's storage-partitioned-join
   * planning co-locates equal buckets and the full-outer SMJ plans
   * with ZERO shuffle exchanges — asserted in-function, so a driver
   * run fails loudly if SPJ ever stops engaging. Shares
   * recon_classify's oracle SQL verbatim: the exchange-free
   * connector-native configuration must compute the identical
   * classification.
   *
   * Clustered by ONE pk column (o_orderkey): Spark's key-grouped spec
   * demands exactly one leaf per partition transform, so a composite
   * PK co-locates on a single component — sufficient for the join
   * (equal composite keys have equal components) — with
   * `requireAllClusterKeysForCoPartition=false` letting the superset
   * join keys accept the single-component co-partitioning. A token-
   * range-partitioned Cassandra connector reports exactly this shape:
   * partition-key hash, clustering columns unrepresented. */
  def reconClassifyBucketedDsv2(spark: SparkSession, dir: String): DataFrame = {
    withCatalog(spark, "gspj") { (cat, _) =>
      val saved = Seq("spark.sql.sources.v2.bucketing.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.enabled",
        "spark.sql.requireAllClusterKeysForCoPartition")
        .map(k => k -> spark.conf.getOption(k))
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
      try {
        def writeClustered(df: DataFrame, table: String): Unit =
          df.writeTo(s"$cat.db.$table")
            .option("graft.clusterBy", "o_orderkey")
            .option("graft.numPartitions", "8")
            // within-file sort in JOIN-KEY order: the scan reports it
            // (SupportsReportOrdering), so the SMJ also plans without
            // per-partition sorts — scan-merge-join, nothing else
            .option("graft.sortWithin", "o_custkey,o_orderkey")
            .create()
        writeClustered(MvSyncDemo.baseDf(spark, dir), "base")
        writeClustered(MvSyncDemo.mvDf(spark, dir), "mv")
        val out = MvReconciler.reconcile(
          spark.table(s"$cat.db.base"), spark.table(s"$cat.db.mv"),
          MvSyncDemo.baseSchema, MvSyncDemo.mvSchema, Trusted)
          .select("o_custkey", "o_orderkey", "problem", "mismatch_col")
        def shuffles(p: org.apache.spark.sql.execution.SparkPlan): Int =
          (if (p.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]) 1
           else 0) + p.children.map(shuffles).sum
        val n = shuffles(out.queryExecution.executedPlan)
        require(n == 0, s"storage-partitioned reconcile planned $n exchanges " +
          "— the connector zero-exchange configuration regressed")
        def sorts(p: org.apache.spark.sql.execution.SparkPlan): Int =
          (if (p.isInstanceOf[org.apache.spark.sql.execution.SortExec]) 1
           else 0) + p.children.map(sorts).sum
        val ns = sorts(out.queryExecution.executedPlan)
        require(ns == 0, s"storage-partitioned reconcile planned $ns sorts " +
          "— the declared within-file ordering regressed")
        out.localCheckpoint()
      } finally {
        saved.foreach { case (k, v) =>
          v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
        }
      }
    }
  }

  /** Operator P's observable — the reference's one-line stats summary
   * (JobStats.java:43-75, the exact line MvSync prints and stats.txt
   * stores) — as an oracle row: [[StatsCollector.collect]] assembles
   * the line for the fully-enabled repair configuration from the
   * classified frame (category counts via one aggregation; the repair
   * counters are the same flag-gated arithmetic the reference applies,
   * MvSync.java:380-414), and DuckDB reconstructs the identical string
   * from the classified CTE — a hash match pins every counter AND the
   * exact `name: value, ` formatting byte-for-byte. */
  def reconStatsLine(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stats = StatsCollector.collect(classified(spark, dir),
      fixMissingMv = true, fixOrphanMv = true, fixInconsistentMv = true)
    Seq(stats.toString).toDF("stats_line")
  }

  /** Operator U (metrics registry, the reference's Codahale counters —
   * MvSyncJobMetrics.java:6-24) driver-verified: the zero-extra-job
   * [[StatsCollector.observed]] path piggybacks category counts onto
   * the classify action via `Dataset.observe`, and this row emits the
   * OBSERVATION itself (not a second aggregation) as one row — the
   * DuckDB oracle recomputes the same five counters from the classified
   * CTE, so a hash match proves the observe-channel metrics equal the
   * data they were observed from. */
  def reconObserve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (df, obs) = StatsCollector.observed(classified(spark, dir))
    df.write.format("noop").mode("overwrite").save()
    val m = obs.get
    def g(k: String): Long = m(k).asInstanceOf[Long]
    Seq((g("totRecords"), g(MvReconciler.Consistent), g(MvReconciler.Inconsistent),
      g(MvReconciler.MissingInBase), g(MvReconciler.MissingInMv)))
      .toDF("tot_records", "n_consistent", "n_inconsistent",
        "n_missing_base", "n_missing_mv")
  }

  /** Stats aggregation (operator J): category counts. */
  def reconStats(spark: SparkSession, dir: String): DataFrame =
    StatsCollector.byProblem(classified(spark, dir))
      .select(col("problem"), col("count").as("n"))

  /** Time-scope filter (operator F): only writetimes within
   * [1996-01-01, 1999-01-01) stay in scope. */
  def reconTimescope(spark: SparkSession, dir: String): DataFrame =
    classified(spark, dir,
      Trusted.copy(startTsEpochSec = 820454400L, endTsEpochSec = 915148800L))
      .groupBy("problem").agg(count(lit(1)).as("n"))

  /** Repair mutation plan (operators L/M): per-column upserts + orphan
   * deletes, with flavor selection. */
  def reconRepairPlan(spark: SparkSession, dir: String): DataFrame =
    RepairPlanner.plan(
      classified(spark, dir,
        Trusted.copy(fixMissingMv = true, fixOrphanMv = true, fixInconsistentMv = true)),
      MvSyncDemo.baseSchema, MvSyncDemo.mvSchema,
      Trusted.copy(fixMissingMv = true, fixOrphanMv = true, fixInconsistentMv = true))
      .select("o_custkey", "o_orderkey", "op", "column", "value", "writetime", "ttl", "flavor")

  /** Repair plan under `mutation.uselatestts=true` (operator M, flavor
   * coverage): the reference suppresses the explicit USING TIMESTAMP but
   * keeps the TTL (DBOperations.java:250-262), so %7 keys take the TTL
   * flavor and the rest NO_TIMESTAMP_TTL — together with
   * [[reconRepairPlan]] all four UpsertFlavors.java:3-8 values are
   * oracle-verified. */
  def reconRepairPlanLatestTs(spark: SparkSession, dir: String): DataFrame =
    RepairPlanner.plan(
      classified(spark, dir,
        Trusted.copy(fixMissingMv = true, fixOrphanMv = true, fixInconsistentMv = true)),
      MvSyncDemo.baseSchema, MvSyncDemo.mvSchema,
      Trusted.copy(fixMissingMv = true, fixOrphanMv = true, fixInconsistentMv = true,
        useLatestTs = true))
      .select("o_custkey", "o_orderkey", "op", "column", "value", "writetime", "ttl", "flavor")

  /** Delete race guard under the ORACLE (operator K, the offline
   * analogue of the reference's read-before-delete point SELECT,
   * db/DBOperations.java:196-228): the repair plan is re-verified
   * against a FRESH base read in which every orphaned key has
   * "reappeared" (the unfiltered orders table contains the %97 keys the
   * demo base drops), so [[RepairPlanner.verifyDeletesAgainst]] must
   * drop every planned DELETE and pass upserts through untouched —
   * exactly the race the reference guards: a row written to base
   * between the scan and the repair must not have its MV row deleted. */
  def reconRepairPlanGuarded(spark: SparkSession, dir: String): DataFrame = {
    val fix = Trusted.copy(fixMissingMv = true, fixOrphanMv = true, fixInconsistentMv = true)
    val plan = RepairPlanner.plan(
      classified(spark, dir, fix),
      MvSyncDemo.baseSchema, MvSyncDemo.mvSchema, fix)
    val freshBase = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_custkey"), col("o_orderkey"))
    RepairPlanner.verifyDeletesAgainst(plan, freshBase, MvSyncDemo.mvSchema.sortedPk)
      .select("o_custkey", "o_orderkey", "op", "column", "value", "writetime", "ttl", "flavor")
  }

  /** The product repair under the oracle (operators K/L/M applied):
   * the damaged MV written as a commit-logged graft table, reconciled
   * and repaired in place by [[repairedMv]] (`MvSyncJob.run`, then
   * `MvSyncJob.repair` with every fix flag), then reconciled AGAIN
   * through the connector — the repaired MV must hold exactly the base
   * rows, so the second pass classifies every surviving key CONSISTENT.
   * The oracle states that invariant independently: exactly the
   * non-orphan base keys remain. */
  def reconPostRepair(spark: SparkSession, dir: String): DataFrame =
    withTempDir("graft-repair") { tmp =>
      healedCounts(spark, dir, repairedMv(spark, dir, tmp))
    }

  private val Fixing =
    Trusted.copy(fixMissingMv = true, fixOrphanMv = true, fixInconsistentMv = true)

  /** The damaged demo MV as a commit-logged graft table at `<tmp>/mv`,
   * repaired by the product job: one `MvSyncJob.run` (no reports) and
   * its `MvSyncJob.repair` commit. Returns the table path. */
  private def repairedMv(spark: SparkSession, dir: String, tmp: String): String = {
    val path = s"$tmp/mv"
    val damaged = MvSyncDemo.mvDf(spark, dir)
    damaged.write.format(classOf[GraftParquetProvider].getName)
      .option(Dsv2Parquet.SchemaOption, damaged.schema.toDDL)
      .mode("append").save(path)
    CommitLog.enable(path, Dsv2Parquet.readConf)
    val base: Source = (s, _) => MvSyncDemo.baseDf(s, dir)
    val result = MvSyncJob.run(spark, base, Dsv2ParquetSource(path),
      MvSyncDemo.baseSchema, MvSyncDemo.mvSchema, Fixing, writeReports = false)
    MvSyncJob.repair(spark, result, path, base,
      MvSyncDemo.baseSchema, MvSyncDemo.mvSchema, Fixing)
    path
  }

  /** Problem counts of the base against the MV read back through the
   * connector, materialized so the table may go. */
  private def healedCounts(spark: SparkSession, dir: String, mvPath: String): DataFrame =
    MvReconciler.reconcile(
      MvSyncDemo.baseDf(spark, dir),
      Dsv2ParquetSource(mvPath).load(spark, MvSyncDemo.mvSchema),
      MvSyncDemo.baseSchema, MvSyncDemo.mvSchema, Trusted)
      .groupBy("problem").agg(count(lit(1)).as("n"))
      .localCheckpoint()

  /** The DataSource V2 WRITE seam around a repair — the API a live
   * connector's bulk rewrite sits behind (r16 write half of the
   * connector ladder). The damaged MV is first APPENDED through the V2
   * writer into a fresh directory (schema resolved from the
   * `graft.schema` option — no footers exist yet, the cluster-catalog
   * stand-in), then OVERWRITTEN with the repaired state — the base
   * projected onto the MV's columns, the source the MERGE rows use —
   * (Catalyst lowers mode=overwrite to the WriteBuilder's truncate()),
   * then read back through the V2 scan and re-reconciled against base.
   * Shares recon_post_repair's oracle verbatim, so a hash match proves
   * the two-phase commit forwarded every row and value exactly AND
   * that truncate removed every damaged file — a silently failed
   * truncate would leave stale/duplicate keys and flip the
   * classification counts. The require()s make the row meaningful: if
   * either write stops engaging the probe, the query fails rather than
   * passing by accident. */
  def reconPostRepairDsv2(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Dsv2WriteProbe
    val fmt = classOf[GraftParquetProvider].getName
    withTempDir("graft-dsv2-write") { tmp =>
      val mvPath = s"$tmp/mv"
      val damaged = MvSyncDemo.mvDf(spark, dir)
      damaged.write.format(fmt)
        .option("graft.schema", damaged.schema.toDDL)
        .mode("append").save(mvPath)
      require(Dsv2WriteProbe.forPath(mvPath).lastCommittedRows.get() > 0,
        "recon_post_repair_dsv2: append committed no rows")
      MvSyncDemo.baseDf(spark, dir).selectExpr(damaged.columns.toIndexedSeq: _*)
        .write.format(fmt).mode("overwrite").save(mvPath)
      require(Dsv2WriteProbe.forPath(mvPath).lastTruncated.get() > 0,
        "recon_post_repair_dsv2: overwrite did not truncate the damaged files")
      healedCounts(spark, dir, mvPath)
    }
  }

  /** The repair as ONE catalog MERGE into `<cat>.db.mv`, the MV table
   * with columns `mvColumns`: the base projected onto those columns is
   * the source; `WHEN MATCHED UPDATE` restates the inconsistent-row
   * upserts (DBOperations.java:240-387), `WHEN NOT MATCHED INSERT` the
   * missing-in-MV upserts and `WHEN NOT MATCHED BY SOURCE DELETE` the
   * orphan deletes (DBOperations.java:58-194). */
  private def mergeBaseIntoMv(spark: SparkSession, dir: String, cat: String,
      mvColumns: Seq[String]): Unit = {
    val view = s"${cat}_merge_src"
    MvSyncDemo.baseDf(spark, dir).selectExpr(mvColumns: _*)
      .createOrReplaceTempView(view)
    val pk = MvSyncDemo.mvSchema.sortedPk
    val setList = mvColumns.filterNot(pk.contains)
      .map(c => s"t.$c = s.$c").mkString(", ")
    try spark.sql(
      s"""MERGE INTO $cat.db.mv t USING $view s
         |ON t.o_custkey = s.o_custkey AND t.o_orderkey = s.o_orderkey
         |WHEN MATCHED THEN UPDATE SET $setList
         |WHEN NOT MATCHED THEN INSERT (${mvColumns.mkString(", ")})
         |  VALUES (${mvColumns.map(c => s"s.$c").mkString(", ")})
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin): Unit
    finally spark.catalog.dropTempView(view): Unit
  }

  /** The ENTIRE repair applied as ONE catalog SQL statement — the
   * row-level-operations face of the connector (r16 verdict #4,
   * `SupportsRowLevelOperations` → group-based copy-on-write): the
   * damaged MV lives in a [[graft.sources.GraftCatalog]] table and
   * [[mergeBaseIntoMv]]'s single `MERGE INTO` restates the reference's
   * full mutation semantics. Catalyst's RewriteMergeIntoTable drives the
   * provider's row-level scan (whole groups, no row drops) and
   * replace-commit (scanned files swapped for rewritten ones,
   * two-phase). The require() pins the rewrite actually replacing
   * files. Re-reconciling the merged table against base shares
   * recon_post_repair's oracle verbatim: every surviving key
   * CONSISTENT, count = the non-orphan base keys. */
  def reconPostRepairMerge(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Dsv2WriteProbe
    withCatalog(spark, "gmrg") { (cat, tmp) =>
      val damaged = MvSyncDemo.mvDf(spark, dir)
      damaged.writeTo(s"$cat.db.mv").create()
      mergeBaseIntoMv(spark, dir, cat, damaged.columns.toIndexedSeq)
      require(Dsv2WriteProbe.forPath(s"$tmp/db/mv").lastTruncated.get() > 0,
        "recon_post_repair_merge: the copy-on-write commit replaced no files")
      MvReconciler.reconcile(
        MvSyncDemo.baseDf(spark, dir), spark.table(s"$cat.db.mv"),
        MvSyncDemo.baseSchema, MvSyncDemo.mvSchema, Trusted)
        .groupBy("problem").agg(count(lit(1)).as("n"))
        .localCheckpoint()
    }
  }

  /** The MERGE-ON-READ face of the SQL repair (r17 verdict #7): the
   * same damaged-MV MERGE as recon_post_repair_merge against a table
   * declared `graft.merge.mode=merge-on-read`, so the repair lands as
   * position-delete DELETION VECTORS + insert files — ZERO data files
   * rewritten (require()d below, alongside DV evidence) — and the
   * DV-applying scan must read back the exact repaired state under
   * recon_post_repair's oracle. Write cost proportional to damaged
   * ROWS: the complement of copy-on-write's damaged-FILES cost, and
   * the mode a 100 TB periodic repair with per-mille damage runs. */
  def reconPostRepairMor(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Dsv2WriteProbe
    withCatalog(spark, "gmor") { (cat, tmp) =>
      val damaged = MvSyncDemo.mvDf(spark, dir)
      spark.sql(
        s"""CREATE TABLE $cat.db.mv (${damaged.schema.toDDL})
           |TBLPROPERTIES ('graft.merge.mode'='merge-on-read')""".stripMargin)
      damaged.writeTo(s"$cat.db.mv").append()
      mergeBaseIntoMv(spark, dir, cat, damaged.columns.toIndexedSeq)
      val probe = Dsv2WriteProbe.forPath(s"$tmp/db/mv")
      require(probe.lastTruncated.get() == 0,
        "recon_post_repair_mor: a file rewrite happened — not merge-on-read")
      require(probe.lastDvFiles.get() > 0 && probe.lastDvPositions.get() > 0,
        "recon_post_repair_mor: no deletion vectors were written")
      MvReconciler.reconcile(
        MvSyncDemo.baseDf(spark, dir), spark.table(s"$cat.db.mv"),
        MvSyncDemo.baseSchema, MvSyncDemo.mvSchema, Trusted)
        .groupBy("problem").agg(count(lit(1)).as("n"))
        .localCheckpoint()
    }
  }

  /** EQUALITY-DELETE repair under the oracle — the connector face the
   * product repair commits through: [[repairedMv]] lands the repair as
   * ONE [[graft.sources.EqualityRepair]] commit of executor-written
   * `_eq-` key sidecars plus staged insert files, with no `_file`/`_pos`
   * knowledge anywhere (the reference's repair statements bind KEYS,
   * never storage positions — DBOperations.java:58-194,240-387). The
   * read-back reconcile shares recon_post_repair's oracle verbatim.
   * The require()s pin the shape: equality sidecars landed (no DVs, no
   * rewrites), and `compact_table` afterwards folds them away with the
   * repaired state intact. */
  def reconPostRepairEq(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.GraftMaintenance
    withTempDir("graft-eq") { tmp =>
      val path = repairedMv(spark, dir, tmp)
      val snap = CommitLog.latest(path, Dsv2Parquet.readConf).get
      require(snap.eqFiles.nonEmpty,
        "recon_post_repair_eq: no equality sidecars landed")
      require(snap.dvFiles.isEmpty,
        "recon_post_repair_eq: position deletes landed — not an " +
          "equality repair")
      val healed = healedCounts(spark, dir, path)
      // fold: compaction retires the sidecars, the state must hold
      GraftMaintenance.compactDeletionVectors(spark, path): Unit
      require(CommitLog.latest(path, Dsv2Parquet.readConf)
          .get.eqFiles.isEmpty,
        "recon_post_repair_eq: compaction left equality sidecars live")
      val folded = healedCounts(spark, dir, path).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap - "CONSISTENT"
      require(folded.isEmpty,
        s"recon_post_repair_eq: problems after folding: $folded")
      healed
    }
  }

  /** The STREAMING-RECONCILER-DRIVEN repair: the continuous monitor
   * ([[graft.streaming.StreamingReconciler]]) classifies the damaged
   * MV from CHANGE FEEDS replayed across 8 micro-batches; its settled
   * per-key updates drive ONE [[graft.sources.EqualityRepair]] commit
   * on the commit-logged table. Key-only knowledge end to end — the
   * monitor never sees storage, the repair never names `_file`/`_pos`,
   * and the connector sequences deletes against inserts through the
   * manifest. This is the reference's continuous-repair deployment
   * shape (classify → bind repair statements by key,
   * DBOperations.java:58-194) with Structured Streaming as the
   * classifier and the DSv2 commit log as the mutation fabric. Unlike
   * `MvSyncJob.repair` the commit replaces whole rows by key: the
   * monitor emits keys and classifications, not cells, so the inserts
   * are the base rows of the keys to upsert. Shares recon_post_repair's
   * oracle verbatim. */
  def reconPostRepairEqStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.EqualityRepair
    import graft.streaming.StreamingReconciler
    val fmt = classOf[GraftParquetProvider].getName
    val sink = s"graft_eqs_${java.lang.Long.toHexString(System.nanoTime())}"
    withTempDir("graft-eqs") { tmp =>
      try {
        val path = s"$tmp/mv"
        val damaged = MvSyncDemo.mvDf(spark, dir)
        damaged.write.format(fmt)
          .option(Dsv2Parquet.SchemaOption, damaged.schema.toDDL)
          .mode("append").save(path)
        CommitLog.enable(path, Dsv2Parquet.readConf)
        val baseDf = MvSyncDemo.baseDf(spark, dir)
        // change feeds: 4 files per side → 8 micro-batches, so the
        // stateful operator genuinely merges across triggers
        baseDf.selectExpr(damaged.columns.toIndexedSeq: _*)
          .repartition(4).write.parquet(s"$tmp/feed/base")
        spark.read.format(fmt).load(path)
          .repartition(4).write.parquet(s"$tmp/feed/mv")
        def feed(p: String) = spark.readStream.schema(damaged.schema)
          .option("maxFilesPerTrigger", "1").parquet(p)
        val updates = StreamingReconciler.monitor(
          feed(s"$tmp/feed/base"), feed(s"$tmp/feed/mv"),
          MvSyncDemo.baseSchema, MvSyncDemo.mvSchema).toDF()
        val q = updates.writeStream.outputMode("update")
          .format("memory").queryName(sink).start()
        try q.processAllAvailable() finally q.stop()
        // settle: the max-seq update per key is its final classification
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("key").orderBy(col("seq").desc)
        val keyParts = split(col("key"), "\\|")
        val settled = spark.table(sink)
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(keyParts.getItem(0).cast("bigint").as("o_custkey"),
            keyParts.getItem(1).cast("bigint").as("o_orderkey"),
            col("problem"))
          .localCheckpoint()
        val pk = Seq("o_custkey", "o_orderkey")
        val deleteKeys = settled.filter(col("problem")
          .isin("MISSING_IN_BASE_TABLE", "INCONSISTENT")).select(pk.map(col): _*)
        val insertKeys = settled.filter(col("problem")
          .isin("MISSING_IN_MV_TABLE", "INCONSISTENT")).select(pk.map(col): _*)
        val inserts = baseDf.selectExpr(damaged.columns.toIndexedSeq: _*)
          .join(insertKeys, pk, "left_semi")
        EqualityRepair.commit(spark, path, pk, deleteKeys, inserts)
        require(CommitLog.latest(path, Dsv2Parquet.readConf)
            .get.eqFiles.nonEmpty,
          "recon_post_repair_eq_stream: no equality sidecars landed")
        MvReconciler.reconcile(baseDf, spark.read.format(fmt).load(path),
          MvSyncDemo.baseSchema, MvSyncDemo.mvSchema, Trusted)
          .groupBy("problem").agg(count(lit(1)).as("n"))
          .localCheckpoint()
      } finally spark.catalog.dropTempView(sink): Unit
    }
  }

  /** TIME TRAVEL under the oracle (the commit log's read face): the
   * merge-on-read MERGE repair runs on a COMMIT-LOGGED table, then the
   * scan pins `VERSION AS OF` the pre-repair manifest and must
   * classify the DAMAGED state byte-for-byte — the reference's
   * verification re-read (DBOperations.java:61-70) lifted to table
   * granularity: a repair's pre-image stays queryable AFTER the repair
   * landed, because logged commits retire files logically instead of
   * deleting them. Shares recon_stats' oracle SQL verbatim. The
   * require()s pin that the travel crosses a real mutation: deletion
   * vectors were written, a new version published, and the CURRENT
   * read is fully repaired while the pinned read still sees the
   * damage. */
  def reconTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Dsv2WriteProbe
    withCatalog(spark, "gtt") { (cat, tmp) =>
      val damaged = MvSyncDemo.mvDf(spark, dir)
      spark.sql(
        s"""CREATE TABLE $cat.db.mv (${damaged.schema.toDDL})
           |TBLPROPERTIES ('graft.merge.mode'='merge-on-read',
           |               'graft.commit.log'='true')""".stripMargin)
      damaged.writeTo(s"$cat.db.mv").append()
      val path = s"$tmp/db/mv"
      val preRepair = CommitLog.latest(path, Dsv2Parquet.readConf).get.version
      mergeBaseIntoMv(spark, dir, cat, damaged.columns.toIndexedSeq)
      val probe = Dsv2WriteProbe.forPath(path)
      require(probe.lastDvPositions.get() > 0,
        "recon_time_travel: the repair wrote no deletion vectors — " +
          "nothing to travel past")
      require(CommitLog.latest(path, Dsv2Parquet.readConf)
          .get.version > preRepair,
        "recon_time_travel: the repair published no new version")
      // the un-pinned read must be the REPAIRED state — the pinned
      // read below differing from it is the feature under test
      val postProblems = MvReconciler.reconcile(
        MvSyncDemo.baseDf(spark, dir), spark.table(s"$cat.db.mv"),
        MvSyncDemo.baseSchema, MvSyncDemo.mvSchema, Trusted)
        .filter(col("problem") =!= "CONSISTENT").count()
      require(postProblems == 0L,
        s"recon_time_travel: $postProblems problems survived the repair")
      MvReconciler.reconcile(
        MvSyncDemo.baseDf(spark, dir),
        spark.sql(s"SELECT * FROM $cat.db.mv VERSION AS OF $preRepair"),
        MvSyncDemo.baseSchema, MvSyncDemo.mvSchema, Trusted)
        .groupBy("problem").agg(count(lit(1)).as("n"))
        .localCheckpoint()
    }
  }

  /** The FULL 22-type diff matrix under the ORACLE (not just specs):
   * classify the [[AllTypesFixture]] base/MV pair — blob deep-equals,
   * map/set sort-canonicalization (order-permuted on EVERY common row),
   * one-sided-null text, epoch-millis timestamp rendering, float
   * rendering, and the canonical string/long/decimal encodings of the
   * non-native CQL types (inet/uuid/timeuuid/time/varint, SURVEY §1.2).
   * The fixture is self-generating from `spark.range`, so `dir` is
   * unused — both engines derive identical rows independently. */
  def reconClassifyAllTypes(spark: SparkSession, dir: String): DataFrame =
    MvReconciler.reconcile(
      AllTypesFixture.base(spark), AllTypesFixture.mv(spark),
      AllTypesFixture.schema, AllTypesFixture.schema, Trusted)
      .select("id", "problem", "mismatch_col", "mismatch_base", "mismatch_mv")

  /** The FULL 22-type matrix THROUGH THE CONNECTOR: both AllTypes
   * frames written via the DSv2 writer (timestamps as MICROS int64,
   * dates as days, decimal(9,2) as unscaled int32, decimal(38,0) as
   * sign-extended FLBA, list/set as 3-level LIST, map as 3-level MAP
   * with required keys, blobs as BINARY) and read back via the DSv2
   * reader, then classified — sharing recon_classify_alltypes' oracle
   * SQL verbatim. One bit lost in any of the seven encodings and the
   * blob deep-equals / map canonicalization / epoch-millis rendering /
   * decimal mismatch strings flip rows to INCONSISTENT and the hash
   * goes red. This is the closest offline analogue of a live
   * connector's full CQL type surface (reference SURVEY §1.2). */
  def reconClassifyAllTypesDsv2(spark: SparkSession, dir: String): DataFrame = {
    val fmt = classOf[GraftParquetProvider].getName
    withTempDir("graft-alltypes-dsv2") { tmp =>
      val base = AllTypesFixture.base(spark)
      val mv = AllTypesFixture.mv(spark)
      base.write.format(fmt).option("graft.schema", base.schema.toDDL)
        .mode("append").save(s"$tmp/base")
      mv.write.format(fmt).option("graft.schema", mv.schema.toDDL)
        .mode("append").save(s"$tmp/mv")
      // displace every 7th MV key into a fresh insert file behind a
      // position-delete DELETION VECTOR: the read-back table is
      // logically identical but merge-on-read-shaped, so the full
      // 22-type classification — including the LIST/MAP/SET columns —
      // is driver-verified THROUGH columnar DV application, not just
      // on clean files
      val conf = graft.sources.Dsv2Parquet.readConf
      val moved = spark.read.format(fmt).load(s"$tmp/mv")
        .select((col(graft.sources.Dsv2Parquet.FileMetaColumn).as("__f") +:
          col(graft.sources.Dsv2Parquet.PosMetaColumn).as("__p") +:
          mv.columns.toIndexedSeq.map(col)): _*)
        .filter(col("id") % 7 === 0)
        .localCheckpoint()
      moved.drop("__f", "__p").write.format(fmt)
        .mode("append").save(s"$tmp/mv")
      val sidecars = moved.select("__f", "__p").collect()
        .groupBy(_.getString(0)).map { case (f, rows) =>
          graft.sources.Dsv2Parquet.writeDvSidecar(
            new org.apache.hadoop.fs.Path(s"$tmp/mv"),
            new org.apache.hadoop.fs.Path(f).getName,
            rows.map(_.getLong(1)).sorted, conf)
        }
      graft.sources.CommitLog.commitUpdate(s"$tmp/mv", conf, "delta")(cur =>
        Some(cur.copy(dvFiles = cur.dvFiles ++ sidecars)))
      require(graft.sources.CommitLog.latest(s"$tmp/mv", conf)
          .exists(_.dvFiles.nonEmpty),
        "recon_classify_alltypes_dsv2: the MV table carries no DVs")
      def rd(p: String) = spark.read.format(fmt).load(p)
      MvReconciler.reconcile(
        rd(s"$tmp/base"), rd(s"$tmp/mv"),
        AllTypesFixture.schema, AllTypesFixture.schema, Trusted)
        .select("id", "problem", "mismatch_col", "mismatch_base", "mismatch_mv")
        .localCheckpoint()
    }
  }

  /**
   * The STREAMING monitor under the ORACLE: the all-types pair written
   * out as parquet change feeds and replayed through
   * [[graft.streaming.StreamingReconciler.monitor]] with
   * `maxFilesPerTrigger=1` (each side split into several files, so the
   * stateful operator genuinely merges across MULTIPLE micro-batches —
   * not one batch in streaming clothes). The settled classification
   * (max-`seq` update per key) must equal the batch
   * `recon_classify_alltypes` result, so this row shares its oracle SQL
   * verbatim — making the mapGroupsWithState path driver-verified, not
   * just spec-verified (the r9 gap: the streaming layer was the only
   * substantial component with no CORRECTNESS entry).
   *
   * The replay runs synchronously (`processAllAvailable`) into a
   * uniquely-named memory sink; the settled rows are eagerly
   * checkpointed so the sink view and the feed files can be cleaned up
   * before the caller consumes the result.
   */
  def reconStreamReplay(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingReconciler
    withTempDir("graft-stream-replay") { tmp =>
      val baseDf = AllTypesFixture.base(spark)
      val mvDf = AllTypesFixture.mv(spark)
      // 4 files per side → 8 micro-batches at maxFilesPerTrigger=1
      baseDf.repartition(4).write.parquet(s"$tmp/base")
      mvDf.repartition(4).write.parquet(s"$tmp/mv")
      def feed(path: String, schema: org.apache.spark.sql.types.StructType) =
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(path)
      val updates = StreamingReconciler.monitor(
        feed(s"$tmp/base", baseDf.schema), feed(s"$tmp/mv", mvDf.schema),
        AllTypesFixture.schema, AllTypesFixture.schema).toDF()
      val sink = s"graft_stream_replay_${java.lang.Long.toHexString(System.nanoTime())}"
      val q = updates.writeStream.outputMode("update")
        .format("memory").queryName(sink).start()
      try q.processAllAvailable() finally q.stop()
      // settle: the max-seq update per key is the key's current state
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("key").orderBy(col("seq").desc)
      val settled = spark.table(sink)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("key").cast("bigint").as("id"), col("problem"),
          col("mismatch_col"), col("mismatch_base"), col("mismatch_mv"))
        .localCheckpoint()
      spark.catalog.dropTempView(sink)
      settled
    }
  }

  /** The STREAMING read through the DataSource V2 seam — the third
   * face of the connector API (after recon_classify_dsv2's batch read
   * and recon_post_repair_dsv2's write): both sides of the MvSyncDemo
   * pair replayed as micro-batch CHANGE FEEDS through the provider's
   * `MicroBatchStream` (row-group offsets, persisted file-order log,
   * `graft.maxRowGroupsPerTrigger=1` so each 4-file side genuinely
   * spans multiple micro-batches) into the stateful
   * [[graft.streaming.StreamingReconciler.monitor]]. The settled
   * max-seq classification per key, with the composite PK split back
   * out of the reconciler's key string, must equal the BATCH
   * classification — the row shares recon_classify's oracle verbatim,
   * so a hash match proves the streaming scan forwarded every row
   * group exactly once with exact values. */
  def reconStreamDsv2(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingReconciler
    val fmt = classOf[GraftParquetProvider].getName
    withTempDir("graft-stream-dsv2") { tmp =>
      val baseDf = MvSyncDemo.baseDf(spark, dir)
      val mvDf = MvSyncDemo.mvDf(spark, dir)
      baseDf.repartition(4).write.parquet(s"$tmp/base")
      mvDf.repartition(4).write.parquet(s"$tmp/mv")
      def feed(path: String) = spark.readStream.format(fmt)
        .option("graft.maxRowGroupsPerTrigger", "1")
        .load(path)
      val updates = StreamingReconciler.monitor(
        feed(s"$tmp/base"), feed(s"$tmp/mv"),
        MvSyncDemo.baseSchema, MvSyncDemo.mvSchema).toDF()
      val sink = s"graft_stream_dsv2_${java.lang.Long.toHexString(System.nanoTime())}"
      val q = updates.writeStream.outputMode("update")
        .format("memory").queryName(sink)
        .option("checkpointLocation", s"$tmp/ckpt").start()
      try q.processAllAvailable() finally q.stop()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("key").orderBy(col("seq").desc)
      val settled = spark.table(sink)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        // key = concat_ws("|", sorted pk) = "o_custkey|o_orderkey"
        .select(
          split(col("key"), "\\|").getItem(0).cast("bigint").as("o_custkey"),
          split(col("key"), "\\|").getItem(1).cast("bigint").as("o_orderkey"),
          col("problem"), col("mismatch_col"))
        .localCheckpoint()
      spark.catalog.dropTempView(sink)
      settled
    }
  }

  /** The BOUNDED-STATE streaming reconciler under the ORACLE — the
   * 100 TB deployment shape ([[graft.streaming.StreamingReconciler
   * .monitorEvicting]]): keyed state is EVICTED once the event-time
   * watermark passes a key's last activity + retention, so state
   * tracks the actively-changing key set, not the table. The replay
   * gives every (side, slice) a DISTINCT event time (base slice i at
   * t0+2i min, MV at t0+2i+1 min — seq is event-time-anchored, so
   * distinct times make the max-seq settle tie-free by construction)
   * with retention 10 min ≫ the replay's watermark steps (no
   * mid-replay eviction can race a key's second side), then two
   * far-future sentinel batches on BOTH feeds (the union watermark is
   * the min across inputs) push the watermark past every real key's
   * deadline. The require() pins that EVERY real key was actually
   * evicted — the settled classification (max-seq non-EVICTED update
   * per key) must still equal the batch classify, so the row shares
   * recon_classify's oracle SQL verbatim: eviction must lose no
   * classification and resurrect no stale state. */
  def reconStreamEvict(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingReconciler
    withTempDir("graft-stream-evict") { tmp =>
      val T0 = 1577836800L // 2020-01-01 UTC
      def withTs(df: DataFrame, sideOffset: Int): DataFrame =
        df.withColumn("_event_ts", timestamp_seconds(
          lit(T0) + (col("o_orderkey") % 4) * 120L + sideOffset * 60L))
      val base = withTs(MvSyncDemo.baseDf(spark, dir), 0)
      val mv = withTs(MvSyncDemo.mvDf(spark, dir), 1)
      def sentinel(df: DataFrame, atSec: Long): DataFrame =
        df.limit(1)
          .withColumn("o_custkey", lit(-1L))
          .withColumn("o_orderkey", lit(-1L))
          .withColumn("_event_ts", timestamp_seconds(lit(T0 + atSec)))
      // per-side ordered feed: slice files 0-3, then two sentinel
      // batches at +1h/+2h whose watermark evicts every real key
      def writeFeed(df: DataFrame, path: String): Unit = {
        val stamped = scala.collection.mutable.Set[String]()
        val baseMs = System.currentTimeMillis()
        def slice(part: DataFrame, seq: Int): Unit = {
          part.coalesce(1).write.mode("append").parquet(path)
          new java.io.File(path).listFiles()
            .filter(f => f.isFile && f.getName.endsWith(".parquet") &&
              !stamped(f.getName))
            .foreach { f =>
              f.setLastModified(baseMs + seq * 1000L): Unit
              stamped += f.getName
            }
        }
        (0 to 3).foreach(i => slice(df.filter(col("o_orderkey") % 4 === i), i))
        slice(sentinel(df, 3600L), 4)
        slice(sentinel(df, 7200L), 5)
      }
      writeFeed(base, s"$tmp/base")
      writeFeed(mv, s"$tmp/mv")
      def feed(path: String, schema: org.apache.spark.sql.types.StructType) =
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(path).withWatermark("_event_ts", "0 seconds")
      val updates = StreamingReconciler.monitorEvicting(
        feed(s"$tmp/base", base.schema), feed(s"$tmp/mv", mv.schema),
        MvSyncDemo.baseSchema, MvSyncDemo.mvSchema,
        idleRetentionMs = 600000L).toDF()
      val sink = s"graft_stream_evict_${java.lang.Long.toHexString(System.nanoTime())}"
      val q = updates.writeStream.outputMode("update")
        .format("memory").queryName(sink)
        .option("checkpointLocation", s"$tmp/ckpt").start()
      try q.processAllAvailable() finally q.stop()
      val t = spark.table(sink).filter(col("key") =!= "-1|-1")
        .localCheckpoint()
      val nKeys = t.select("key").distinct().count()
      val nEvicted = t.filter(col("problem") === StreamingReconciler.Evicted)
        .select("key").distinct().count()
      require(nEvicted == nKeys,
        s"recon_stream_evict: only $nEvicted of $nKeys keys were evicted " +
          "— the bounded-state path did not engage for the full key set")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("key").orderBy(col("seq").desc)
      val settled = t.filter(col("problem") =!= StreamingReconciler.Evicted)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(
          split(col("key"), "\\|").getItem(0).cast("bigint").as("o_custkey"),
          split(col("key"), "\\|").getItem(1).cast("bigint").as("o_orderkey"),
          col("problem"), col("mismatch_col"))
        .localCheckpoint()
      spark.catalog.dropTempView(sink)
      settled
    }
  }

  /** Operator O's report format under the ORACLE: the exact
   * `MVInconsistentRow.toString` string (MVInconsistentRow.java:31-52 —
   * Problem/RowKey/MainTableEntry/MVTableEntry lines + Base/MvColumn
   * for INCONSISTENT) for every reported key of the all-types pair,
   * restated in DuckDB as pure string SQL. This is the same generated
   * Column the file sink writes (ReportWriter), so a green row pins the
   * report files' contents, not just the spec goldens. */
  def reconReportLines(spark: SparkSession, dir: String): DataFrame = {
    val classified = MvReconciler.reconcile(
      AllTypesFixture.base(spark), AllTypesFixture.mv(spark),
      AllTypesFixture.schema, AllTypesFixture.schema, Trusted)
    ReportWriter.damaged(classified)
      .select(col("id"), col(MvReconciler.ProblemCol).as("problem"),
        ReportFormatter.reportColumn(AllTypesFixture.schema, AllTypesFixture.schema,
          classified.columns.toSet).as("report"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "recon_classify" -> reconClassify,
    "recon_classify_csv" -> reconClassifyCsv,
    "recon_classify_json" -> reconClassifyJson,
    "recon_classify_dsv2" -> reconClassifyDsv2,
    "dsv2_agg_pushdown" -> dsv2AggPushdown,
    "dsv2_limit_pushdown" -> dsv2LimitPushdown,
    "dsv2_ordered_write" -> dsv2OrderedWrite,
    "dsv2_delete_where" -> dsv2DeleteWhere,
    "dsv2_metadata_columns" -> dsv2MetadataColumns,
    "dsv2_overwrite_where" -> dsv2OverwriteWhere,
    "recon_classify_throttled" -> reconClassifyThrottled,
    "recon_classify_bucketed" -> reconClassifyBucketed,
    "recon_classify_bucketed_dsv2" -> reconClassifyBucketedDsv2,
    "recon_classify_alltypes" -> reconClassifyAllTypes,
    "recon_classify_alltypes_dsv2" -> reconClassifyAllTypesDsv2,
    "recon_stream_replay" -> reconStreamReplay,
    "recon_stream_dsv2" -> reconStreamDsv2,
    "recon_stream_evict" -> reconStreamEvict,
    "recon_report_lines" -> reconReportLines,
    "recon_stats" -> reconStats,
    "recon_stats_line" -> reconStatsLine,
    "recon_observe" -> reconObserve,
    "recon_timescope" -> reconTimescope,
    "recon_repair_plan" -> reconRepairPlan,
    "recon_repair_plan_guarded" -> reconRepairPlanGuarded,
    "recon_repair_plan_latestts" -> reconRepairPlanLatestTs,
    "recon_post_repair" -> reconPostRepair,
    "recon_post_repair_dsv2" -> reconPostRepairDsv2,
    "recon_post_repair_merge" -> reconPostRepairMerge,
    "recon_post_repair_mor" -> reconPostRepairMor,
    "recon_post_repair_eq" -> reconPostRepairEq,
    "recon_post_repair_eq_stream" -> reconPostRepairEqStream,
    "recon_time_travel" -> reconTimeTravel)

  val oracleSql: Map[String, String] = Map(
    "recon_classify" ->
      (Cte + "SELECT o_custkey, o_orderkey, problem, mismatch_col FROM classified"),
    // same oracle as recon_classify: the CSV round-trip must be invisible
    "recon_classify_csv" ->
      (Cte + "SELECT o_custkey, o_orderkey, problem, mismatch_col FROM classified"),
    // same oracle again: the JSON round-trip must be invisible too
    "recon_classify_json" ->
      (Cte + "SELECT o_custkey, o_orderkey, problem, mismatch_col FROM classified"),
    // same oracle again: the DataSource V2 read path (pruneColumns +
    // pushFilters into the parquet reader) must be invisible
    "recon_classify_dsv2" ->
      (Cte + "SELECT o_custkey, o_orderkey, problem, mismatch_col FROM classified"),
    // same oracle again: the DSv2 MICRO-BATCH read + stateful settle
    // must land exactly where the batch classify does
    "recon_stream_dsv2" ->
      (Cte + "SELECT o_custkey, o_orderkey, problem, mismatch_col FROM classified"),
    // same oracle again: bounded-state eviction must lose no
    // classification (every key require()d evicted)
    "recon_stream_evict" ->
      (Cte + "SELECT o_custkey, o_orderkey, problem, mismatch_col FROM classified"),
    // the footer-served aggregates must equal the real ones
    "dsv2_agg_pushdown" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
           min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
           CAST(count(o_custkey) AS BIGINT) AS n_cust
         FROM orders""",
    // the limited count is deterministic (any 500 rows count as 500);
    // the real verification is the require()d row-group truncation and
    // the Dsv2LimitSpec exactness tests
    "dsv2_limit_pushdown" ->
      """SELECT CAST(least(500, (SELECT count(*) FROM orders)) AS BIGINT)
           AS n_rows""",
    // every key survives the sink-demanded range exchange + sort +
    // two-phase commit, exactly once
    "dsv2_ordered_write" -> "SELECT o_orderkey FROM orders",
    // the metadata delete removes exactly the proven band
    "dsv2_delete_where" ->
      "SELECT o_orderkey FROM orders WHERE o_orderkey > 1000",
    // the overwrite replaces exactly the proven band: upper band
    // untouched, lower band becomes the overwrite payload
    "dsv2_overwrite_where" ->
      """SELECT o_orderkey FROM orders
        |WHERE o_orderkey > 1000 OR o_orderkey <= 500""".stripMargin,
    // both spellings of the provenance surface equal the derivation
    "dsv2_metadata_columns" ->
      (Cte + """SELECT o_custkey, o_orderkey, wt AS wt_meta, wt AS wt_wide,
               |       ttl AS ttl_meta, ttl AS ttl_wide
               |FROM base""".stripMargin),
    // same oracle again: the rate limiter must be row-transparent
    "recon_classify_throttled" ->
      (Cte + "SELECT o_custkey, o_orderkey, problem, mismatch_col FROM classified"),
    // same oracle again: the zero-exchange bucketed plan must compute
    // the identical classification
    "recon_classify_bucketed" ->
      (Cte + "SELECT o_custkey, o_orderkey, problem, mismatch_col FROM classified"),
    // same oracle again: the exchange-free storage-partitioned-join
    // plan through the connector must compute the identical
    // classification
    "recon_classify_bucketed_dsv2" ->
      (Cte + "SELECT o_custkey, o_orderkey, problem, mismatch_col FROM classified"),
    "recon_classify_alltypes" -> AllTypesFixture.oracleSql,
    // same oracle: the seven DSv2 type encodings must be invisible
    "recon_classify_alltypes_dsv2" -> AllTypesFixture.oracleSql,
    // the streaming replay settles to the SAME classification the batch
    // path computes — one oracle pins both
    "recon_stream_replay" -> AllTypesFixture.oracleSql,
    "recon_report_lines" -> AllTypesFixture.reportOracleSql,
    "recon_stats" ->
      (Cte + "SELECT problem, CAST(count(*) AS BIGINT) AS n FROM classified GROUP BY problem"),
    // same oracle as recon_stats: after the MoR repair on a
    // commit-logged table, VERSION AS OF the pre-repair manifest must
    // serve the DAMAGED classification byte-for-byte
    "recon_time_travel" ->
      (Cte + "SELECT problem, CAST(count(*) AS BIGINT) AS n FROM classified GROUP BY problem"),
    // the reference stats LINE rebuilt as one string: all-fix-flags
    // arithmetic (del = missing-in-base, upsert = missing-in-mv +
    // inconsistent; the offline sink never errs)
    "recon_stats_line" ->
      (Cte + """, c AS (SELECT count(*) AS tot,
        count(*) FILTER (WHERE problem = 'CONSISTENT') AS cons,
        count(*) FILTER (WHERE problem = 'INCONSISTENT') AS inc,
        count(*) FILTER (WHERE problem = 'MISSING_IN_BASE_TABLE') AS mb,
        count(*) FILTER (WHERE problem = 'MISSING_IN_MV_TABLE') AS mm
        FROM classified)
      SELECT 'totRecords: ' || tot || ', skippedRecords: 0, consistentRecords: '
        || cons || ', inConsistentRecords: ' || inc
        || ', missingBaseTableRecords: ' || mb || ', missingMvRecords: ' || mm
        || ', repairRecords: ' || (mb + mm + inc) || ', notRepairRecords: 0'
        || ', delAttemptedRecords: ' || mb || ', delErrRecords: 0'
        || ', delSuccessRecords: ' || mb || ', notDelRecords: 0'
        || ', upsertAttemptedRecords: ' || (mm + inc) || ', upsertErrRecords: 0'
        || ', upsertSuccessRecords: ' || (mm + inc) AS stats_line
      FROM c"""),
    // the observe-channel metrics must equal a direct recount
    "recon_observe" ->
      (Cte + """SELECT count(*) AS tot_records,
        count(*) FILTER (WHERE problem = 'CONSISTENT') AS n_consistent,
        count(*) FILTER (WHERE problem = 'INCONSISTENT') AS n_inconsistent,
        count(*) FILTER (WHERE problem = 'MISSING_IN_BASE_TABLE') AS n_missing_base,
        count(*) FILTER (WHERE problem = 'MISSING_IN_MV_TABLE') AS n_missing_mv
      FROM classified"""),
    "recon_timescope" ->
      (Cte +
        """SELECT CASE WHEN (b_wt < 820454400000000 OR b_wt > 915148800000000)
          |         OR (m_wt2 < 820454400000000 OR m_wt2 > 915148800000000)
          |       THEN 'NOT_IN_SCOPE' ELSE problem END AS problem,
          |       CAST(count(*) AS BIGINT) AS n
          |FROM (SELECT c.*, j.m_wt AS m_wt2 FROM classified c
          |      JOIN joined j USING (o_custkey, o_orderkey))
          |GROUP BY 1""".stripMargin),
    "recon_post_repair" ->
      """SELECT 'CONSISTENT' AS problem, CAST(count(*) AS BIGINT) AS n
        |FROM orders WHERE o_orderkey % 97 <> 0""".stripMargin,
    // same oracle: the DSv2 write (append + overwrite-as-truncate) and
    // read-back must be invisible around the repair
    "recon_post_repair_dsv2" ->
      """SELECT 'CONSISTENT' AS problem, CAST(count(*) AS BIGINT) AS n
        |FROM orders WHERE o_orderkey % 97 <> 0""".stripMargin,
    // same oracle again: the ONE-STATEMENT MERGE repair through the
    // row-level-operations API must land the identical repaired state
    "recon_post_repair_merge" ->
      """SELECT 'CONSISTENT' AS problem, CAST(count(*) AS BIGINT) AS n
        |FROM orders WHERE o_orderkey % 97 <> 0""".stripMargin,
    // same oracle once more: the MERGE-ON-READ face (deletion vectors
    // + insert files, zero file rewrites) must read back identical
    "recon_post_repair_mor" ->
      """SELECT 'CONSISTENT' AS problem, CAST(count(*) AS BIGINT) AS n
        |FROM orders WHERE o_orderkey % 97 <> 0""".stripMargin,
    // and once more: the EQUALITY-DELETE face (key sidecars + insert
    // files — the repair path that needs no _file/_pos knowledge)
    "recon_post_repair_eq" ->
      """SELECT 'CONSISTENT' AS problem, CAST(count(*) AS BIGINT) AS n
        |FROM orders WHERE o_orderkey % 97 <> 0""".stripMargin,
    // and the streaming twin: the continuous monitor classifies, the
    // equality commit repairs — key-only knowledge end to end
    "recon_post_repair_eq_stream" ->
      """SELECT 'CONSISTENT' AS problem, CAST(count(*) AS BIGINT) AS n
        |FROM orders WHERE o_orderkey % 97 <> 0""".stripMargin,
    "recon_repair_plan" -> planOracle(
      writetime = "b_wt",
      flavor = "CASE WHEN b_ttl IS NOT NULL THEN 'TIMESTAMP_TTL' ELSE 'TIMESTAMP' END"),
    // guard against the full orders table: every orphan key reappears →
    // zero DELETEs survive, upserts unchanged
    "recon_repair_plan_guarded" -> planOracle(
      writetime = "b_wt",
      flavor = "CASE WHEN b_ttl IS NOT NULL THEN 'TIMESTAMP_TTL' ELSE 'TIMESTAMP' END",
      includeDeletes = false),
    "recon_repair_plan_latestts" -> planOracle(
      writetime = "CAST(NULL AS BIGINT)",
      flavor = "CASE WHEN b_ttl IS NOT NULL THEN 'TTL' ELSE 'NO_TIMESTAMP_TTL' END"))

  /** Repair-plan oracle body, parameterized by the flavor policy —
   * `uselatestts` flips only the timestamp half of the flavor matrix
   * (reference DBOperations.java:250-262) — and by whether DELETE rows
   * survive (the race-guarded plan drops them all). */
  private def planOracle(writetime: String, flavor: String,
      includeDeletes: Boolean = true): String =
    Cte +
      s""", upserts AS (
         |  SELECT o_custkey, o_orderkey, 'UPSERT' AS op, u.col AS "column",
         |         u.val AS value, $writetime AS writetime, b_ttl AS ttl,
         |         $flavor AS flavor
         |  FROM classified,
         |  LATERAL (VALUES ('o_orderpriority', b_pri, m_pri),
         |                  ('o_orderstatus', b_st, m_st),
         |                  ('o_totalprice', CAST(b_tp AS VARCHAR), CAST(m_tp AS VARCHAR)))
         |    AS u(col, val, mval)
         |  WHERE problem IN ('MISSING_IN_MV_TABLE', 'INCONSISTENT')
         |    AND (problem = 'MISSING_IN_MV_TABLE' OR u.val IS DISTINCT FROM u.mval)),
         |deletes AS (
         |  SELECT o_custkey, o_orderkey, 'DELETE' AS op,
         |         CAST(NULL AS VARCHAR) AS "column", CAST(NULL AS VARCHAR) AS value,
         |         CAST(NULL AS BIGINT) AS writetime, CAST(NULL AS INTEGER) AS ttl,
         |         CAST(NULL AS VARCHAR) AS flavor
         |  FROM classified WHERE problem = 'MISSING_IN_BASE_TABLE')
         |SELECT * FROM upserts""".stripMargin +
      (if (includeDeletes) " UNION ALL SELECT * FROM deletes" else "")
}
