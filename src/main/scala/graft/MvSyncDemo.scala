package graft

import graft.config.Settings
import graft.obs.Sessions
import graft.reconcile.MvReconciler.{Consistent, Inconsistent, MissingInBase,
  MissingInMv, NotInScope}
import graft.schema.TableSchema
import graft.sources.Source
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Runnable end-to-end example: reconcile a synthetic base/MV pair derived
 * from the driver testdata `orders` table.
 *
 * The "MV" is the base table re-keyed by (o_custkey, o_orderkey) — the
 * classic Cassandra MV pattern of promoting a regular column into the key
 * (reference README.md:54-68) — with deterministic damage injected:
 *   - keys where o_orderkey % 89 == 0 are missing from the MV,
 *   - keys where o_orderkey % 97 == 0 are missing from the base (orphans),
 *   - keys where o_orderkey % 13 == 0 have a perturbed o_totalprice,
 *   - keys where o_orderkey % 7 == 0 carry a non-null per-cell TTL, so
 *     the repair plan exercises the TTL-bearing upsert flavors
 *     (reference UpsertFlavors.java:3-8, DBOperations.java:240-387).
 *
 * Usage: sbt "runMain graft.MvSyncDemo [sfDir] [outDir]"
 */
object MvSyncDemo {

  val baseSchema: TableSchema = TableSchema(
    pk = Seq("o_orderkey"),
    types = Map("o_orderkey" -> "BIGINT", "o_custkey" -> "BIGINT",
      "o_orderstatus" -> "TEXT", "o_totalprice" -> "DOUBLE",
      "o_orderpriority" -> "TEXT"))

  val mvSchema: TableSchema = TableSchema(
    pk = Seq("o_custkey", "o_orderkey"),
    types = baseSchema.types)

  /** Base side: orders minus orphan keys, with per-cell writetime (µs from
   * o_orderdate) and ttl columns — the wide layout a Cassandra scan
   * produces (SURVEY §1.3). */
  def baseDf(spark: SparkSession, sfDir: String): DataFrame =
    widen(spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(col("o_orderkey") % 97 =!= 0), baseSchema)

  /** MV side: orders minus missing keys, price perturbed on %13 keys. */
  def mvDf(spark: SparkSession, sfDir: String): DataFrame =
    widen(spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(col("o_orderkey") % 89 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 13 === 0, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice"))), mvSchema)

  private def widen(df: DataFrame, schema: TableSchema): DataFrame = {
    val wt = unix_timestamp(col("o_orderdate")) * 1000000L
    val ttl = when(col("o_orderkey") % 7 === 0,
      (lit(86400L) + col("o_orderkey") % 1000L).cast("int"))
    val wide = schema.timestampedRegular.foldLeft(df) { (d, c) =>
      d.withColumn(schema.writetimeCol(c), wt)
        .withColumn(schema.ttlCol(c), ttl)
    }
    val cols = (schema.pk ++ schema.sortedRegular).distinct ++
      schema.timestampedRegular.flatMap(c =>
        Seq(schema.writetimeCol(c), schema.ttlCol(c)))
    wide.select(cols.map(col): _*)
  }

  private final case class DfSource(df: DataFrame) extends Source {
    override def load(spark: SparkSession, schema: TableSchema): DataFrame = df
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("/tmp/graft-mvsync-demo")
    val spark = Sessions.create("graft-mvsync-demo")

    // orders has no o_orderdate in the projected schema — re-read wide:
    val settings = Settings(
      outputDir = outDir, fixMissingMv = true, fixOrphanMv = true,
      fixInconsistentMv = true)
    val result = MvSyncJob.run(spark,
      DfSource(baseDf(spark, sfDir)), DfSource(mvDf(spark, sfDir)),
      baseSchema, mvSchema, settings)

    println("=== stats ===")
    println(result.stats.toString)
    println("=== problem counts ===")
    val st = result.stats
    Seq(Consistent -> st.consistentRecords, Inconsistent -> st.inConsistentRecords,
      MissingInBase -> st.missingBaseTableRecords, MissingInMv -> st.missingMvRecords,
      NotInScope -> st.skippedRecords)
      .foreach { case (p, n) => println(f"$p%-22s $n%d") }
    println("=== mutation plan sample ===")
    result.mutations.orderBy("o_custkey", "o_orderkey", "column").show(10, false)
    println(s"=== reports under $outDir ===")
    spark.stop()
  }
}
