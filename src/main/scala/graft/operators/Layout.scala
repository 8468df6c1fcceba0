package graft.operators

import graft.functions.LayoutFunctions.morton2
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Write-side data layout — how fast every LATER query runs at 100 TB
 * depends on it.
 *
 *  - [[clusterByZOrder]]: cluster on the Morton interleave of two key
 *    columns (codegen'd [[graft.functions.Morton2]] kernel), so filters
 *    on EITHER column prune through parquet row-group min/max
 *    statistics, at a modest cost to each single column's clustering
 *    (Delta/Iceberg OPTIMIZE ZORDER semantics). A one-key range layout
 *    is the graft writer's `graft.orderBy` option, and small-file
 *    compaction of a graft table is `CALL <cat>.system.compact_table`.
 *
 * Clustering never changes row contents — `q_zorder_values`
 * oracle-checks the Morton kernel itself value-level; LayoutSpec
 * asserts the layout property (disjoint per-file Morton ranges, row
 * preservation).
 */
object Layout {

  /** Z-order-cluster `df` on two integral key columns via their Morton
   * code. The code column is used for partitioning and intra-file order
   * only — it is not added to the output schema. */
  def clusterByZOrder(df: DataFrame, partitions: Int, x: Column, y: Column): DataFrame = {
    val z = morton2(x.cast("long"), y.cast("long"))
    df.repartitionByRange(partitions, z).sortWithinPartitions(z)
  }

  /** Oracle-checked Morton kernel query: the z-value of every document's
   * (doc_id, n_chars) pair — DuckDB restates the interleave as a 32-step
   * bit fold. */
  def qZorderValues(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("n_chars"),
        morton2(col("doc_id"), col("n_chars")).as("zvalue"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_zorder_values" -> qZorderValues)

  // NOTE: the fold's i=31 odd-bit term shifts <<63; DuckDB evaluates it
  // via HUGEINT promotion where Scala wraps into the long sign bit, so
  // the two agree only while doc_id and n_chars stay below 2^31. That
  // holds for doc ids and char counts at any testdata SF (and for any
  // realistic per-doc char count); a key domain reaching 2^31 would need
  // a pre-mask on BOTH sides, not a wider fold.
  val oracleSql: Map[String, String] = Map(
    "q_zorder_values" ->
      """SELECT doc_id, n_chars,
           CAST(list_sum(list_transform(range(0, 32),
             i -> (((doc_id >> i) & 1) << (2 * i))
                + (((n_chars >> i) & 1) << (2 * i + 1)))) AS BIGINT) AS zvalue
         FROM documents""")
}
