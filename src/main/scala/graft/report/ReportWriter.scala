package graft.report

import graft.config.Settings
import graft.reconcile.MvReconciler
import graft.reconcile.MvReconciler._
import graft.schema.TableSchema
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/**
 * Categorized human-readable report, format parity with the reference's
 * `MVInconsistentRow.toString` (MVInconsistentRow.java:31-52) and
 * per-category per-partition file scheme
 * `<outdir>/<CATEGORY>/<partitionId>.txt`
 * (output/MVJobOutputStreamer.java:27-62), records separated by a
 * 30-`=` line (MVJobOutputStreamer.java:70-96).
 *
 * Report layout per record:
 *   Problem: <state>
 *   RowKey: <name:TYPE:value,...>          — MV-PK sorted by name
 *                                            (RecordPrimaryKey.java:62-76)
 *   MainTableEntry: <row or null>
 *   MVTableEntry: <row or null>
 *   [BaseColumn: <col:TYPE:value>]         — only for INCONSISTENT
 *   [MvColumn: <col:TYPE:value>]             (RecordColumnInfo.java:44-52)
 *
 * One deliberate deviation: the reference renders entries via the
 * connector's `CassandraRow.toString`, whose field order is HashMap-
 * iteration order (non-deterministic across JVMs). We render the same
 * `CassandraRow{name: value, ...}` shape in sorted-name order so output
 * is stable — a strict determinism improvement, same information.
 */
object ReportFormatter {

  val Separator = "=============================="

  /** The full report string as a single generated Column (codegen'd
   * string concat — no row-at-a-time Scala in the hot path).
   *
   * @param available column names present in the classified frame — a
   *                  Cassandra scan always carries writetime/ttl
   *                  siblings, an offline parquet table may carry only
   *                  some; display fields are limited to what exists */
  def reportColumn(baseSchema: TableSchema, mvSchema: TableSchema,
      available: Set[String]): Column = {
    val pk = mvSchema.sortedPk

    // RowKey: name:TYPE:value triples; values from whichever side is
    // present (join key is coalesced by the full-outer join already).
    val rowKey = concat_ws(",", pk.map { k =>
      concat(lit(k), lit(":"), lit(mvSchema.cqlType(k)), lit(":"),
        MvReconciler.renderValue(col(k), mvSchema.cqlType(k)))
    }: _*)

    def entry(side: String, schema: TableSchema): Column = {
      // Display fields: pk + regular + writetime(c)/ttl(c), sorted by
      // display name; pk values come from the shared join-key columns.
      // Columns that are part of the MV PK are join-key columns in the
      // classified frame (shared, unprefixed); everything else carries
      // the side prefix.
      val fields: Seq[(String, Column)] =
        (pk.map(k => k -> col(k)) ++
          schema.sortedRegular.filterNot(pk.contains)
            .map(c => c -> col(s"${side}_$c")) ++
          schema.timestampedRegular.flatMap { c =>
            Seq(
              s"writetime($c)" -> s"${side}_${schema.writetimeCol(c)}",
              s"ttl($c)" -> s"${side}_${schema.ttlCol(c)}")
              .collect { case (n, cn) if available.contains(cn) => n -> col(cn) }
          }).sortBy(_._1)
      val body = concat_ws(", ", fields.map { case (n, c) =>
        concat(lit(n), lit(": "), MvReconciler.renderValue(c, schema.cqlType(n)))
      }: _*)
      when(col(s"${side}_present").isNotNull,
        concat(lit("CassandraRow{"), body, lit("}"))).otherwise(lit("null"))
    }

    // RecordColumnInfo.toString appends ":value" only when value is
    // non-null (RecordColumnInfo.java:37-46) — a one-sided-null mismatch
    // renders as bare "col:TYPE", not "col:TYPE:null".
    def colInfo(v: Column): Column = concat(
      col("mismatch_col"), lit(":"), typeOf(mvSchema),
      when(v.isNotNull, concat(lit(":"), v)).otherwise(lit("")))
    val mismatchLines =
      when(col(ProblemCol) === Inconsistent,
        concat(
          lit("\nBaseColumn: "), colInfo(col("mismatch_base")),
          lit("\nMvColumn: "), colInfo(col("mismatch_mv"))))
        .otherwise(lit(""))

    concat(
      lit("Problem: "), col(ProblemCol),
      lit("\nRowKey: "), rowKey,
      lit("\nMainTableEntry: "), entry("base", baseSchema),
      lit("\nMVTableEntry: "), entry("mv", mvSchema),
      mismatchLines)
  }

  /** CQL type of the mismatching column, resolved from its name. */
  private def typeOf(schema: TableSchema): Column = {
    val cases = schema.sortedRegular.map(c =>
      when(col("mismatch_col") === c, schema.cqlType(c)))
    if (cases.isEmpty) lit("UNKNOWN") else coalesce(cases :+ lit("UNKNOWN"): _*)
  }
}

object ReportWriter {

  /** Problem categories that get report files (MVJobOutputStreamer
   * writes only these three; CONSISTENT and skipped rows are counted,
   * not reported — MVJobOutputStreamer.java:70-82, MvSync.java:374-378). */
  val ReportedProblems: Seq[String] = Seq(MissingInBase, MissingInMv, Inconsistent)

  /** The rows that get report files: the rows that need action. */
  def damaged(classified: DataFrame): DataFrame =
    classified.filter(col(ProblemCol).isin(ReportedProblems: _*))

  /**
   * Write `<outdir>/<CATEGORY>/<partitionId>.txt` report streams +
   * `stats.txt` (MvSync.java:144-154). The per-partition fan-out runs
   * inside `foreachPartition` — each task appends only to its own
   * streams, no shuffle beyond the classify plan itself. The output
   * medium is the `factory`'s choice (the reference's pluggable
   * streamer boundary, MVJobOutputStreamFactory.java:7-11): files by
   * default, console/custom by override — exactly how the reference's
   * own end-to-end tests capture the job's reports.
   *
   * One Spark action: the category counts behind the stats line are
   * observed on the report pass itself (StatsCollector.observed).
   */
  def write(
      classified: DataFrame,
      baseSchema: TableSchema,
      mvSchema: TableSchema,
      settings: Settings,
      factory: OutputStreamFactory = new OutputStreamFactory): JobStats = {
    val (observed, obs) = StatsCollector.observed(classified)
    writeObserved(damaged(observed), obs, baseSchema, mvSchema, settings, factory)
  }

  /**
   * The report pass over `rows` (already [[damaged]]) whose plan carries
   * `obs` from StatsCollector.observed, then `stats.txt` from the
   * observed counts. The pass completes the observation unless an
   * earlier action over the same plan already did (MvSyncJob.run's
   * checkpoint).
   */
  def writeObserved(
      rows: DataFrame,
      obs: Observation,
      baseSchema: TableSchema,
      mvSchema: TableSchema,
      settings: Settings,
      factory: OutputStreamFactory = new OutputStreamFactory): JobStats = {
    val outDir = settings.outputDir
    val reported = rows.select(col(ProblemCol),
      ReportFormatter.reportColumn(baseSchema, mvSchema,
        rows.columns.toSet).as("report"))

    reported.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
      val pid = TaskContext.getPartitionId()
      val streams = scala.collection.mutable.Map.empty[String, BlobStreamer]
      try {
        it.foreach { row =>
          val problem = row.getString(0)
          val s = streams.getOrElseUpdate(problem,
            factory.getStream(s"$outDir/$problem/$pid.txt"))
          s.append(row.getString(1))
          s.append(ReportFormatter.Separator)
        }
      } finally streams.values.foreach(_.commit())
    }

    val stats = StatsCollector.fromObservation(obs, settings)
    writeStats(stats, outDir)
    stats
  }

  private def writeStats(stats: JobStats, outDir: String): Unit = {
    val statsFile = new java.io.File(outDir)
    statsFile.mkdirs()
    val pw = new java.io.PrintWriter(s"$outDir/stats.txt")
    try pw.println(stats.toString) finally pw.close()
  }
}
