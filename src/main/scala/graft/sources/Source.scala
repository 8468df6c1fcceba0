package graft.sources

import graft.config.Settings
import graft.schema.TableSchema
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/**
 * Table source abstraction (reference operator A: the connector scan,
 * MvSync.java:232-258).
 *
 * The reference reads via the Spark Cassandra connector
 * (`javaFunctions(jsc).cassandraTable(ks, table).select(cols)`,
 * MvSync.java:245-247) with token-range parallelism. This offline repo has
 * no Cassandra, so the production implementation here is Parquet; the
 * trait keeps the engine source-agnostic — a `CassandraSource` is
 * `spark.read.format("org.apache.spark.sql.cassandra")` with the same
 * projection, and nothing downstream changes.
 *
 * Projection (operator B, MvSync.java:216-230) happens via `select` so
 * Catalyst pushes column pruning into the scan (parquet ReadSchema /
 * connector-side projection).
 */
trait Source extends Serializable {
  def load(spark: SparkSession, schema: TableSchema): DataFrame
}

object Source {
  /** Shared projection (operator B): PK + regular + writetime_/ttl_
   * siblings where present in the file — applied via `select` so every
   * implementation gets Catalyst column pruning into its scan. */
  private[sources] def project(df: DataFrame, schema: TableSchema): DataFrame = {
    val want = schema.pk ++ schema.sortedRegular ++
      schema.timestampedRegular.flatMap(c =>
        Seq(schema.writetimeCol(c), schema.ttlCol(c)))
    val present = want.filter(df.columns.contains)
    df.select(present.map(org.apache.spark.sql.functions.col): _*)
  }
}

/** Parquet-backed table: path + projection to the schema's columns.
 * The read schema is [[ParquetSource.footerSchema]], so a load runs no
 * Spark job. */
final case class ParquetSource(path: String) extends Source {
  override def load(spark: SparkSession, schema: TableSchema): DataFrame =
    Source.project(
      spark.read.schema(ParquetSource.footerSchema(spark, path)).parquet(path),
      schema)
}

object ParquetSource {
  /** The schema `spark.read.parquet(path)` infers, read on the driver.
   * Spark's inference (`ParquetUtils.inferSchema` without mergeSchema,
   * no summary files) reads ONE footer, the first data file's in path
   * order, but submits a one-task Spark job to do it. This reads the
   * same footer here and converts it the same way
   * (`ParquetFileFormat.readSchemaFromFooter`: the Spark schema a Spark
   * writer stored in the footer, else `ParquetToSparkSchemaConverter`
   * under the session's conf, every field nullable). Hidden names
   * (`_x`, `.x`) are skipped as Spark's file index skips them. */
  def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def hidden(name: String): Boolean =
      name.startsWith(".") || name.startsWith("_") && !name.contains("=")
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filterNot(f => hidden(f.getPath.getName)).flatMap(leaves)
    val file = leaves(fs.getFileStatus(root)).sortBy(_.getPath.toString)
      .headOption.getOrElse(throw new IllegalArgumentException(
        s"no parquet data files under $path"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
    val footer = try reader.getFooter finally reader.close()
    GraftSqlBridge.asNullable(ParquetFileFormat.readSchemaFromFooter(
      new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
  }
}

/**
 * CSV-backed table — a second offline implementation proving the trait
 * boundary the live connector half of operator A would plug into
 * (reference MvSync.java:232-258): the reconciler is handed a
 * projected DataFrame and never learns the format.
 *
 * CSV carries no types, so the read schema is explicit (a live
 * `CassandraSource` gets it from cluster metadata the same way,
 * reference CassandraClient.java:14-68; schema inference would scan
 * every file twice — wrong at scale). Header names carry the column
 * mapping. NULL is written/read as the explicit [[CsvSource.NullMarker]]
 * so it never conflates with a genuine empty string (the r9 advice:
 * both round-tripped as "" before, silently re-classifying
 * empty-string cells).
 */
final case class CsvSource(path: String,
    readSchema: org.apache.spark.sql.types.StructType) extends Source {
  override def load(spark: SparkSession, schema: TableSchema): DataFrame =
    Source.project(
      spark.read.schema(readSchema).option("header", "true")
        .option("nullValue", CsvSource.NullMarker).option("emptyValue", "")
        .csv(path), schema)
}

object CsvSource {
  /** CSV NULL marker (the MySQL/Hive convention): writers producing
   * data for a [[CsvSource]] must pass the same `nullValue` and keep
   * Spark's default `emptyValue` (the quoted `""`), so NULL and the
   * empty string occupy distinct encodings on disk. */
  val NullMarker = "\\N"
}

/**
 * JSON-lines-backed table — a third offline implementation of the
 * trait boundary. Unlike CSV, JSON carries a native `null` literal (no
 * marker convention needed) and distinguishes it from `""` lexically;
 * like CSV it carries no column TYPES, so the read schema stays
 * explicit (inference would scan every file twice — wrong at scale,
 * and a sampled inference can mistype all-null columns). Spark's JSON
 * writer emits round-trippable doubles and ISO-8601 timestamps, which
 * the explicit schema parses back exactly under the pinned UTC
 * session.
 */
final case class JsonSource(path: String,
    readSchema: org.apache.spark.sql.types.StructType) extends Source {
  override def load(spark: SparkSession, schema: TableSchema): DataFrame =
    Source.project(spark.read.schema(readSchema).json(path), schema)
}

/**
 * Scan-rate throttle (reference operator D: a guava `RateLimiter.acquire()`
 * per row per executor, default 10 rows/s, MvSync.java:38,250-255;
 * MVSyncSettings.java:86-88).
 *
 * For the Cassandra connector the idiomatic knob is
 * `spark.cassandra.input.readsPerSec`; for generic sources this utility
 * wraps a DataFrame with a per-partition token bucket. Kept OUT of the
 * default pipeline: on a 1000-executor cluster per-worker limits multiply
 * (documented reference behavior, README.md:34), and for benchmarking the
 * throttle is disabled exactly as BASELINE.md prescribes.
 */
object Throttle {
  def perPartitionRows(df: DataFrame, rowsPerSec: Int): DataFrame = {
    if (rowsPerSec <= 0) df
    else {
      val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
        .encoderFor(df.schema)
      df.mapPartitions { it =>
        val nanosPerRow = 1000000000L / rowsPerSec
        var next = System.nanoTime()
        it.map { row =>
          val now = System.nanoTime()
          if (now < next) {
            val ms = (next - now) / 1000000L
            if (ms > 0) Thread.sleep(ms)
          }
          next = math.max(next, now) + nanosPerRow
          row
        }
      }(enc)
    }
  }
}
