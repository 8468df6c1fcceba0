package graft
import graft.obs.Sessions
import org.apache.logging.log4j.LogManager
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  private val logger = LogManager.getLogger(getClass)
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // builder-side: optional trailing query names restrict the dump
    // (fast single-query iteration); the driver always passes 2 args.
    // oracle_sql.json is still written in FULL, so a filtered run into a
    // reused outDir would leave other queries' parquet from an older
    // build — those directories get a _STALE_BUILD marker below, which
    // tools/check_oracle.py refuses, so a mixed-build compare can never
    // silently pass. A later run of a query overwrites its directory
    // (mode overwrite), clearing the marker.
    val only = args.drop(2).toSet
    val spark = Sessions.create("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        logger.warn(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    if (only.nonEmpty)
      SparkEntry.queries.keysIterator.filterNot(only).foreach { name =>
        val dir = Paths.get(outDir, name)
        if (Files.isDirectory(dir))
          Files.writeString(dir.resolve("_STALE_BUILD"),
            s"not regenerated by the filtered run for: ${only.mkString(" ")}\n")
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
