package graft.tools

import graft.SparkEntry
import graft.obs.Sessions

/** Plan snapshot tool: writes `.explain("formatted")` of the named
 * queries to `plans/<tag>/<name>_<suffix>.txt` under the working
 * directory, from a [[graft.obs.Sessions]] session — the one Bench
 * measures in, so the captured plans are the bench's plans. RDD call
 * sites are written as `at <site>`.
 *
 * Usage: runMain graft.tools.PlanDump <tag> <suffix> <query> [query...]
 */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <tag> <suffix> <query>...")
    val tag = args(0)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.create("graft-plandump")
    val dir = java.nio.file.Paths.get("plans", tag)
    java.nio.file.Files.createDirectories(dir)
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      // an RDD's call site (`localCheckpoint at Dedup.scala:306`) moves
      // with any edit above it; normalized, a diff of two dumps shows
      // only plan changes
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        .replaceAll("""at \w+\.scala:\d+""", "at <site>")
      java.nio.file.Files.writeString(dir.resolve(s"${n}_$suffix.txt"), txt)
      println(s"[plandump] wrote ${dir.resolve(s"${n}_$suffix.txt")}")
    }
    spark.stop()
  }
}
