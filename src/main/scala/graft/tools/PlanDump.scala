package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Plan snapshot tool (builder-side, r21 optimization round): writes
 * `.explain("formatted")` of the named queries to
 * `plans/<tag>/<name>_<suffix>.txt` under the repo root, with the SAME
 * session configuration the bench uses (master local[$SPARK_GRAFT_CPUS],
 * shuffle.partitions = cpus, AQE on) so the captured plans are the
 * bench's plans, not a 4-core approximation.
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
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = java.nio.file.Paths.get("plans", tag)
    java.nio.file.Files.createDirectories(dir)
    // extra plan targets beyond SparkEntry.queries: the r21 mm_* BEFORE
    // shapes (decode over the in-line encode, the code path the fixture
    // materialization replaced — still constructible from the builders)
    val extra: Map[String, (SparkSession, String) =>
        org.apache.spark.sql.DataFrame] = Map(
      "mm_decode_inline_encode" -> ((s, d) =>
        graft.operators.Multimodal.decodeImages(
          graft.operators.Multimodal.pngMediaTable(s, d)).toDF()),
      "mm_decode_wav_inline_encode" -> ((s, d) =>
        graft.operators.Multimodal.decodeAudio(
          graft.operators.Multimodal.wavMediaTable(s, d)).toDF()),
      "mm_resize_decode_inline_encode" -> ((s, d) =>
        graft.operators.Multimodal.resizeDecoded(
          graft.operators.Multimodal.pngMediaTable(s, d)).toDF()))
    names.foreach { n =>
      val df = extra.getOrElse(n, SparkEntry.queries(n))(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.writeString(dir.resolve(s"${n}_$suffix.txt"), txt)
      println(s"[plandump] wrote ${dir.resolve(s"${n}_$suffix.txt")}")
    }
    spark.stop()
  }
}
