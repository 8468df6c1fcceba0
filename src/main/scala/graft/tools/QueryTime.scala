package graft.tools

import graft.SparkEntry
import graft.obs.Sessions

/** Targeted query timer: times named queries with the bench's exact
 * methodology (the [[graft.obs.Sessions]] session, untimed warmup, noop
 * sink, median of 3) so a single operator's before/after can be
 * measured without a full sweep.
 *
 * `--cold` (r22, VERDICT #4): clear the in-JVM model/dictionary memos
 * (ModelCache.memo, Curation dictMemo/acMemo) before EVERY run —
 * warmup included, so JIT stays warm but each timed run pays the
 * memo-MISS cost (artifact re-read + driver model rebuild, or decon
 * dictionary derivation + automaton compile + broadcast). Reported
 * next to the default (memo-HIT) numbers in OPTIMIZATION_r22.md so
 * the amortized bench lines never become the only record. Persisted
 * GRAFT_*_CACHE artifacts are NOT cleared — launch with those roots
 * pointed at a fresh directory for fit-inclusive cold numbers.
 *
 * Usage: runMain graft.tools.QueryTime [--cold] <query> [query...]
 */
object QueryTime {
  def main(rawArgs: Array[String]): Unit = {
    val cold = rawArgs.contains("--cold")
    val args = rawArgs.filterNot(_ == "--cold")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.create("graft-querytime")
    def clearMemos(): Unit = {
      graft.sources.ModelCache.clearMemo()
      graft.operators.Curation.clearDictMemo()
    }
    def run(n: String): Unit =
      SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    def timed(n: String): Double = {
      val t0 = System.nanoTime(); run(n); (System.nanoTime() - t0) / 1e9
    }
    args.foreach { n =>
      spark.sparkContext.setJobDescription(s"qt: $n")
      run(n) // warmup (JIT, codegen, fixture builds, model-cache fills)
      if (cold) {
        // cold and warm runs INTERLEAVED in one session (cross-session
        // drift on this host is ±20-30%, BASELINE.md — a two-session
        // cold/warm pair would measure the weather, not the memo)
        val pairs = (1 to 3).map { _ =>
          clearMemos()
          val c = timed(n) // memo-MISS: artifact re-read/dict re-derive
          val w = timed(n) // memo-HIT on the state the cold run rebuilt
          (c, w)
        }
        val cs = pairs.map(_._1).sorted
        val ws = pairs.map(_._2).sorted
        println(f"[qt-cold] $n%-34s cold=${cs(1)}%6.3fs warm=${ws(1)}%6.3fs" +
          f" (cold: ${cs.map(t => f"$t%.3f").mkString(", ")};" +
          f" warm: ${ws.map(t => f"$t%.3f").mkString(", ")})")
      } else {
        val ts = (1 to 3).map(_ => timed(n)).sorted
        println(f"[qt] $n%-34s median=${ts(1)}%6.3fs (${
          ts.map(t => f"$t%.3f").mkString(", ")})")
      }
    }
    spark.stop()
  }
}
