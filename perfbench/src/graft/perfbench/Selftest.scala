package graft.perfbench

import java.io.File
import java.nio.file.Files
import java.security.MessageDigest

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** The benchmark's own checks of its generator and tracer, run by
 * `test_perfbench.py` through `run.py --selftest`. Writes one
 * {"checks": [{"name", "ok", "detail"}]} object to `--out`. */
object Selftest {
  private def sha(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString

  /** Sorted digests of the data files under a table directory. */
  private def dataDigests(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      .map(f => sha(Files.readAllBytes(f.toPath))).sorted

  def run(a: Main.Args): Unit = {
    val spark = Main.session(Main.nproc, a.work)
    val results = mutable.ArrayBuffer.empty[Map[String, Any]]
    def check(name: String)(body: => Unit): Unit = {
      val (ok, detail) =
        try { body; (true, "") }
        catch { case NonFatal(e) => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      results += Map("name" -> name, "ok" -> ok, "detail" -> detail)
    }
    var n = 0
    def dir(): String = { n += 1; s"${a.work}/selftest-$n" }

    check("same seed gives the same files and ground truth") {
      val x = Corpus.mvPair(spark, dir(), 4000, 11)
      val y = Corpus.mvPair(spark, dir(), 4000, 11)
      val z = Corpus.mvPair(spark, dir(), 4000, 12)
      Gate.same("mv truth", x.truth, y.truth)
      Gate.same("base files", dataDigests(x.basePath), dataDigests(y.basePath))
      Gate.same("mv files", dataDigests(x.mvPath), dataDigests(y.mvPath))
      Gate.check(dataDigests(x.basePath) != dataDigests(z.basePath),
        "another seed wrote the same base files")
      val dx = Corpus.documents(spark, dir(), 50, 10, 11)
      val dy = Corpus.documents(spark, dir(), 50, 10, 11)
      Gate.same("documents truth", dx, dy.copy(path = dx.path))
      Gate.same("documents files", dataDigests(dx.path), dataDigests(dy.path))
    }

    check("ground truth equals a direct recount") {
      val c = Corpus.mvPair(spark, dir(), 20000, 5)
      Gate.check(Dmg.All.forall(c.truth.n(_) > 0), s"a damage class is empty: ${c.truth}")
      Gate.same("mv recount", Corpus.recount(spark, c).problems, c.truth.problems)
      val docs = Corpus.documents(spark, dir(), 100, 10, 5)
      Gate.same("exact-duplicate groups", Corpus.recountDocs(spark, docs),
        docs.exactGroups.sortBy(_.head))
    }

    check("every task is attributed to exactly one span") {
      val intervals = Seq(TaskRec(1, false, 100, 300, 0, 0, 0, 0, 0, 0),
        TaskRec(1, false, 200, 400, 0, 0, 0, 0, 0, 0),
        TaskRec(1, false, 600, 700, 0, 0, 0, 0, 0, 0))
      Gate.same("covered seconds", Tracer.covered(intervals, 0, 1000), 0.4)
      Seq("mv_repair_eq", "dedup_near_dup").foreach { name =>
        val w = Workloads(name, 0.02)
        w.setup(spark, dir(), 3)
        w.prepare(spark)
        val ended = new java.util.concurrent.atomic.AtomicInteger
        val counter = new SparkListener {
          override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
            ended.incrementAndGet(): Unit
        }
        spark.sparkContext.addSparkListener(counter)
        val t = new Tracer(spark)
        w.job(spark, Some(t))
        t.close()
        spark.sparkContext.removeSparkListener(counter)
        val ids = t.allSpans.map(_.id).toSet
        Gate.check(t.tasks.nonEmpty, s"$name: no tasks recorded")
        Gate.same(s"$name tasks recorded", t.tasks.size, ended.get)
        Gate.same(s"$name tasks outside every span",
          t.tasks.count(x => !ids.contains(x.span)), 0)
        Gate.same(s"$name tasks summed over top-level spans",
          t.allSpans.filter(_.parent == 0).map(s => t.agg(s.name).tasks).sum,
          t.tasks.size)
        w.gate(spark)
        w.release(spark)
      }
    }

    spark.stop()
    Main.writeJson(a.out, Map("checks" -> results.toSeq))
  }
}
