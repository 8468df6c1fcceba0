package graft.perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/**
 * The benchmark JVM: one workload, one process at local[nproc], a closed
 * loop of one job at a time. Writes a JSON file with the measured metric
 * values (by name), the job counts, the workload's idle layers and a
 * record of what was run; `run.py` checks the names against
 * BENCHMARK.json, attaches units and prints the result line.
 *
 * Args: --workload W --seed N --seconds S --trace 0|1 --work DIR
 *       --bench-dir DIR --out FILE [--scale F] [--selftest]
 */
object Main {
  /** Timed jobs per run at the least, however long they take. */
  val MinJobs = 4
  /** Warm-up jobs before timing (charged to setup_s). The JIT still
   * compiles ~2 s of CPU per job after eight jobs, so timed jobs are not
   * at steady state; four is what the run's time budget allows. */
  val WarmJobs = 4

  final case class Args(workload: String = "", seed: Long = 1L,
      seconds: Double = 10.0, trace: Boolean = false, work: String = "",
      benchDir: String = "", out: String = "", scale: Double = 1.0,
      selftest: Boolean = false)

  def parse(args: Array[String]): Args = {
    def go(a: Args, rest: List[String]): Args = rest match {
      case "--workload" :: v :: r => go(a.copy(workload = v), r)
      case "--seed" :: v :: r => go(a.copy(seed = v.toLong), r)
      case "--seconds" :: v :: r => go(a.copy(seconds = v.toDouble), r)
      case "--trace" :: v :: r => go(a.copy(trace = v == "1"), r)
      case "--work" :: v :: r => go(a.copy(work = v), r)
      case "--bench-dir" :: v :: r => go(a.copy(benchDir = v), r)
      case "--out" :: v :: r => go(a.copy(out = v), r)
      case "--scale" :: v :: r => go(a.copy(scale = v.toDouble), r)
      case "--selftest" :: r => go(a.copy(selftest = true), r)
      case Nil => a
      case other => throw new IllegalArgumentException(s"bad args: $other")
    }
    go(Args(), args.toList)
  }

  def nproc: Int = Runtime.getRuntime.availableProcessors

  /** The benchmark's one session factory. Shuffle partitions follow the
   * host, not `cores`, so the scaling pass runs the same plan. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", 4 * nproc)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def processCpuS: Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime / 1e9

  /** Seconds the JIT compiler threads have spent compiling. */
  def jitS: Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Writes the result and selftest files. */
  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def writeJson(path: String, v: Any): Unit = json.writeValue(new File(path), v)

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    if (a.selftest) Selftest.run(a) else run(a)
  }

  private def run(a: Args): Unit = {
    val w = Workloads(a.workload, a.scale)
    new File(a.work).mkdirs()
    val (spark0, sessionS) = Workloads.time(session(nproc, a.work))
    var spark = spark0
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var lastCpuS = 0.0
    var lastGcS = 0.0
    var lastJitS = 0.0

    /** prepare → `beforeJob` → job (timed) → gate → `afterGate` →
     * release. Returns the job's wall, or None if the job threw or
     * failed its gate. */
    def attempt(t: Option[Tracer] = None, beforeJob: () => Unit = () => (),
        afterGate: () => Unit = () => ()): Option[Double] = {
      attempted += 1
      try {
        w.prepare(spark)
        beforeJob()
        val (cpu0, gc0, jit0) = (processCpuS, Tracer.gcSeconds, jitS)
        val (_, wall) = Workloads.time(w.job(spark, t))
        lastCpuS = processCpuS - cpu0
        lastGcS = Tracer.gcSeconds - gc0
        lastJitS = jitS - jit0
        w.gate(spark)
        afterGate()
        Some(wall)
      } catch {
        case NonFatal(e) =>
          failures += s"job $attempted: ${e.getClass.getSimpleName}: ${e.getMessage}"
          e.printStackTrace()
          None
      } finally {
        try w.release(spark)
        catch { case NonFatal(e) => e.printStackTrace() }
      }
    }

    // set-up: session, one corpus generation, then warm-up jobs that
    // fill the JIT, codegen and footer caches
    val (_, genS) = Workloads.time(w.setup(spark, s"${a.work}/corpus", a.seed))
    val warmS = (1 to WarmJobs).flatMap(_ => attempt())
    val setupS = sessionS + genS + warmS.sum
    val fingerprint = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.digest(Workloads.normalize(w.planText(spark)).getBytes("UTF-8"))
        .take(8).map("%02x".format(_)).mkString
    }

    // timed closed loop: at least MinJobs jobs and `seconds` of wall
    val walls = mutable.ArrayBuffer.empty[Double]
    val cpus = mutable.ArrayBuffer.empty[Double]
    val gcs = mutable.ArrayBuffer.empty[Double]
    val jits = mutable.ArrayBuffer.empty[Double]
    val loop0 = System.nanoTime()
    var loopJobs = 0
    while (loopJobs < MinJobs || (System.nanoTime() - loop0) / 1e9 < a.seconds) {
      attempt().foreach { wall => walls += wall; cpus += lastCpuS; gcs += lastGcS; jits += lastJitS }
      loopJobs += 1
    }
    val jobS = median(walls.toSeq)

    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "scale" -> a.scale,
      "items" -> w.items, "cores" -> nproc, "nproc" -> nproc,
      "spark_version" -> spark.version, "plan_fingerprint" -> fingerprint,
      "job_s_samples" -> walls.size, "job_walls_s" -> walls.toSeq,
      // CPU seconds of this JVM per timed job: time the hypervisor gave
      // to other guests (steal) is not in it, unlike in the walls
      "job_cpu_s" -> cpus.toSeq,
      // collection pauses inside each timed job
      "job_gc_s" -> gcs.toSeq,
      // JIT compiler time inside each timed job: warm-up not yet done
      "job_jit_s" -> jits.toSeq,
      "session_s" -> sessionS, "gen_s" -> genS, "warm_s" -> warmS)

    if (!a.trace) {
      metrics ++= Seq("job_s" -> jobS, "items_per_s" -> w.items / jobS,
        "setup_s" -> setupS)
    } else {
      val tracer = new Tracer(spark)
      val traced = attempt(Some(tracer), afterGate = () => {
        metrics ++= spanLayers(tracer)
        metrics ++= w.traceLayers(spark, tracer)
      })
      tracer.close()
      traced.foreach(wall => metrics("tracing.overhead_s") = wall - jobS)

      // out-of-page-cache input: the job's files evicted just before it
      var evicted = Option.empty[PageCache.Evicted]
      attempt(beforeJob = () => evicted = Some(PageCache.evict(a.benchDir, w.inputs)))
        .foreach(wall => metrics("cold.job_s") = wall)
      evicted.foreach { e =>
        record("eviction") = e.record
        metrics("cold.resident_frac") = e.residentAfter
      }

      // scaling row: per core count a fresh session and one timed job
      // (the JVM's JIT and codegen caches are already warm)
      val byCores = Seq(1, 2, 4).map { c =>
        spark.stop()
        spark = session(c, a.work)
        c -> attempt()
      }.toMap
      record("scale_job_s") = byCores.map { case (c, s) => s"local[$c]" -> s }
      for (one <- byCores(1); two <- byCores(2); four <- byCores(4)) {
        metrics("scale.speedup_2c") = one / two
        metrics("scale.speedup_4c") = one / four
      }
    }
    spark.stop()

    record("setup_s") = setupS
    record("peak_rss_mb") = peakRssMb
    record("failures") = failures.toSeq
    // a traced run leaves the layers its workload never calls unmeasured;
    // run.py reads them as 0 and fails on any other missing name
    writeJson(a.out, Map(
      "attempted" -> attempted, "failed" -> failures.size,
      "metrics" -> metrics, "idle_layers" -> w.idleLayers, "record" -> record))
  }

  /** Per-layer figures of a traced job, from its spans: the job's own
   * always, a layer's only where the workload opened its span. */
  private def spanLayers(t: Tracer): Seq[(String, Double)] = {
    val job = t.agg("job")
    def ifSpan(name: String)(f: SpanAgg => Seq[(String, Double)]) =
      t.find(name).toSeq.flatMap(_ => f(t.agg(name)))
    Seq(
      // bytes the job read through read syscalls, less the shuffle's:
      // table files, footers and manifests, plus the few KB per Spark
      // job the process reads anyway
      "sources.scan.input_bytes" ->
        math.max(0L, job.readBytes - job.shuffleRead).toDouble,
      "sources.scan.input_rows" -> job.scanRows.toDouble,
      "sources.scan.task_s" -> job.scanTaskS,
      "spark.shuffle.write_bytes" -> job.shuffleWrite.toDouble,
      "spark.shuffle.read_bytes" -> job.shuffleRead.toDouble,
      "spark.shuffle.fetch_wait_s" -> job.fetchWaitS,
      "spark.shuffle.spill_bytes" -> job.spillBytes.toDouble,
      "spark.driver.sched_s" -> job.schedS,
      "spark.driver.jobs" -> job.jobs.toDouble,
      "spark.driver.stages" -> job.stages.toDouble,
      "spark.driver.tasks" -> job.tasks.toDouble,
      "jvm.gc_s" -> job.gcS) ++
    ifSpan("reconcile")(r => Seq("reconcile.wall_s" -> r.wallS,
      "reconcile.task_s" -> r.taskS)) ++
    ifSpan("report")(r => Seq("report.wall_s" -> r.wallS,
      "report.jobs" -> r.jobs.toDouble)) ++
    ifSpan("repair.plan")(r => Seq("repair.plan_s" -> r.wallS)) ++
    ifSpan("sources.commit")(c => Seq("sources.commit.wall_s" -> c.wallS,
      "sources.commit.jobs" -> c.jobs.toDouble)) ++
    ifSpan("operators.dedup.pairs")(p => Seq("operators.dedup.pairs_s" -> p.wallS)) ++
    ifSpan("operators.dedup.cc")(c => Seq("operators.dedup.cc_s" -> c.wallS))
  }
}

/** Page-cache eviction of a workload's input files through the
 * benchmark's `pagecache.py`: posix_fadvise(DONTNEED), then mincore to
 * see what is still resident. */
object PageCache {
  final case class Evicted(ok: Boolean, files: Long, bytes: Long,
      residentBefore: Double, residentAfter: Double, note: String) {
    def record: Map[String, Any] = Map("ok" -> ok, "files" -> files,
      "bytes" -> bytes, "resident_before" -> residentBefore,
      "resident_after" -> residentAfter, "note" -> note)
  }

  def evict(benchDir: String, paths: Seq[String]): Evicted = {
    val pb = new ProcessBuilder(
      (Seq("python3", s"$benchDir/pagecache.py") ++ paths).asJava)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).mkString.trim
    val rc = p.waitFor()
    // stdout: "<files> <bytes> <resident before> <resident after>"
    out.split("\\s+") match {
      case Array(f, b, r0, r1) if rc == 0 =>
        Evicted(ok = r1.toDouble < 0.5, f.toLong, b.toLong, r0.toDouble,
          r1.toDouble, "")
      case _ => Evicted(ok = false, 0L, 0L, 1.0, 1.0, s"eviction failed: $out")
    }
  }
}
