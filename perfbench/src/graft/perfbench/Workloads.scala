package graft.perfbench

import java.io.File

import graft.MvSyncJob
import graft.config.Settings
import graft.operators.Dedup
import graft.reconcile.MvReconciler
import graft.repair.RepairPlanner
import graft.report.ReportWriter
import graft.sources.{CommitLog, Dsv2Parquet, Dsv2ParquetSource, EqualityRepair,
  GraftMaintenance, ParquetSource}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

final class GateFailure(msg: String) extends RuntimeException(msg)

object Gate {
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) throw new GateFailure(what)
  def same[A](what: String, got: A, want: A): Unit =
    check(got == want, s"$what: got $got, want $want")
}

/**
 * One benchmark workload. Per job `Main` calls `prepare` (untimed
 * reset), `job` (timed), `gate` (untimed check of the job's outputs
 * against the generator's ground truth) and `release` (drops what the
 * job left cached, as process exit would). A traced job calls the same
 * layers inside the tracer's spans.
 */
abstract class Workload(val name: String) {
  /** Generate the corpus under `dir`. */
  def setup(spark: SparkSession, dir: String, seed: Long): Unit
  /** Keys reconciled or documents deduplicated by one job. */
  def items: Long
  def prepare(spark: SparkSession): Unit = ()
  def job(spark: SparkSession, t: Option[Tracer]): Unit
  def gate(spark: SparkSession): Unit
  def release(spark: SparkSession): Unit
  /** The files one job reads, for the page-cache-evicted pass. */
  def inputs: Seq[String]
  /** The main plan, for the comparability fingerprint. */
  def planText(spark: SparkSession): String
  /** Per-layer figures this workload adds, read after the traced job's
   * gate. */
  def traceLayers(spark: SparkSession, t: Tracer): Map[String, Double]
  /** Prefixes of the per-layer metrics of layers this workload never
   * calls: a traced run reads them as 0. */
  def idleLayers: Seq[String]
}

object Workloads {
  def apply(name: String, scale: Double): Workload = {
    def n(x: Long): Long = math.max(100L, (x * scale).toLong)
    name match {
      case "mv_repair_eq" => new MvRepairEq(n(200000L))
      case "dedup_near_dup" => new DedupNearDup(n(400L).toInt)
      case other => throw new IllegalArgumentException(
        s"unknown workload $other")
    }
  }

  /** Bytes held by cached RDD blocks (memory + disk). */
  def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Drop every cached Dataset and persisted RDD, as process exit would. */
  def releaseAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Plan text with expression ids, plan ids, paths and uuids removed. */
  def normalize(plan: String): String = plan
    .replaceAll("#\\d+L?", "#")
    .replaceAll("plan_id=\\d+", "plan_id=")
    .replaceAll("(file:)?/[^\\s,\\]\\)]+", "<path>")
    .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>")

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median3(f: => Double): Double = Seq(f, f, f).sorted.apply(1)
}

/**
 * The reconcile→repair job over a generated MV pair with MvSyncDemo's
 * damage (~10% of keys): `MvSyncJob.run` with every fix flag (scan,
 * join, classify, plan, reports + stats line), a parquet write of its
 * mutation plan (the stand-in for applying it), then one
 * `EqualityRepair.commit` of the classification into the commit-logged
 * MV table. Each job repairs a fresh copy of the damaged table.
 */
final class MvRepairEq(n: Long) extends Workload("mv_repair_eq") {
  import Corpus.{baseSchema, mvSchema}
  private var corpus: MvCorpus = _
  private var work: String = _
  private var mvPath: String = _
  private var jobNo = 0
  private var result: MvSyncJob.Result = _
  private var commitFiles = Map.empty[String, Long]
  private var reportBytes = 0L
  private var leftCached = 0L
  private var mutations = Map.empty[String, Long]

  private def truth: MvTruth = corpus.truth
  private def reportDir: String = s"$work/reports-$jobNo"
  private def mutationsDir: String = s"$work/mutations-$jobNo"
  private def settings: Settings = Settings(outputDir = reportDir,
    fixMissingMv = true, fixOrphanMv = true, fixInconsistentMv = true,
    trustUniquePk = true)

  def setup(spark: SparkSession, dir: String, seed: Long): Unit = {
    work = dir
    corpus = Corpus.mvPair(spark, dir, n, seed)
    mvPath = corpus.mvPath
  }

  def items: Long = truth.keys
  def inputs: Seq[String] = Seq(corpus.basePath, mvPath)

  override def prepare(spark: SparkSession): Unit = {
    if (mvPath != corpus.mvPath) Corpus.deleteTree(mvPath)
    jobNo += 1
    mvPath = s"$work/mv-job$jobNo"
    Corpus.copyTree(corpus.mvPath, mvPath)
  }

  def planText(spark: SparkSession): String =
    MvReconciler.reconcile(
      ParquetSource(corpus.basePath).load(spark, baseSchema),
      Dsv2ParquetSource(mvPath).load(spark, mvSchema),
      baseSchema, mvSchema, settings).queryExecution.sparkPlan.toString

  def job(spark: SparkSession, t: Option[Tracer]): Unit = {
    val s = settings
    val before = tableFiles
    t match {
      case None =>
        result = MvSyncJob.run(spark, ParquetSource(corpus.basePath),
          Dsv2ParquetSource(mvPath), baseSchema, mvSchema, s)
        result.mutations.write.parquet(mutationsDir)
        commitRepair(spark, result.classified)
      case Some(tr) => tr.span("job") {
        // what MvSyncJob.run calls, in its order, plus one count() so
        // the reconcile span holds the scan + join + classify work
        MvSyncJob.validate(s, mvSchema)
        val (base, mv) = tr.span("sources.load") {
          (ParquetSource(corpus.basePath).load(spark, baseSchema),
            Dsv2ParquetSource(mvPath).load(spark, mvSchema))
        }
        val classified = tr.span("reconcile") {
          val c = MvReconciler.reconcile(base, mv, baseSchema, mvSchema, s).cache()
          c.count()
          c
        }
        // the plan is written here rather than after the reports: it
        // reads only the cached classification, so the work is the same
        val mutations = tr.span("repair.plan") {
          val m = RepairPlanner.plan(classified, baseSchema, mvSchema, s)
          m.write.parquet(mutationsDir)
          m
        }
        val stats = tr.span("report") {
          ReportWriter.write(classified, baseSchema, mvSchema, s)
        }
        result = MvSyncJob.Result(classified, mutations, stats)
        tr.span("sources.commit")(commitRepair(spark, classified))
      }
    }
    commitFiles = tableFiles -- before.keySet
  }

  /** name → bytes of every file directly under the MV table directory. */
  private def tableFiles: Map[String, Long] =
    Option(new File(mvPath).listFiles()).toSeq.flatten
      .filter(_.isFile).map(f => f.getName -> f.length()).toMap

  /** The classification drives one equality-delete commit: keys to
   * remove (orphans and inconsistent pre-images) and base rows to
   * insert (missing and inconsistent), taken from the classified rows. */
  private def commitRepair(spark: SparkSession, classified: DataFrame): Unit = {
    val pk = mvSchema.sortedPk
    val mvCols = spark.read.format(Corpus.Fmt).load(mvPath).columns.toSeq
    val problem = col(MvReconciler.ProblemCol)
    val deleteKeys = classified
      .filter(problem.isin(MvReconciler.MissingInBase, MvReconciler.Inconsistent))
      .select(pk.map(col): _*)
    val inserts = classified
      .filter(problem.isin(MvReconciler.MissingInMv, MvReconciler.Inconsistent))
      .select(mvCols.map(c => if (pk.contains(c)) col(c) else col(s"base_$c").as(c)): _*)
    EqualityRepair.commit(spark, mvPath, pk, deleteKeys, inserts)
  }

  def gate(spark: SparkSession): Unit = {
    leftCached = Workloads.cachedBytes(spark)
    val want = truth.stats
    Gate.same("stats", result.stats, want)
    val line = scala.io.Source.fromFile(s"$reportDir/stats.txt")
    try Gate.same("stats.txt", line.mkString.trim, want.toString)
    finally line.close()
    reportBytes = Corpus.dirBytes(reportDir)
    val lines = reportLines(reportDir)
    ReportWriter.ReportedProblems.foreach { p =>
      Gate.same(s"report lines $p", lines.getOrElse(p, 0L), truth.problems(p))
    }
    mutations = spark.read.parquet(mutationsDir).groupBy("op").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Gate.same("mutations", mutations,
      Map("DELETE" -> truth.deletes, "UPSERT" -> truth.upserts))
    // the job's cached classification has the same plan as the check
    // below and would be served in its place: drop it first
    Workloads.releaseAll(spark)
    val healed = MvReconciler.reconcile(
      ParquetSource(corpus.basePath).load(spark, baseSchema),
      Dsv2ParquetSource(mvPath).load(spark, mvSchema),
      baseSchema, mvSchema, settings)
      .groupBy(MvReconciler.ProblemCol).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Gate.same("after repair", healed, Map(MvReconciler.Consistent -> truth.baseKeys))
  }

  /** "Problem: " lines per category directory of a report tree. */
  private def reportLines(dir: String): Map[String, Long] =
    Option(new File(dir).listFiles()).toSeq.flatten.filter(_.isDirectory).map { d =>
      d.getName -> Option(d.listFiles()).toSeq.flatten.map { f =>
        val src = scala.io.Source.fromFile(f)
        try src.getLines().count(_.startsWith("Problem: ")).toLong
        finally src.close()
      }.sum
    }.toMap

  def release(spark: SparkSession): Unit = {
    Workloads.releaseAll(spark)
    Corpus.deleteTree(reportDir)
    Corpus.deleteTree(mutationsDir)
    result = null
  }

  def idleLayers: Seq[String] = Seq("operators.")

  def traceLayers(spark: SparkSession, t: Tracer): Map[String, Double] = {
    val committedBytes = commitFiles.values.sum.toDouble
    val dir = new org.apache.hadoop.fs.Path(mvPath)
    Map(
      "reconcile.cached_bytes" -> leftCached.toDouble,
      "report.bytes_written" -> reportBytes.toDouble,
      "repair.deletes" -> mutations("DELETE").toDouble,
      "repair.upserts" -> mutations("UPSERT").toDouble,
      "sources.commit.files_written" -> commitFiles.size.toDouble,
      "sources.commit.bytes_written" -> committedBytes,
      "repair.write_bytes_per_mutation" ->
        committedBytes / (truth.deleteKeys + truth.insertRows),
      "sources.log.versions" ->
        CommitLog.versions(dir, Dsv2Parquet.readConf).length.toDouble,
      "sources.log.plan_s" -> Workloads.median3(Workloads.time(
        Dsv2ParquetSource(mvPath).load(spark, mvSchema)
          .queryExecution.executedPlan)._2)) ++ maintenanceLayers(spark)
  }

  /** Scan tax of the repair's live equality deletes (full MV scan
   * before ÷ after `compact_table`), one maintenance cycle
   * (compact_table, expire_snapshots keeping 2, remove_orphan_files),
   * and the bytes the table directory then holds ÷ its live rows
   * written once. */
  private def maintenanceLayers(spark: SparkSession): Map[String, Double] = {
    def scanS: Double = Workloads.median3(Workloads.time(
      Dsv2ParquetSource(mvPath).load(spark, mvSchema)
        .write.format("noop").mode("overwrite").save())._2)
    val live = scanS
    val before = tableFiles
    val ((compactS, removed), cycleS) = Workloads.time {
      val (_, c) = Workloads.time(
        GraftMaintenance.compactDeletionVectors(spark, mvPath))
      (c, GraftMaintenance.expireSnapshots(mvPath, 2) +
        GraftMaintenance.removeOrphanFiles(mvPath, 0L))
    }
    val rewritten = (tableFiles -- before.keySet).values.sum
    val folded = scanS
    val once = s"$work/live-once"
    Dsv2ParquetSource(mvPath).load(spark, mvSchema).write.parquet(once)
    val amp = Corpus.dirBytes(mvPath).toDouble / Corpus.dirBytes(once)
    Corpus.deleteTree(once)
    Map("sources.scan.eq_read_tax" -> live / folded,
      "sources.maint.compact_s" -> compactS,
      "sources.maint.bytes_rewritten" -> rewritten.toDouble,
      "sources.maint.files_removed" -> removed.toDouble,
      "sources.maint.cycle_s" -> cycleS,
      "sources.space_amp" -> amp)
  }
}

/** MinHash-LSH pairs, then connected components, over a corpus of
 * exact and tail-perturbed replicas; the MV layers are idle. */
final class DedupNearDup(groups: Int) extends Workload("dedup_near_dup") {
  private val Copies = 10
  private var corpus: DocCorpus = _
  private var pairs: DataFrame = _
  private var labels: DataFrame = _
  private var pairCount = 0L
  private var clusterCount = 0L
  private var leftCached = 0L
  /** Word 3-shingle sets of the corpus, read once from its files. */
  private var shingles = Map.empty[Long, Set[String]]

  def setup(spark: SparkSession, dir: String, seed: Long): Unit = {
    corpus = Corpus.documents(spark, dir, groups, Copies, seed)
    shingles = Map.empty
  }
  def items: Long = corpus.docs
  def inputs: Seq[String] = Seq(corpus.path)

  private def docs(spark: SparkSession): DataFrame =
    spark.read.parquet(corpus.path).select("doc_id", "text")

  def planText(spark: SparkSession): String =
    Dedup.minhashLshPairs(docs(spark)).queryExecution.sparkPlan.toString

  /** The pairs are materialized once so that the gate reads the pairs
   * the components were computed from. */
  def job(spark: SparkSession, t: Option[Tracer]): Unit = {
    def sp[A](n: String)(f: => A): A = t.fold(f)(_.span(n)(f))
    sp("job") {
      pairs = sp("operators.dedup.pairs") {
        Dedup.minhashLshPairs(docs(spark)).localCheckpoint()
      }
      labels = sp("operators.dedup.cc") {
        Dedup.connectedComponents(pairs.select("id_a", "id_b")).localCheckpoint()
      }
    }
  }

  def gate(spark: SparkSession): Unit = {
    leftCached = Workloads.cachedBytes(spark)
    val label = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    corpus.exactGroups.foreach { g =>
      val ls = g.map(label.get)
      Gate.check(ls.forall(_.isDefined) && ls.distinct.size == 1,
        s"exact replicas ${g.mkString(",")} are not in one cluster")
    }
    if (shingles.isEmpty) shingles = docs(spark).collect().map { r =>
      r.getLong(0) -> r.getString(1).split(" ").sliding(3).map(_.mkString(" ")).toSet
    }.toMap
    val ps = pairs.collect()
    ps.foreach { r =>
      val (a, b, j) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val (sa, sb) = (shingles(a), shingles(b))
      val exact = (sa & sb).size.toDouble / (sa | sb).size
      Gate.check(exact >= 0.5 && math.abs(exact - j) < 1e-6,
        s"pair ($a,$b) reports Jaccard $j, recount $exact")
    }
    pairCount = ps.length
    clusterCount = label.values.toSet.size
  }

  def release(spark: SparkSession): Unit = {
    Workloads.releaseAll(spark)
    pairs = null
    labels = null
  }

  def idleLayers: Seq[String] = Seq("reconcile.", "report.", "repair.",
    "sources.commit.", "sources.log.", "sources.maint.", "sources.space_amp",
    "sources.scan.eq_read_tax")

  def traceLayers(spark: SparkSession, t: Tracer): Map[String, Double] = {
    // Dedup.connectedComponents exposes no round count. It probes the
    // label sum with one `head()` before the first propagation round and
    // one after each, so the rounds are the SQL executions started by a
    // `head` in Dedup.scala, less one. This reads Dedup's internals: if
    // they stop probing that way the count reads 0, which fails here.
    val sites = t.jobsOf("operators.dedup.cc").map(_.executionId).distinct
      .map(t.executionSite)
    val probes = sites.count(_.startsWith("head at Dedup.scala"))
    Gate.check(probes >= 2, s"operators.dedup.cc_rounds: $probes label-sum " +
      "probes found; Dedup.connectedComponents no longer probes with head() " +
      s"(call sites: ${sites.distinct.mkString("; ")})")
    Map("operators.dedup.cc_rounds" -> (probes - 1).toDouble,
      "operators.dedup.pairs" -> pairCount.toDouble,
      "operators.dedup.clusters" -> clusterCount.toDouble,
      "operators.dedup.corpus_scans" -> {
        // the corpus is read only inside minhashLshPairs
        val p = t.agg("operators.dedup.pairs")
        math.max(0L, p.readBytes - p.shuffleRead).toDouble /
          Corpus.dirBytes(corpus.path)
      },
      "operators.dedup.cached_bytes" -> leftCached.toDouble)
  }
}
