package graft.perfbench

import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One finished task, attributed to the innermost span whose job group
 * was set on the thread that submitted its stage (-1: no span). `scan`:
 * its stage reads a file source. */
final case class TaskRec(span: Int, scan: Boolean, launchMs: Long, finishMs: Long,
    runS: Double, inRows: Long,
    shuffleWrite: Long, shuffleRead: Long, fetchWaitS: Double,
    spillBytes: Long)

/** One job: its span and the SQL execution it belongs to. */
final case class JobRec(span: Int, executionId: String)

/** A span's interval, plus what the JVM did inside it: bytes read
 * through read syscalls (/proc/self/io rchar) and GC seconds. */
final case class Span(id: Int, name: String, parent: Int,
    startMs: Long, endMs: Long, wallS: Double, readBytes: Long, gcS: Double)

/** What the tasks and jobs of a span (and its descendants) did. */
final case class SpanAgg(wallS: Double, readBytes: Long, gcS: Double,
    jobs: Int, stages: Int, tasks: Int,
    taskS: Double, shuffleWrite: Long, shuffleRead: Long, fetchWaitS: Double,
    spillBytes: Long, schedS: Double, scanRows: Long, scanTaskS: Double)

/**
 * Span recorder. A span is a named interval around one call into a
 * layer; it tags every Spark job started inside it with a job group, and
 * a SparkListener maps stages to the group that submitted them and
 * tasks to their stage. Spans nest; a task belongs to the innermost
 * one. Spans and task records stay in memory until the run ends.
 */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  private val sc = spark.sparkContext
  private var nextId = 0
  private var stack: List[Int] = Nil
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stageSpan = new ConcurrentHashMap[(Int, Int), Integer]
  private val scanStages = ConcurrentHashMap.newKeySet[(Int, Int)]()
  private val jobs = new ConcurrentHashMap[Integer, JobRec]
  /** SQL execution id → call site of the action that started it, e.g.
   * "head at Dedup.scala:389". */
  private val executionSites = new ConcurrentHashMap[String, String]
  private val taskRecs = new ConcurrentLinkedQueue[TaskRec]

  sc.addSparkListener(this)

  def close(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(this)
  }

  private def spanOf(props: Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(GroupKey)))
      .filter(_.startsWith(Prefix))
      .map(_.stripPrefix(Prefix).toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, JobRec(spanOf(e.properties), Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).getOrElse("")))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart =>
      executionSites.put(x.executionId.toString, x.description)
    case _ =>
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    stageSpan.put(key, spanOf(e.properties))
    if (e.stageInfo.rddInfos.exists(r => ScanRdds.contains(r.name)))
      scanStages.add(key)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = Option(stageSpan.get((e.stageId, e.stageAttemptId)))
      .map(_.intValue).getOrElse(-1)
    val info = e.taskInfo
    val m = Option(e.taskMetrics)
    def ms(v: Long): Double = v / 1000.0
    taskRecs.add(TaskRec(s, scanStages.contains((e.stageId, e.stageAttemptId)),
      info.launchTime, info.finishTime,
      m.map(x => ms(x.executorRunTime)).getOrElse(0.0),
      m.map(_.inputMetrics.recordsRead).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
      m.map(x => ms(x.shuffleReadMetrics.fetchWaitTime)).getOrElse(0.0),
      m.map(_.diskBytesSpilled).getOrElse(0L)))
  }

  /** Run `f` inside a new span named `name`. */
  def span[A](name: String)(f: => A): A = {
    nextId += 1
    val id = nextId
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    // no group description, so jobs and SQL executions keep their own
    // call-site descriptions
    sc.setJobGroup(Prefix + id, null)
    val (r0, gc0) = (readBytes, gcSeconds)
    val m0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try f
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      spans += Span(id, name, parent, m0, System.currentTimeMillis(), wall,
        readBytes - r0, gcSeconds - gc0)
      stack = stack.tail
      stack.headOption match {
        case Some(pid) => sc.setJobGroup(Prefix + pid, null)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Deliver every pending listener event. */
  private def settle(): Unit = PerfbenchBus.drain(sc)

  def allSpans: Seq[Span] = spans.toSeq
  def tasks: Seq[TaskRec] = taskRecs.asScala.toSeq

  /** Ids of span `root` and all its descendants. */
  private def subtree(root: Int): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Set[Int] =
      Set(id) ++ kids.getOrElse(id, Nil).flatMap(s => go(s.id))
    go(root)
  }

  def find(name: String): Option[Span] = spans.reverseIterator.find(_.name == name)

  /** Jobs of a span's subtree. */
  def jobsOf(name: String): Seq[JobRec] = find(name).toSeq.flatMap { s =>
    val ids = subtree(s.id)
    jobs.values.asScala.filter(j => ids.contains(j.span))
  }

  def executionSite(executionId: String): String = {
    settle()
    executionSites.getOrDefault(executionId, "")
  }

  def agg(name: String): SpanAgg = find(name).map(aggOf).getOrElse(
    SpanAgg(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0))

  private def aggOf(s: Span): SpanAgg = {
    settle()
    val ids = subtree(s.id)
    val ts = taskRecs.asScala.filter(t => ids.contains(t.span)).toSeq
    val nJobs = jobs.values.asScala.count(j => ids.contains(j.span))
    val nStages = stageSpan.values.asScala.count(v => ids.contains(v.intValue))
    val scans = ts.filter(_.scan)
    SpanAgg(s.wallS, s.readBytes, s.gcS, nJobs, nStages, ts.size,
      ts.map(_.runS).sum, ts.map(_.shuffleWrite).sum, ts.map(_.shuffleRead).sum,
      ts.map(_.fetchWaitS).sum, ts.map(_.spillBytes).sum,
      math.max(0.0, s.wallS - covered(ts, s.startMs, s.endMs)),
      scans.map(_.inRows).sum, scans.map(_.runS).sum)
  }
}

object Tracer {
  val Prefix = "perfbench-span-"
  val GroupKey = "spark.jobGroup.id"
  /** RDDs of the file scans: parquet (v1) and the graft DSv2 source. */
  val ScanRdds = Set("FileScanRDD", "DataSourceRDD")

  /** Bytes this process has read through read syscalls, page-cache
   * hits included. Spark's task input metrics miss reads the parquet
   * readers make through vectored IO, so scan bytes are taken here. */
  def readBytes: Long = {
    val src = scala.io.Source.fromFile("/proc/self/io")
    try src.getLines().find(_.startsWith("rchar:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    finally src.close()
  }

  def gcSeconds: Double = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0

  /** Seconds of [lo, hi] (epoch ms) during which at least one task ran:
   * the rest of a span's wall is driver-side planning and scheduling. */
  def covered(ts: Seq[TaskRec], lo: Long, hi: Long): Double = {
    val iv = ts.map(t => (math.max(lo, t.launchMs), math.min(hi, t.finishMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) {
        total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    total += curB - curA
    total / 1000.0
  }
}
