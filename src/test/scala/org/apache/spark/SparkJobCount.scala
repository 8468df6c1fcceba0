package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

/** What Spark ran while a block ran: its jobs, and of their stages the
 * shuffle-map ones. Lives in `org.apache.spark` to drain the listener
 * bus (`private[spark]`), so the counts are exact, not slept for. */
object SparkJobCount {
  final case class Count(jobs: Int, shuffleStages: Int)

  def of[A](spark: SparkSession)(f: => A): (A, Count) = {
    val sc = spark.sparkContext
    sc.listenerBus.waitUntilEmpty()
    val (jobs, shuffles) = (new AtomicInteger, new AtomicInteger)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (e.stageInfo.shuffleDepId.isDefined) shuffles.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    try {
      val out = f
      sc.listenerBus.waitUntilEmpty()
      (out, Count(jobs.get, shuffles.get))
    } finally sc.removeSparkListener(listener)
  }
}
