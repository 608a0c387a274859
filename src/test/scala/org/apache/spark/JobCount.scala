package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskStart}

/** Counts the Spark jobs and tasks a block starts. Lives in this package
  * because the listener bus is asynchronous and only its package can
  * wait for it to drain: a count read before the drain could miss late
  * events. */
object JobCount {
  final case class Counts(jobs: Int, tasks: Int)

  def apply[T](sc: SparkContext)(body: => T): (T, Counts) = {
    sc.listenerBus.waitUntilEmpty(30000L)
    val jobs = new AtomicInteger
    val tasks = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskStart(e: SparkListenerTaskStart): Unit =
        tasks.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty(30000L)
      (out, Counts(jobs.get, tasks.get))
    } finally sc.removeSparkListener(listener)
  }
}
