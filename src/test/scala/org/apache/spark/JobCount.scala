package org.apache.spark

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd,
  SparkListenerTaskStart}

/** Counts the Spark jobs and tasks a block starts. Lives in this package
  * because the listener bus is asynchronous and only its package can
  * wait for it to drain: a count read before the drain could miss late
  * events. */
object JobCount {
  final case class Counts(jobs: Int, tasks: Int)

  def apply[T](sc: SparkContext)(body: => T): (T, Counts) = {
    val jobs = new AtomicInteger
    val tasks = new AtomicInteger
    val out = listening(sc, new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskStart(e: SparkListenerTaskStart): Unit =
        tasks.incrementAndGet()
    })(body)
    (out, Counts(jobs.get, tasks.get))
  }

  /** The input records the block's tasks read: rows of the files they
    * scanned, and rows or batches of the cached blocks they read. */
  def recordsRead[T](sc: SparkContext)(body: => T): (T, Long) = {
    val records = new AtomicLong
    val out = listening(sc, new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    })(body)
    (out, records.get)
  }

  private def listening[T](sc: SparkContext, listener: SparkListener)(body: => T): T = {
    sc.listenerBus.waitUntilEmpty(30000L)
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty(30000L)
      out
    } finally sc.removeSparkListener(listener)
  }
}
