package servebench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval at a layer boundary; `parent` is the span that
  * caused it (-1 for a root). */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long)

/** Spark-side work counted between two [[Collector.mark]]s. */
final case class Work(jobs: Long, stages: Long, tasks: Long, taskMs: Double,
                      schedDelayMs: Double, gcMs: Double, inputBytes: Long,
                      recordsRead: Long, shuffleBytes: Long, planMs: Double,
                      fsBytesRead: Long, fsBytesWritten: Long) {
  def -(o: Work): Work = Work(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskMs - o.taskMs, schedDelayMs - o.schedDelayMs, gcMs - o.gcMs,
    inputBytes - o.inputBytes, recordsRead - o.recordsRead,
    shuffleBytes - o.shuffleBytes, planMs - o.planMs, fsBytesRead - o.fsBytesRead,
    fsBytesWritten - o.fsBytesWritten)
}

/** The traced run's collector: spans kept in memory until the run ends,
  * plus counters from a SparkListener, a QueryExecutionListener and the
  * Hadoop FileSystem statistics. Counters are cumulative; a caller
  * reads the work of one request as the difference of two marks taken
  * with nothing else running, after the listener bus has drained. */
final class Collector(spark: SparkSession) {
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicLong(0)

  private val jobs, stages, tasks, inputBytes, records, shuffle = new AtomicLong(0)
  private val taskUs, schedUs, gcUs, planUs = new AtomicLong(0)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        taskUs.addAndGet(m.executorRunTime * 1000)
        gcUs.addAndGet(m.jvmGCTime * 1000)
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
        records.addAndGet(m.inputMetrics.recordsRead)
        shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        // the scheduler delay as Spark's UI defines it
        val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime
        schedUs.addAndGet(math.max(0L, delay) * 1000)
      }
    }
  }
  private val qel = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      planUs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum * 1000)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qel)
  }
  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qel)
  }

  def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)

  def mark(): Work = {
    drain()
    val fs = FileSystem.getGlobalStorageStatistics.iterator().asScala.toSeq
    def fsSum(key: String): Long =
      fs.map(s => Option(s.getLong(key)).map(_.longValue).getOrElse(0L)).sum
    Work(jobs.get, stages.get, tasks.get, taskUs.get / 1000.0, schedUs.get / 1000.0,
      gcUs.get / 1000.0, inputBytes.get, records.get, shuffle.get, planUs.get / 1000.0,
      fsSum("bytesRead"), fsSum("bytesWritten"))
  }

  def newId(): Long = nextId.incrementAndGet()

  def add(id: Long, parent: Long, name: String, startNs: Long, endNs: Long): Unit =
    spans.add(Span(id, parent, name, startNs, endNs))

  def span(name: String, parent: Long, startNs: Long, endNs: Long): Long = {
    val id = newId()
    add(id, parent, name, startNs, endNs)
    id
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  /** Write the spans as JSON lines. */
  def dump(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = allSpans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Collector {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}

/** Samples, while a phase runs, the benchmark's own Admission pools
  * (every 2 ms) and the files of the engine root (every 100 ms). The
  * local Hadoop file system counts no write operations, so files that
  * appear in the root stand in for them; a file created and deleted
  * between two walks is missed. */
final class Sampler(admission: graft.engine.Admission, root: java.nio.file.Path) {
  private val max = new AtomicInteger(0)
  private def files(): Set[String] = {
    val s = java.nio.file.Files.walk(root)
    try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(_.toString).toSet
    catch { case _: java.io.UncheckedIOException => Set.empty } // a file vanished mid-walk
    finally s.close()
  }
  private val before = files()
  @volatile private var seen = before
  @volatile private var running = true
  private val t = new Thread(() => {
    var k = 0
    while (running) {
      admission.gauges.values.foreach(g => max.accumulateAndGet(g.queued, math.max))
      if (k % 50 == 0) seen = seen ++ files()
      k += 1
      Thread.sleep(2)
    }
  }, "servebench-sampler")
  t.setDaemon(true); t.start()
  /** (largest admission queue seen, files created in the root). */
  def stop(): (Int, Int) = {
    running = false; t.join()
    (max.get, (seen ++ files() -- before).size)
  }
}
