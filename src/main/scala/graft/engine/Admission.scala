package graft.engine

import java.util.concurrent.Semaphore
import java.util.concurrent.atomic.AtomicInteger

/** Thrown when a pool is saturated AND its waiter queue is full — the
  * analog of the reference's bte error 426
  * (/root/reference/internal/rez/README.md: "The cluster is
  * underprovisioned and is shedding load"). The correct caller response
  * is exponential-backoff retry. */
final class ResourceExhaustedException(pool: String)
  extends RuntimeException(
    s"[426] engine is underprovisioned and is shedding load " +
      s"(pool '$pool' saturated, waiter queue full); retry with " +
      "exponential backoff")

/** Load-shedding admission control — the reference's rez manager
  * (/root/reference/internal/rez/mercy.go: static resource pools sized
  * by cluster tunables, bounded waiter queues, load-shed beyond them;
  * pool defaults /root/reference/internal/rez/defaults.go:3-12).
  *
  * Spark-native scope, deliberately narrower than the reference's: a
  * pool here bounds CONCURRENT DRIVER-SIDE ENGINE OPERATIONS: writes and
  * maintenance, which run Spark jobs inline, and the opening of every
  * serving-path read, which runs none (its rows are merged on the driver
  * as the reply drains, outside the pool). Execution
  * of the lazy query DataFrames the engine hands out is governed by
  * Spark's own scheduler (FAIR pools / max concurrent tasks), which is
  * the cluster-side analog of the reference's ConcurrentOp pool — this
  * class guards the single-driver orchestration surface in front of it.
  *
  * Acquire semantics mirror mercy.go: a free handle is taken
  * immediately; otherwise the caller queues, and once `maxQueue`
  * waiters are already queued the call FAILS FAST with [426] instead
  * of waiting — saturation degrades into a clear, retryable signal,
  * never an unbounded convoy. */
final class Admission(poolSizes: Map[String, Int], maxQueue: Int = 100) {

  private final class Pool(size: Int) {
    val sem = new Semaphore(size, true)
    val queued = new AtomicInteger(0)
  }
  private val pools: Map[String, Pool] =
    poolSizes.map { case (name, n) => name -> new Pool(n) }

  /** Run `f` holding one handle of `pool`; load-sheds with
    * [[ResourceExhaustedException]] when the pool is saturated and the
    * waiter queue is full. Unknown pools run unguarded (tunables may
    * name pools this deployment doesn't size — same as the reference's
    * unwatched tunables). */
  def run[T](pool: String)(f: => T): T = {
    val held = enter(pool)
    try f finally if (held) exit(pool)
  }

  /** Split-phase [[run]] for callers whose release point is an async
    * callback (the JDBC daemon's per-statement gate releases on the
    * SQL-execution-end event): same tryAcquire → bounded-queue →
    * load-shed semantics. Returns true when a permit was taken (an
    * unknown pool is unguarded → false); a true return must be paired
    * with exactly one [[exit]]. */
  def enter(pool: String): Boolean = pools.get(pool) match {
    case None => false
    case Some(p) =>
      if (!p.sem.tryAcquire()) {
        if (p.queued.incrementAndGet() > maxQueue) {
          p.queued.decrementAndGet()
          throw new ResourceExhaustedException(pool)
        }
        try p.sem.acquire()
        finally p.queued.decrementAndGet()
      }
      true
  }

  /** Release one handle of `pool` taken by a true-returning [[enter]]. */
  def exit(pool: String): Unit = pools.get(pool).foreach(_.sem.release())

  /** Queue depth snapshot (monitoring analog of rez's prometheus gauges). */
  def queuedWaiters(pool: String): Int =
    pools.get(pool).map(_.queued.get()).getOrElse(0)

  /** Full pool-state snapshot: name → (size, inUse, queued) — the
    * reference surfaces the same occupancy/queue gauges through its
    * Info/metrics path (/root/reference/internal/rez/mercy.go watchers).
    * Reads are lock-free and approximate under concurrency, as gauges
    * are. */
  def gauges: Map[String, PoolGauge] =
    pools.map { case (name, p) =>
      val size = poolSizes(name)
      name -> PoolGauge(size, size - p.sem.availablePermits(), p.queued.get())
    }
}

/** One pool's occupancy snapshot. */
final case class PoolGauge(size: Int, inUse: Int, queued: Int)

object Admission {
  /** Pool names, mirroring the reference's ResourceIdentifiers where a
    * single-driver Spark engine has an analog. */
  val Write = "write"            // insert/flush/delete commit paths
  val Maintenance = "maintenance" // compact / purge / pyramid rebuild
  val PointOp = "point_op"       // nearest & other driver-completed reads
  val Query = "query"            // daemon-served SQL statements (QueryGate)

  /** Default sizing, scaled from defaults.go's "200,100" ConcurrentOp
    * shape to a single driver's realistic concurrency. */
  def default: Admission = new Admission(
    Map(Write -> 16, Maintenance -> 4, PointOp -> 64), maxQueue = 100)

  /** No-op controller (all pools absent — every op runs unguarded). */
  def unlimited: Admission = new Admission(Map.empty)
}
