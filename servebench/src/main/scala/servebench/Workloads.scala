package servebench

import java.util.concurrent.locks.ReentrantReadWriteLock

import scala.util.Random

import graft.engine.Btrdb

/** What one stream holds: the written index set, its commits
  * (version, lo, hi) and the points staged since the last commit. */
final class StreamState(val spec: StreamSpec, var written: Written,
                        var commits: Vector[(Long, Long, Long)], var staged: Long) {
  def major: Long = commits.lastOption.map(_._1).getOrElse(0L)
  def commit(lo: Long, hi: Long): Unit = {
    written = written.add(lo, hi); commits :+= ((major + 1, lo, hi))
  }
  /** Apply an acknowledged buffered insert; true when it crossed the
    * commit threshold (the engine then committed the whole buffer). */
  def stage(lo: Long, hi: Long): Boolean = {
    written = written.add(lo, hi)
    staged += hi - lo
    staged >= Workload.BufferThreshold && { flushed(); true }
  }
  /** The buffer was committed as the next version (ranges not tracked). */
  def flushed(): Unit = if (staged > 0) { commits :+= ((major + 1, -1L, -1L)); staged = 0 }
  /** The (major, minor) an insert of `n` points must answer with. */
  def afterInsert(n: Long): (Long, Long) =
    if (staged + n >= Workload.BufferThreshold) (major + 1, 0L) else (major, staged + n)
  def afterFlush: (Long, Long) = (if (staged > 0) major + 1 else major, 0L)
}

/** The written-set model of a whole engine root. */
final class Model(val streams: Vector[StreamState]) {
  def apply(i: Int): StreamState = streams(i)
  def livePoints: Long = streams.map(_.written.count).sum
}

/** A workload's requests against the root of one set-up, with the
  * per-root state they need (catalog sids, the writer's progress). */
abstract class Requests(val model: Model) {
  /** A request of `kind`; `small` asks for a short range (the set-up's
    * first answers, which should pay lazy initialisation, not scans). */
  def op(kind: String, rng: Random, small: Boolean = false): Either[Op, SqlOp]
  /** A fresh writer beside the readers, for workloads that write. */
  def writer(): Option[Writer] = None
}

/** A workload: its fixture (streams and commit plan, built once per
  * checkout from a fixed fixture seed), its closed-loop readers and, for
  * ingest-mixed, its writer.
  * Request parameters come from the run's `--seed`. */
abstract class Workload {
  def name: String
  def streams: Vector[StreamSpec]
  /** Fixture commits in order: (stream, lo, hi); each is one commit. */
  def plan: Seq[(Int, Long, Long)]
  def readClients: Int
  def readKinds: Seq[String]
  /** The fixed share of each read kind, as one cycle of kinds. */
  def cycle: Seq[String]
  def usesJdbc: Boolean = false
  /** Tail percentile, fixed per workload by the tail rule at the read
    * count the seed commit completes in a run (see README). */
  def tailPercentile: Double
  /** Three-way probes per read kind in the traced run. */
  def probeReps: Int = 5
  /** Bind the workload to a set-up's engine (part of the set-up time). */
  def open(db: Btrdb, m: Model): Requests
  /** Precondition guard after each set-up and at the end of the run;
    * throws [[GuardFailed]] when the run would measure the wrong path. */
  def guard(st: Stack): Unit = ()
  /** End-of-run check of the engine's state against the model. */
  def verify(st: Stack): Option[String] = None

  def freshModel(): Model = new Model(streams.map { s =>
    val st = new StreamState(s, Written.empty, Vector.empty, 0)
    plan.filter(_._1 == s.idx).foreach { case (_, lo, hi) => st.commit(lo, hi) }
    st
  })

  protected def zipf(rng: Random, n: Int): Int = {
    val w = (1 to n).map(k => 1.0 / k)
    var x = rng.nextDouble() * w.sum
    var k = 0
    while (k < n - 1 && x >= w(k)) { x -= w(k); k += 1 }
    k
  }

  /** An index biased toward the newest written data. */
  protected def recent(rng: Random, w: Written): Long = {
    val back = (w.count * math.pow(rng.nextDouble(), 3)).toLong
    math.max(w.first, w.last - back)
  }
}

object Workload {
  val FixtureSeed = 20160222L
  val BatchPoints = 25000L
  val BufferThreshold = 32768L

  def apply(name: String): Workload = name match {
    case "point-reads" => PointReads
    case "scan-analytics" => ScanAnalytics
    case "ingest-mixed" => IngestMixed
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
  val names: Seq[String] = Seq("point-reads", "scan-analytics", "ingest-mixed")

  def nearestOp(s: StreamState, t: Long, backward: Boolean,
                accepted: Set[(Long, Double)]): Op =
    new Op("nearest", "Nearest", Rpc.nearestReq(s.spec.uuid, t, backward),
      () => new NearestCheck(accepted, accepted.isEmpty),
      PlainCall(db => db.nearest(s.spec.uuid, t, backward)))

  def rawOp(kind: String, s: StreamState, start: Long, end: Long): Op = {
    // expected points are computed before the call, outside its timing
    val want = Expect.raw(s.spec, s.written, start, end).toArray
    new Op(kind, "RawValues", Rpc.rawReq(s.spec.uuid, start, end),
      () => new RawCheck(want.map(_._1), want.map(_._2)),
      DfCall(db => db.rawValues(s.spec.uuid, start, end)))
  }

  def alignedOp(s: StreamState, start: Long, end: Long, pw: Int): Op = {
    val want = Expect.aligned(s.spec, s.written, start, end, pw)
    new Op("aligned", "AlignedWindows", Rpc.alignedReq(s.spec.uuid, start, end, pw),
      () => new StatCheck(Seq(want)),
      DfCall(db => db.alignedWindows(s.spec.uuid, start, end, pw)))
  }

  def insertOp(s: StreamState, lo: Long, hi: Long, sync: Boolean,
               want: (Long, Long)): Op = {
    val pts = (lo until hi).map(i => (Gen.time(s.spec, i), Gen.value(s.spec, i)))
    new Op("insert", "Insert", Rpc.insertReq(s.spec.uuid, pts.iterator, sync),
      () => new VersionCheck(want),
      PlainCall { db =>
        val df = db.spark.createDataFrame(pts).toDF("time", "value")
        db.insert(s.spec.uuid, df)
      })
  }

  def flushOp(s: StreamState, want: (Long, Long)): Op =
    new Op("flush", "Flush", Rpc.flushReq(s.spec.uuid), () => new VersionCheck(want),
      PlainCall(db => db.flush(s.spec.uuid)))

  /** Stat-shaped SQL over the points view, grouped by 2^pw windows. */
  def statSql(sid: Long, pw: Int, lo: Long, hi: Long): String =
    s"SELECT shiftleft(shiftright(time, $pw), $pw) AS w, count(*) AS cnt, " +
      "min(value) AS vmin, avg(value) AS vmean, max(value) AS vmax " +
      s"FROM bench_points WHERE sid = $sid AND time >= $lo AND time < $hi " +
      "GROUP BY 1 ORDER BY w"
}

/** Small reads on a hot, fully committed fixture: per-request fixed cost
  * dominates. */
object PointReads extends Workload {
  val name = "point-reads"
  val N = 240000L
  val streams: Vector[StreamSpec] =
    Vector.tabulate(8)(i => Gen.stream(Workload.FixtureSeed, i, onGrid = true))
  // three commits per stream, the last a backfill older than the rest
  val plan: Seq[(Int, Long, Long)] = streams.indices.flatMap(i =>
    Seq((i, 36000L, 120000L), (i, 120000L, N), (i, 0L, 36000L)))
  val readClients = 2
  val readKinds: Seq[String] = Seq("nearest", "raw", "aligned", "changes")
  val cycle: Seq[String] =
    Seq("nearest", "raw", "aligned", "nearest", "changes", "raw", "aligned", "nearest")
  val tailPercentile = 75.0

  def open(db: Btrdb, m: Model): Requests = new Requests(m) {
    def op(kind: String, rng: Random, small: Boolean): Either[Op, SqlOp] = request(kind, m, rng)
  }

  /** Every point is committed: a staged point would send reads through
    * the staging merge this workload is meant to bypass. */
  override def guard(st: Stack): Unit = st.model.streams.foreach { s =>
    val (_, minor) = st.db.version(s.spec.uuid)
    if (minor != 0) throw new GuardFailed(s"point-reads: ${s.spec.uuid} has $minor staged points")
  }

  private def request(kind: String, m: Model, rng: Random): Either[Op, SqlOp] = {
    val s = m(zipf(rng, streams.size))
    val spec = s.spec
    Left(kind match {
      case "nearest" =>
        val t = Gen.time(spec, recent(rng, s.written)) + rng.nextLong(Gen.Period) - Gen.Period / 2
        val back = rng.nextBoolean()
        Workload.nearestOp(s, t, back, Expect.nearest(spec, s.written, t, back).toSet)
      case "raw" =>
        val len = 4000 + rng.nextInt(1001)
        val i0 = math.max(s.written.first, recent(rng, s.written) - len)
        Workload.rawOp("raw", s, Gen.time(spec, i0), Gen.time(spec, i0 + len))
      case "aligned" =>
        // 16 windows at a level the pyramid serves; cost barely varies
        val pw = Seq(36, 38, 40)(rng.nextInt(3))
        val end = ((Gen.time(spec, recent(rng, s.written)) >> pw) + 1) << pw
        Workload.alignedOp(s, end - (16L << pw), end, pw)
      case "changes" =>
        val v = s.commits.map(_._1)
        val to = v(1 + rng.nextInt(v.size - 1))
        val from = rng.nextLong(to)
        val res = 30 + rng.nextInt(11)
        new Op("changes", "Changes", Rpc.changesReq(spec.uuid, from, to, res),
          () => new ChangesCheck(Expect.changes(spec, s.commits, from, to, res)),
          DfCall(db => db.changes(spec.uuid, from, to, res)))
    })
  }
}

/** Wide reads over all streams and the full history: scan, codec
  * streaming and Spark parallelism dominate; nothing is reused. */
object ScanAnalytics extends Workload {
  val name = "scan-analytics"
  val N = 3000000L
  // two on-grid streams (pyramid-served SQL) and two off-grid ones
  val streams: Vector[StreamSpec] =
    Vector.tabulate(4)(i => Gen.stream(Workload.FixtureSeed, i, onGrid = i < 2))
  val plan: Seq[(Int, Long, Long)] = streams.indices.flatMap(i =>
    Seq((i, 0L, N / 2), (i, N / 2, N)))
  val readClients = 1
  val readKinds: Seq[String] = Seq("raw", "windows", "sql_pyramid", "sql_scan")
  // two of each kind but Windows: the median lands inside the
  // fall-through SQL's latency cluster, not on a boundary between two
  val cycle: Seq[String] =
    Seq("raw", "sql_pyramid", "windows", "sql_scan", "raw", "sql_pyramid", "sql_scan")
  override val usesJdbc = true
  val tailPercentile = 50.0
  /** Non-power-of-two window widths (ns): the raw-aggregate path. */
  val Widths: Seq[Long] = Seq(7000000033L, 13000000019L, 29999999999L)
  override val probeReps = 3

  def open(db: Btrdb, m: Model): Requests = new Requests(m) {
    /** stream index -> sid, from the set-up's catalog */
    private val sids = streams.map(s => s.idx -> db.sidOf(s.uuid)).toMap
    def op(kind: String, rng: Random, small: Boolean): Either[Op, SqlOp] =
      request(kind, m, sids, rng, small)
  }

  private def span(rng: Random, s: StreamState, small: Boolean): (Long, Long) = {
    val len = if (small) 20000L else 600000L + rng.nextLong(50000L)
    val i0 = s.written.first + rng.nextLong(s.written.count - len)
    (i0, i0 + len)
  }

  private def request(kind: String, m: Model, sids: Map[Int, Long], rng: Random,
                      small: Boolean): Either[Op, SqlOp] = kind match {
    case "raw" =>
      // on-grid streams only: off-grid values compress worse, and with a
      // few scans per run a random mix of the two would dominate the spread
      val s = m(rng.nextInt(2))
      val (a, b) = span(rng, s, small)
      Left(Workload.rawOp("raw", s, Gen.time(s.spec, a), Gen.time(s.spec, b)))
    case "windows" =>
      val s = m(rng.nextInt(streams.size))
      val (a, b) = span(rng, s, small)
      val width = Widths(rng.nextInt(Widths.size))
      val (start, end) = (Gen.time(s.spec, a), Gen.time(s.spec, b))
      val want = Expect.windows(s.spec, s.written, start, end, width)
      Left(new Op("windows", "Windows", Rpc.windowsReq(s.spec.uuid, start, end, width),
        () => new StatCheck(Seq(want)),
        DfCall(db => db.windows(s.spec.uuid, start, end, width))))
    case "sql_pyramid" =>
      val s = m(rng.nextInt(2))
      val pw = Seq(36, 38, 40)(rng.nextInt(3))
      val (a, b) = span(rng, s, small)
      val lo = (Gen.time(s.spec, a) >> pw) << pw
      val hi = (Gen.time(s.spec, b) >> pw) << pw
      Right(new SqlOp("sql_pyramid", Workload.statSql(sids(s.spec.idx), pw, lo, hi),
        Expect.aligned(s.spec, s.written, lo, hi, pw), substitutable = true))
    case "sql_scan" =>
      // an off-grid stream: avg must not come from the pyramid's cents sums
      val s = m(2 + rng.nextInt(2))
      val pw = Seq(36, 38, 40)(rng.nextInt(3))
      val (a, b) = span(rng, s, small)
      val lo = (Gen.time(s.spec, a) >> pw) << pw
      val hi = (Gen.time(s.spec, b) >> pw) << pw
      Right(new SqlOp("sql_scan", Workload.statSql(sids(s.spec.idx), pw, lo, hi),
        Expect.grouped(s.spec, s.written, lo, hi, t => (t >> pw) << pw, centsMean = false),
        substitutable = false))
  }
}

/** A wire writer at the reference client's batching beside a reader on
  * the streams being written: the commit path does most of the work and
  * reads go through the staging merge. */
object IngestMixed extends Workload {
  val name = "ingest-mixed"
  /** Indices [0, Reserve) stay free for backfill batches. */
  val Reserve = 250000L
  val Seeded = 200000L
  val streams: Vector[StreamSpec] =
    Vector.tabulate(2)(i => Gen.stream(Workload.FixtureSeed, i, onGrid = true))
  val plan: Seq[(Int, Long, Long)] = streams.indices.map(i => (i, Reserve, Reserve + Seeded))
  val readClients = 1
  val readKinds: Seq[String] = Seq("nearest", "aligned", "raw")
  val cycle: Seq[String] = readKinds
  val tailPercentile = 50.0

  def open(db: Btrdb, m: Model): Requests = new Requests(m) {
    private val progress = new Progress(m)
    private val locks = new StreamLocks(m.streams.size)
    def op(kind: String, rng: Random, small: Boolean): Either[Op, SqlOp] =
      request(kind, m, progress, locks, rng)
    override def writer(): Option[Writer] = Some(new Writer(m, progress, locks))
  }

  /** Every acknowledged point is committed once the writer's final
    * Flush is answered, and nothing is left staged. */
  override def verify(st: Stack): Option[String] =
    st.model.streams.collectFirst(Function.unlift { s =>
      val n = st.db.pointsAt(s.spec.uuid).count()
      val (_, minor) = st.db.version(s.spec.uuid)
      if (n != s.written.count || minor != 0)
        Some(s"${s.spec.uuid}: $n committed + $minor staged, want ${s.written.count}")
      else None
    })

  private def request(kind: String, m: Model, progress: Progress, locks: StreamLocks,
                      rng: Random): Either[Op, SqlOp] = {
    val si = rng.nextInt(streams.size)
    val s = m(si)
    Left(locks.reading(si, kind match {
      case "nearest" =>
        // latest version, backward from +infinity: the newest point of
        // whichever forward batch was last applied while the call ran
        val from = progress.ackedCount(si)
        val op = Workload.nearestOp(s, graft.core.TimeConsts.MaximumTime, backward = true, Set.empty)
        new Op(op.kind, op.method, op.req, () => new NearestCheck(
          progress.endsSince(si, from).map(e => (Gen.time(s.spec, e - 1),
            Gen.value(s.spec, e - 1))).toSet, expectNone = false), op.direct)
      case "aligned" =>
        // the seeded region, which the writer never touches: the answer
        // is exact while the stream's staging buffer is merged in
        val pw = Seq(36, 38)(rng.nextInt(2))
        val a = Reserve + rng.nextLong(Seeded / 2)
        val b = a + Seeded / 4 + rng.nextLong(Seeded / 4)
        Workload.alignedOp(s, Gen.time(s.spec, a), Gen.time(s.spec, b), pw)
      case "raw" =>
        val a = Reserve + rng.nextLong(Seeded - 5000)
        Workload.rawOp("raw", s, Gen.time(s.spec, a), Gen.time(s.spec, a + 4000 + rng.nextInt(1001)))
    }))
  }

}

/** The writer's shared progress, for the reader's race-tolerant checks:
  * per stream, the end index after each forward batch sent and how many
  * of them were acknowledged. */
final class Progress(m: Model) {
  private val ends = m.streams.map(s => Vector(s.written.last + 1)).toArray
  private val acked = Array.fill(m.streams.size)(1)
  def sending(i: Int, end: Long): Unit = synchronized { ends(i) :+= end }
  def ack(i: Int): Unit = synchronized { acked(i) += 1 }
  def ackedCount(i: Int): Int = synchronized(acked(i))
  /** Forward ends that were current at some moment since `from`. */
  def endsSince(i: Int, from: Int): Seq[Long] = synchronized(ends(i).drop(from - 1))
}

/** The engine does not isolate a latest-version read from a flush of the
  * same stream: the flush deletes staging files the read has already
  * listed (FILE_NOT_EXIST). So a reader never reads a stream while the
  * writer has an insert or flush of it in flight; both still run
  * concurrently on the stream set. */
final class StreamLocks(n: Int) {
  private val locks = Array.fill(n)(new ReentrantReadWriteLock(true))
  def reading(si: Int, op: Op): Op =
    new Op(op.kind, op.method, op.req, op.check, op.direct, Some(locks(si).readLock()))
  def writing(si: Int, op: Op): Op =
    new Op(op.kind, op.method, op.req, op.check, op.direct, Some(locks(si).writeLock()))
}

/** The ingest-mixed writer. Its k-th batch is (stream, lo, hi): batches
  * alternate streams; every tenth is a backfill below the seeded region.
  * Forward batches are reported to the readers' [[Progress]]. */
final class Writer(m: Model, progress: Progress, locks: StreamLocks) {
  private var k = 0
  private val fwd = m.streams.map(_.written.last + 1).toArray
  private val back = Array.fill(m.streams.size)(IngestMixed.Reserve)
  val crossings: Array[Int] = Array.fill(m.streams.size)(0)
  def next(): (Int, Long, Long, Boolean) = {
    val si = k % m.streams.size
    val backfill = k % 10 == 9 && back(si) >= Workload.BatchPoints
    k += 1
    if (backfill) {
      back(si) -= Workload.BatchPoints
      (si, back(si), back(si) + Workload.BatchPoints, true)
    } else {
      fwd(si) += Workload.BatchPoints
      (si, fwd(si) - Workload.BatchPoints, fwd(si), false)
    }
  }
  def batches: Int = k
  /** The next forward batch of stream `si`, outside the batch cycle. */
  def forward(si: Int): (Long, Long) = {
    fwd(si) += Workload.BatchPoints
    (fwd(si) - Workload.BatchPoints, fwd(si))
  }
  /** A forward batch of stream `si` ending at `end` is being sent. */
  def sending(si: Int, end: Long): Unit = progress.sending(si, end)
  /** The forward batch last sent to stream `si` was acknowledged. */
  def acked(si: Int): Unit = progress.ack(si)
  /** `op` on stream `si`, exclusive of the readers of that stream. */
  def writing(si: Int, op: Op): Op = locks.writing(si, op)
}
