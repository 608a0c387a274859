package servebench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.engine.{Admission, Btrdb}
import graft.plans.PlanChecks
import graft.wire.GrpcServer

/** One finished request. `startNs` is when it was sent. */
final case class Sample(kind: String, read: Boolean, startNs: Long, ns: Long,
                        error: Option[String], points: Long, bytes: Long) {
  def ok: Boolean = error.isEmpty
  def ms: Double = ns / 1e6
}

/** Thrown by a precondition guard: the run would measure the wrong path. */
final class GuardFailed(msg: String) extends RuntimeException(msg)

/** The serving stack of one set-up: engine, wire endpoint and (for SQL)
  * the JDBC daemon, over a fresh copy of the fixture root, and the
  * workload's requests bound to it. */
final class Stack(val db: Btrdb, val server: GrpcServer, val port: Int,
                  val admission: Admission, val reqs: Requests, val root: Path,
                  val thrift: Option[org.apache.hive.service.server.HiveServer2],
                  val jdbc: Option[java.sql.Connection]) {
  def model: Model = reqs.model
  def close(): Unit = {
    jdbc.foreach(_.close())
    thrift.foreach(_.stop())
    server.stop()
    db.close()
  }
}

/** What a measured phase produced. */
final class PhaseResult(val samples: Seq[Sample], val finalFlushNs: Long,
                        val insertsAcked: Long)

final class Runner(spark: SparkSession, wl: Workload, work: Path, tag: String,
                   seed: Long, thriftPort: Int) {
  val cpus: Int = spark.sparkContext.defaultParallelism
  val runDir: Path = work.resolve(s"runs/${ProcessHandle.current().pid()}")
  val traceFile: Path = work.resolve(s"traces/${wl.name}-seed$seed.jsonl")
  /** Every checked request of the run, measured or not. */
  val all = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
  private def record(s: Sample): Sample = { all.add(s); s }

  // ---- fixture ----------------------------------------------------------

  /** The workload's fixture root, built through the engine facade once
    * per checkout and engine build (`tag`), then only copied. */
  def fixture(): Path = {
    val dir = work.resolve(s"fixtures/$tag/${wl.name}")
    if (Files.exists(dir.resolve("FIXTURE_READY"))) return dir
    val tmp = dir.resolveSibling(s"${wl.name}.tmp-${ProcessHandle.current().pid()}")
    Files.createDirectories(tmp.getParent)
    val t0 = System.nanoTime()
    val db = new Btrdb(spark, tmp.toString)
    try {
      db.createStreams(wl.streams.map(s =>
        (s.uuid, s"bench/${wl.name}", Map("stream" -> s.idx.toString))))
      val versions = scala.collection.mutable.Map.empty[Int, Long]
      wl.plan.foreach { case (si, lo, hi) =>
        val s = wl.streams(si)
        val (maj, minor) = db.insert(s.uuid, Gen.frame(spark, s, lo, hi))
        val want = versions.getOrElse(si, 0L) + 1
        require(maj == want && minor == 0, s"fixture commit of ${s.uuid}: ($maj, $minor)")
        versions(si) = want
      }
    } finally db.close()
    Files.writeString(tmp.resolve("FIXTURE_READY"),
      f"built in ${(System.nanoTime() - t0) / 1e9}%.1f s\n")
    Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
    dir
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val files = Files.walk(from)
    try files.iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally files.close()
  }

  // ---- requests ---------------------------------------------------------

  def exec(t: Transport, op: Op): Sample = {
    op.lock.foreach(_.lock())
    try execUnlocked(t, op) finally op.lock.foreach(_.unlock())
  }

  private def execUnlocked(t: Transport, op: Op): Sample = {
    val c = op.check()
    val t0 = System.nanoTime()
    var bytes = 0L
    val err =
      try {
        val (status, b) = t.call(op.method, op.req)(r => c.onMessage(Rpc.decode(r)))
        bytes = b
        if (status != 0) Some(s"grpc-status $status") else c.error
      } catch { case e: Throwable => Some(e.toString) }
    val t1 = System.nanoTime()
    val s = Sample(op.kind, op.kind != "insert" && op.kind != "flush", t0, t1 - t0,
      err.map(e => s"${op.kind}: $e"), c.points, bytes)
    record(s)
  }

  def execSql(conn: java.sql.Connection, op: SqlOp): Sample = {
    val t0 = System.nanoTime()
    var i = 0
    var pts = 0L
    val err =
      try {
        val st = conn.createStatement()
        try {
          val rs = st.executeQuery(op.sql)
          var bad: Option[String] = None
          while (rs.next()) {
            val got = Stat(rs.getLong(1), rs.getLong(2), rs.getDouble(3),
              rs.getDouble(4), rs.getDouble(5))
            if (bad.isEmpty && !(i < op.expected.size && Expect.sameStat(got, op.expected(i))))
              bad = Some(s"row $i: got $got want ${op.expected.lift(i)}")
            pts += got.count
            i += 1
          }
          bad.orElse(
            if (i != op.expected.size) Some(s"$i rows, want ${op.expected.size}") else None)
        } finally st.close()
      } catch { case e: Throwable => Some(e.toString) }
    val t1 = System.nanoTime()
    record(Sample(op.kind, read = true, t0, t1 - t0, err.map(e => s"${op.kind}: $e"), pts, 0))
  }

  /** Guard: a substitutable statement is served from the pyramid alone,
    * a scan statement never is. */
  def pyramidServed(op: SqlOp): Boolean = PlanChecks.readsPyramidOnly(spark.sql(op.sql))
  def guardPlan(op: SqlOp): Unit =
    if (pyramidServed(op) != op.substitutable)
      throw new GuardFailed(s"${op.kind} statement " +
        s"${if (op.substitutable) "not" else "unexpectedly"} served from the pyramid: ${op.sql}")

  def run(t: Transport, jdbc: Option[java.sql.Connection], o: Either[Op, SqlOp]): Sample =
    o match {
      case Left(op) => exec(t, op)
      case Right(sql) => execSql(jdbc.get, sql)
    }

  // ---- set-up -------------------------------------------------------------

  /** One set-up: open the engine over a fresh fixture copy, start the wire
    * endpoint (and the JDBC daemon) and answer one request of each read
    * kind. Returns the stack and its duration. */
  def setUp(k: Int, fixtureDir: Path): (Stack, Double) = {
    val root = runDir.resolve(s"root$k")
    copyTree(fixtureDir, root)
    val model = wl.freshModel()
    val t0 = System.nanoTime()
    val admission = new Admission(Map(Admission.Write -> 16,
      Admission.Maintenance -> 4, Admission.PointOp -> 64), maxQueue = 100)
    val db = new Btrdb(spark, root.toString, admission = admission)
    val server = new GrpcServer(db, 0)
    val port = server.start()
    val conn = new GrpcConn(port)
    val wire = new WireTransport(conn)
    val (thrift, jdbc) =
      if (!wl.usesJdbc) (None, None)
      else {
        db.registerViews("bench")
        val th = graft.Service.start(spark)
        (Some(th), Some(Runner.connectJdbc(thriftPort)))
      }
    val reqs = wl.open(db, model)
    val rng = new Random(seed * 7919 + k)
    wl.readKinds.foreach { kind =>
      val s = run(wire, jdbc, reqs.op(kind, rng, small = true))
      if (!s.ok) throw new IllegalStateException(s"set-up request failed: ${s.error.get}")
    }
    val dt = (System.nanoTime() - t0) / 1e9
    conn.close()
    val st = new Stack(db, server, port, admission, reqs, root, thrift, jdbc)
    wl.guard(st)
    (st, dt)
  }

  // ---- closed-loop phase --------------------------------------------------

  /** Run the workload's closed-loop clients for `warmS` + `seconds`;
    * samples sent during the warm-up are dropped. Readers switch from
    * warm-up to measurement, and stop, only at the end of a whole cycle
    * of request kinds, so every run measures the same mix. The
    * ingest-mixed writer runs beside the readers and ends with a Flush
    * of every stream, whose time counts as writer time. `atMeasure`
    * runs when the warm-up ends. */
  def phase(st: Stack, seconds: Double, warmS: Double, salt: Long,
            writer: Option[Writer], spans: Option[Collector],
            atMeasure: () => Unit = () => ()): PhaseResult = {
    val t0 = System.nanoTime()
    val from = t0 + (warmS * 1e9).toLong
    val deadline = from + (seconds * 1e9).toLong
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
    def keep(s: Sample, measured: Boolean): Unit = {
      if (measured) out.add(s)
      spans.foreach(_.span(s.kind, -1, s.startNs, s.startNs + s.ns))
    }
    var finalFlush = 0L
    var acked = 0L
    val readers = (0 until wl.readClients).map { c =>
      new Thread(() => {
        val conn = new GrpcConn(st.port)
        val t = new WireTransport(conn)
        val rng = new Random(seed * 1000003L + salt * 101 + c)
        val n = wl.cycle.size
        var k = 0
        var measuring = false
        val checked = scala.collection.mutable.Map.empty[String, Int]
        // at least one measured cycle, however long the warm-up ran
        def more(): Boolean = k % n != 0 || {
          val now = System.nanoTime()
          if (!measuring && now >= from) { measuring = true; true } else now < deadline
        }
        try while (more()) {
          val o = st.reqs.op(wl.cycle((k + c * 3) % n), rng)
          k += 1
          keep(run(t, st.jdbc, o), measuring)
          // plan guard on the first statements of each kind (untimed)
          o.toOption.foreach { sql =>
            if (checked.getOrElse(sql.kind, 0) < 2) {
              guardPlan(sql); checked(sql.kind) = checked.getOrElse(sql.kind, 0) + 1
            }
          }
        } finally conn.close()
      }, s"servebench-reader-$c")
    }
    val writerThread = writer.map { w =>
      new Thread(() => {
        val conn = new GrpcConn(st.port)
        val t = new WireTransport(conn)
        val m = st.model
        def flush(si: Int): Sample = {
          val s = m(si)
          val r = exec(t, w.writing(si, Workload.flushOp(s, s.afterFlush)))
          if (r.ok) s.flushed()
          r
        }
        try {
          var ok = true
          while (ok && System.nanoTime() < deadline) {
            val (si, lo, hi, backfill) = w.next()
            val s = m(si)
            if (!backfill) w.sending(si, hi)
            val r = exec(t, w.writing(si,
              Workload.insertOp(s, lo, hi, sync = false, s.afterInsert(hi - lo))))
            keep(r, r.startNs >= from)
            ok = r.ok
            if (ok) {
              if (s.stage(lo, hi)) w.crossings(si) += 1
              if (!backfill) w.acked(si)
              if (r.startNs >= from) acked += hi - lo
              if (w.batches % 8 == 0) { val f = flush(si); keep(f, f.startNs >= from); ok = f.ok }
            }
          }
          val f0 = System.nanoTime()
          m.streams.indices.foreach(si => ok &&= flush(si).ok)
          finalFlush = System.nanoTime() - f0
        } finally conn.close()
      }, "servebench-writer")
    }
    val marker = new Thread(() => {
      val wait = from - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
      atMeasure()
    }, "servebench-marker")
    val threads = readers ++ writerThread.toSeq :+ marker
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    threads.foreach(_.setUncaughtExceptionHandler((_, e) => failure.compareAndSet(null, e)))
    threads.foreach(_.start())
    threads.foreach(_.join())
    Option(failure.get).foreach(e => throw e)
    new PhaseResult(out.asScala.toSeq, finalFlush, acked)
  }

  // ---- end-to-end metrics -------------------------------------------------

  def duBytes(p: Path): Long = {
    val files = Files.walk(p)
    try files.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally files.close()
  }

  def liveHeapMb(): Double = {
    val rt = Runtime.getRuntime
    System.gc(); Thread.sleep(100); System.gc()
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  /** Request kinds that scan the point log. */
  val ScanKinds = Set("raw", "windows", "sql_scan")

  /** The end-to-end metrics of one phase. */
  def endToEnd(st: Stack, p: PhaseResult, setupS: Double): Map[String, Double] = {
    val reads = p.samples.filter(s => s.read && s.ok)
    require(reads.nonEmpty, "no read completed in the measured window")
    val ms = reads.map(_.ms)
    Map(
      "setup_s" -> setupS,
      "read_p50_ms" -> Stats.median(ms),
      "read_tail_ms" -> Stats.percentile(ms, wl.tailPercentile),
      "scan_pts_per_s" -> {
        val scans = reads.filter(s => ScanKinds(s.kind))
        scans.map(_.points).sum / (scans.map(_.ns).sum / 1e9)
      },
      "stored_bytes_per_user_byte" -> duBytes(st.root).toDouble / (16.0 * st.model.livePoints),
      "live_heap_mb" -> liveHeapMb())
  }

  /** Per-operation medians and counts, printed beside the result. */
  def perOp(p: PhaseResult): Map[String, Double] = {
    val ok = p.samples.filter(_.ok)
    def p50(kind: String) = {
      val xs = ok.filter(_.kind == kind).map(_.ms)
      if (xs.isEmpty) None else Some(Stats.median(xs))
    }
    val names = Seq("nearest" -> "nearest_p50_ms", "raw" -> "raw_p50_ms",
      "aligned" -> "aligned_p50_ms", "changes" -> "changes_p50_ms",
      "windows" -> "windows_p50_ms", "sql_pyramid" -> "sql_pyramid_p50_ms",
      "sql_scan" -> "sql_scan_p50_ms", "insert" -> "insert_p50_ms")
    val inserts = ok.filter(_.kind == "insert").map(_.ms)
    val writeNs = ok.filter(!_.read).map(_.ns).sum + p.finalFlushNs
    names.flatMap { case (k, n) => p50(k).map(n -> _) }.toMap ++
      (if (inserts.isEmpty) Map.empty
       else Map("insert_tail_ms" -> Stats.percentile(inserts, Stats.tailPercentile(inserts.size)),
         "ingest_pts_per_s" -> p.insertsAcked / (writeNs / 1e9))) ++
      Map("error_ratio" -> p.samples.count(!_.ok).toDouble / math.max(1, p.samples.size),
        "read_samples" -> p.samples.count(_.read).toDouble,
        "write_samples" -> p.samples.count(!_.read).toDouble,
        "tail_percentile" -> wl.tailPercentile)
  }
}

object Runner {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val files = Files.walk(p)
    try files.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally files.close()
  }

  /** Closed-loop warm-up before each measured window: the JIT and
    * Spark's code caches settle well after the first requests. */
  val WarmS = 6.0

  def connectJdbc(port: Int): java.sql.Connection = {
    Class.forName("org.apache.hive.jdbc.HiveDriver")
    val deadline = System.currentTimeMillis() + 60000
    var last: Throwable = null
    while (System.currentTimeMillis() < deadline) {
      try return java.sql.DriverManager.getConnection(
        s"jdbc:hive2://localhost:$port/default", "anonymous", "")
      catch { case e: Throwable => last = e; Thread.sleep(200) }
    }
    throw new IllegalStateException(s"JDBC daemon never came up on $port", last)
  }

  def freePort(): Int = {
    val s = new java.net.ServerSocket(0)
    try s.getLocalPort finally s.close()
  }
}
