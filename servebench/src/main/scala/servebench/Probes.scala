package servebench

import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.plans.PlanChecks

/** One request issued three ways: over the wire, through the wire
  * dispatch in-process, and as a direct facade call (build + collect),
  * with the Spark and storage work of the facade call. */
final case class ThreeWay(kind: String, wireMs: Double, handleMs: Double,
                          buildMs: Double, execMs: Double, work: Work,
                          wireBytes: Long, points: Long, pyramid: Option[Boolean]) {
  def facadeMs: Double = buildMs + execMs
}

/** One SQL statement over JDBC and in-session (`spark.sql(...).collect()`). */
final case class SqlTwoWay(kind: String, jdbcMs: Double, sessionMs: Double,
                           work: Work, rows: Long, pyramid: Boolean)

/** The traced run's layer split: requests issued one at a time with
  * nothing else running, each way timed as a span under one probe span. */
final class Probes(r: Runner, spark: SparkSession, st: Stack, c: Collector,
                   seed: Long) {
  private val conn = new GrpcConn(st.port)
  private val wire = new WireTransport(conn)
  private val inproc = new InProcessTransport(st.db)

  private def ms(a: Long, b: Long) = (b - a) / 1e6

  private def facadeSample(kind: String, t0: Long, t1: Long, err: Option[String]): Unit =
    r.all.add(Sample(s"facade.$kind", read = true, t0, t1 - t0, err, 0, 0))

  def read(kind: String, reps: Int): Seq[ThreeWay] = {
    val rng = new Random(seed * 31 + kind.hashCode)
    (0 until reps).map { _ =>
      val op = st.reqs.op(kind, rng).swap.getOrElse(sys.error(s"$kind is SQL"))
      val pid = c.newId()
      val w = r.exec(wire, op)
      c.span("wire", pid, w.startNs, w.startNs + w.ns)
      val h = r.exec(inproc, op)
      c.span("dispatch", pid, h.startNs, h.startNs + h.ns)
      val m0 = c.mark()
      val t0 = System.nanoTime()
      var t1 = t0
      var served: Option[Boolean] = None
      val err =
        try {
          op.direct match {
            case DfCall(build) =>
              val df = build(st.db)
              t1 = System.nanoTime()
              df.collect()
              if (kind == "aligned") {
                val scans = PlanChecks.scanRootPaths(df)
                served = Some(scans.exists(_.contains("pyramid/pw=")) &&
                  !scans.exists(_.endsWith("/points")))
              }
            case PlainCall(run) =>
              run(st.db)
          }
          None
        } catch { case e: Throwable => Some(e.toString) }
      val t2 = System.nanoTime()
      val m1 = c.mark()
      facadeSample(kind, t0, t2, err)
      c.span("facade.build", pid, t0, t1)
      c.span("facade.exec", pid, t1, t2)
      c.add(pid, -1, s"probe.$kind", w.startNs, t2)
      ThreeWay(kind, w.ms, h.ms, ms(t0, t1), ms(t1, t2), m1 - m0, w.bytes, w.points, served)
    }
  }

  /** Inserts of fresh forward batches three ways, each into an empty
    * buffer (so none of them commits), then a timed facade Flush per
    * repetition. Returns the splits and the flush times. */
  def insert(writer: Writer, reps: Int): (Seq[ThreeWay], Seq[Double]) = {
    val flushes = Seq.newBuilder[Double]
    val splits = (0 until reps).map { k =>
      val si = k % st.model.streams.size
      val s = st.model(si)
      def drain(): Unit = if (s.staged > 0) { st.db.flush(s.spec.uuid); s.flushed() }
      def viaWire(t: Transport): Sample = {
        drain()
        val (lo, hi) = writer.forward(si)
        writer.sending(si, hi)
        val res = r.exec(t, Workload.insertOp(s, lo, hi, sync = false, s.afterInsert(hi - lo)))
        if (!res.ok) throw new IllegalStateException(res.error.get)
        if (s.stage(lo, hi)) writer.crossings(si) += 1
        writer.acked(si)
        res
      }
      val pid = c.newId()
      val w = viaWire(wire)
      c.span("wire", pid, w.startNs, w.startNs + w.ns)
      val h = viaWire(inproc)
      c.span("dispatch", pid, h.startNs, h.startNs + h.ns)
      drain()
      val (lo, hi) = writer.forward(si)
      val want = s.afterInsert(hi - lo)
      val pts = (lo until hi).map(i => (Gen.time(s.spec, i), Gen.value(s.spec, i)))
      writer.sending(si, hi)
      val m0 = c.mark()
      val t0 = System.nanoTime()
      val got = st.db.insert(s.spec.uuid, spark.createDataFrame(pts).toDF("time", "value"))
      val t1 = System.nanoTime()
      val m1 = c.mark()
      facadeSample("insert", t0, t1,
        if (got == want) None else Some(s"facade insert answered $got, want $want"))
      if (s.stage(lo, hi)) writer.crossings(si) += 1
      writer.acked(si)
      c.span("facade.exec", pid, t0, t1)
      c.add(pid, -1, "probe.insert", w.startNs, t1)
      val f0 = System.nanoTime()
      val fv = st.db.flush(s.spec.uuid)
      val f1 = System.nanoTime()
      facadeSample("flush", f0, f1,
        if (fv == s.afterFlush) None else Some(s"facade flush answered $fv"))
      s.flushed()
      c.span("probe.flush", -1, f0, f1)
      flushes += ms(f0, f1)
      ThreeWay("insert", w.ms, h.ms, 0.0, ms(t0, t1), m1 - m0, w.bytes, 0, None)
    }
    (splits, flushes.result())
  }

  def sql(kind: String, reps: Int): Seq[SqlTwoWay] = {
    val rng = new Random(seed * 31 + kind.hashCode)
    (0 until reps).map { _ =>
      val op = st.reqs.op(kind, rng).getOrElse(sys.error(s"$kind is not SQL"))
      val pid = c.newId()
      val j = r.execSql(st.jdbc.get, op)
      c.span("jdbc", pid, j.startNs, j.startNs + j.ns)
      val m0 = c.mark()
      val t0 = System.nanoTime()
      val rows = spark.sql(op.sql).collect().length
      val t1 = System.nanoTime()
      val m1 = c.mark()
      c.span("session", pid, t0, t1)
      c.add(pid, -1, s"probe.$kind", j.startNs, t1)
      val served = r.pyramidServed(op)
      if (served != op.substitutable) r.guardPlan(op)
      SqlTwoWay(kind, j.ms, ms(t0, t1), m1 - m0, rows, served)
    }
  }

  def close(): Unit = conn.close()
}
