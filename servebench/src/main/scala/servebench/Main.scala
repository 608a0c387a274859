package servebench

import java.nio.file.{Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.engine.Admission

/** The serving benchmark. One JVM runs the engine, its HTTP/2 gRPC
  * endpoint, (for scan-analytics) the JDBC daemon, and seeded
  * closed-loop clients over loopback. Prints a report line, then one
  * result line: end-to-end metrics with `--trace 0`, per-layer metrics
  * from a traced run with `--trace 1`. Run it through `run.py`. */
object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "read_p50_ms" -> "ms", "read_tail_ms" -> "ms",
    "scan_pts_per_s" -> "pts/s", "stored_bytes_per_user_byte" -> "B/B",
    "live_heap_mb" -> "MB")

  val WireOps = Seq("nearest", "raw", "aligned", "changes", "windows", "insert")
  val BuildOps = Seq("raw", "aligned", "changes", "windows")
  val SparkOps = Seq("nearest", "raw", "aligned", "changes", "windows",
    "sql_pyramid", "sql_scan", "insert")

  /** Every per-layer metric with its unit, in report order. */
  val PerLayer: Seq[(String, String)] =
    WireOps.map(o => s"wire.transport_ms.$o" -> "ms") ++
      WireOps.map(o => s"wire.dispatch_ms.$o" -> "ms") ++
      Seq("wire.response_bytes_per_point" -> "B/pt") ++
      BuildOps.map(o => s"engine.build_ms.$o" -> "ms") ++
      WireOps.map(o => s"engine.exec_ms.$o" -> "ms") ++
      WireOps.map(o => s"engine.jobs_per_op.$o" -> "count") ++
      Seq("engine.insert_ms" -> "ms", "engine.flush_ms" -> "ms",
        "engine.admission_queued_max" -> "count", "engine.pyramid_served_ratio" -> "ratio") ++
      Seq("stages_per_op" -> "count", "tasks_per_op" -> "count", "sched_delay_ms" -> "ms",
        "plan_ms" -> "ms", "task_ms_per_op" -> "ms", "input_bytes_per_op" -> "B",
        "shuffle_bytes_per_op" -> "B").flatMap { case (m, u) =>
        SparkOps.map(o => s"spark.$m.$o" -> u) } ++
      Seq("spark.parallelism" -> "ratio", "spark.gc_ms" -> "ms",
        "plans.pyramid_hit_ratio" -> "ratio", "plans.rows_scanned_per_row_returned" -> "ratio",
        "service.overhead_ms" -> "ms",
        "storage.bytes_written_per_user_byte" -> "B/B", "storage.write_ops_per_insert" -> "count") ++
      SparkOps.map(o => s"storage.bytes_read_per_op.$o" -> "B") ++
      Seq("jvm.gc_ms" -> "ms")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code =
      try {
        val work = Paths.get(opts("work"))
        val (spark, thriftPort) = session(work)
        if (opts.contains("selftest")) SelfTest.run(spark, thriftPort, work, opts("tag"))
        else {
          val res = bench(spark, thriftPort, opts)
          println(Json.obj(Seq("report" -> res.report)))
          println(res.line)
        }
        0
      } catch {
        case g: GuardFailed =>
          System.err.println(s"servebench: precondition guard failed: ${g.getMessage}"); 3
        case e: Throwable =>
          e.printStackTrace(); 1
      }
    System.out.flush()
    // the JDBC daemon leaves non-daemon threads behind
    System.exit(code)
  }

  def session(work: Path): (SparkSession, Int) = {
    System.setProperty("spark.local.dir", work.resolve("tmp").toString)
    val thriftPort = Runner.freePort()
    val spark = graft.Service.buildSession(thriftPort,
      Runtime.getRuntime.availableProcessors())
    spark.sparkContext.setLogLevel("ERROR")
    (spark, thriftPort)
  }

  /** A finished run: the report, the result line and its counts. */
  final case class Result(report: Seq[(String, Any)], line: String, attempted: Int,
                          failed: Int)

  /** One run. `minCrossings` is the ingest-mixed guard's minimum of
    * buffer-threshold crossings per stream (3; the self-test's
    * short runs cannot reach it). */
  def bench(spark: SparkSession, thriftPort: Int, opts: Map[String, String],
            minCrossings: Int = 3): Result = {
    val wl = Workload(opts("workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work"))
    if (wl.usesJdbc)
      graft.plans.QueryGate.install(spark, new Admission(
        Map(Admission.Query -> spark.sparkContext.defaultParallelism),
        maxQueue = 4 * spark.sparkContext.defaultParallelism))
    val r = new Runner(spark, wl, work, opts("tag"), seed, thriftPort)
    val clock = scala.collection.mutable.LinkedHashMap[String, Any](
      "jvm_to_session_s" -> (System.currentTimeMillis() -
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)
    def lap[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime(); val x = f; clock(name) = (System.nanoTime() - t0) / 1e9; x
    }
    val fixtureDir = lap("fixture_s")(r.fixture())
    val setups = ArrayBuffer.empty[Double]
    var st: Stack = null
    lap("setups_s")(for (k <- 0 until 3) {
      if (st != null) st.close()
      val (s, dt) = r.setUp(k, fixtureDir)
      st = s; setups += dt
    })
    val setupS = Stats.median(setups.toSeq)
    val writer = st.reqs.writer()
    val report = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> wl.name, "seed" -> seed, "trace" -> (if (trace) 1 else 0),
      "setup_runs_s" -> setups.toSeq)

    def guards(): Unit = {
      wl.guard(st)
      wl.verify(st).foreach(e => r.all.add(Sample("verify", read = false, 0, 0, Some(e), 0, 0)))
    }
    def crossingGuard(): Unit = writer.foreach { w =>
      report("buffer_crossings") = w.crossings.toSeq
      if (w.crossings.exists(_ < minCrossings))
        throw new GuardFailed(s"ingest-mixed: a stream crossed the buffer threshold " +
          s"fewer than $minCrossings times (${w.crossings.mkString(",")})")
    }

    val metrics: Seq[(String, String, Double)] = lap("measure_s") {
      if (!trace) {
        val p = r.phase(st, seconds, Runner.WarmS, 1, writer, None)
        guards(); crossingGuard()
        report("per_op") = r.perOp(p)
        val e = r.endToEnd(st, p, setupS)
        EndToEnd.map { case (n, u) => (n, u, e(n)) }
      } else {
        val (pl, overhead) = traced(spark, r, wl, st, seed, seconds, setups.last,
          fixtureDir, writer, report, s => st = s)
        guards(); crossingGuard()
        report("trace_overhead") = overhead
        PerLayer.map { case (n, u) => (n, u, pl.getOrElse(n, 0.0)) }
      }
    }
    lap("teardown_s") { st.close(); Runner.deleteTree(r.runDir) }
    report("clock") = clock

    val samples = scala.jdk.CollectionConverters.CollectionHasAsScala(r.all).asScala.toSeq
    val failed = samples.count(!_.ok)
    samples.filterNot(_.ok).take(5).foreach(s => System.err.println(s"failed: ${s.error.get}"))
    val finite = metrics.forall(m => !m._3.isNaN && !m._3.isInfinite)
    Result(report.toSeq, Json.obj(Seq(
      "correct" -> (failed == 0 && finite),
      "attempted" -> samples.size,
      "failed" -> failed,
      "metrics" -> metrics.map { case (n, u, v) =>
        n -> Seq("value" -> (if (finite) v else 0.0), "unit" -> u) })),
      samples.size, failed)
  }

  /** The traced run: an untraced half, then a traced set-up, a traced
    * half and the three-way probes. Both halves run after the same
    * warm-up, and the traced set-up is compared with the last untraced
    * one (`lastSetupS`), both in a warm JVM. Returns the per-layer
    * metrics and the tracing overhead (traced minus untraced) of each
    * end-to-end metric. */
  private def traced(spark: SparkSession, r: Runner, wl: Workload, st0: Stack,
                     seed: Long, seconds: Double, lastSetupS: Double,
                     fixtureDir: Path, writer: Option[Writer],
                     report: scala.collection.mutable.Map[String, Any],
                     swap: Stack => Unit): (Map[String, Double], Map[String, Double]) = {
    val half = seconds / 2
    val pU = r.phase(st0, half, Runner.WarmS, 1, writer, None)
    val eU = r.endToEnd(st0, pU, lastSetupS)
    report("per_op") = r.perOp(pU)

    val c = new Collector(spark)
    st0.close()
    c.start()
    val (st, tracedSetup) = r.setUp(3, fixtureDir)
    swap(st)
    // the traced stack starts from the fixture again, and so does its writer
    val w = st.reqs.writer()
    // layer counters cover the measured window, as the samples do
    var sampler: Sampler = null
    var m0: Work = null
    var gc0 = 0L
    var t0 = 0L
    val pT = r.phase(st, half, Runner.WarmS, 2, w, Some(c), () => {
      sampler = new Sampler(st.admission, st.root)
      m0 = c.mark(); gc0 = Collector.gcMs(); t0 = System.nanoTime()
    })
    val wallMs = (System.nanoTime() - t0) / 1e6
    val m1 = c.mark()
    val gc1 = Collector.gcMs()
    val (queued, filesCreated) = sampler.stop()
    val eT = r.endToEnd(st, pT, tracedSetup)

    val probes = new Probes(r, spark, st, c, seed)
    val reads = wl.readKinds.filterNot(_.startsWith("sql"))
      .flatMap(k => probes.read(k, wl.probeReps))
    val sqls = wl.readKinds.filter(_.startsWith("sql")).flatMap(k => probes.sql(k, 3))
    val (inserts, flushes) = w.map(probes.insert(_, 4)).getOrElse((Nil, Nil))
    w.foreach { x =>
      st.model.streams.indices.foreach { si =>
        val s = st.model(si); st.db.flush(s.spec.uuid); s.flushed() }
      // the guard counts crossings over the whole run
      x.crossings.indices.foreach(i => writer.get.crossings(i) += x.crossings(i))
    }
    probes.close()
    c.stop()
    c.dump(r.traceFile)
    report("spans") = r.traceFile.toString

    val pl = scala.collection.mutable.Map.empty[String, Double]
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val three = reads ++ inserts
    three.groupBy(_.kind).foreach { case (k, xs) =>
      pl(s"wire.transport_ms.$k") = med(xs.map(_.wireMs)) - med(xs.map(_.handleMs))
      pl(s"wire.dispatch_ms.$k") = med(xs.map(_.handleMs)) - med(xs.map(_.facadeMs))
      if (BuildOps.contains(k)) pl(s"engine.build_ms.$k") = med(xs.map(_.buildMs))
      pl(s"engine.exec_ms.$k") = med(xs.map(_.execMs))
      pl(s"engine.jobs_per_op.$k") = med(xs.map(_.work.jobs.toDouble))
    }
    val sparkRecs: Seq[(String, Work)] =
      three.map(x => x.kind -> x.work) ++ sqls.map(x => x.kind -> x.work)
    sparkRecs.groupBy(_._1).foreach { case (k, xs) =>
      val ws = xs.map(_._2)
      pl(s"spark.stages_per_op.$k") = med(ws.map(_.stages.toDouble))
      pl(s"spark.tasks_per_op.$k") = med(ws.map(_.tasks.toDouble))
      pl(s"spark.sched_delay_ms.$k") = med(ws.map(_.schedDelayMs))
      pl(s"spark.plan_ms.$k") = med(ws.map(_.planMs))
      pl(s"spark.task_ms_per_op.$k") = med(ws.map(_.taskMs))
      pl(s"spark.input_bytes_per_op.$k") = med(ws.map(_.inputBytes.toDouble))
      pl(s"spark.shuffle_bytes_per_op.$k") = med(ws.map(_.shuffleBytes.toDouble))
      pl(s"storage.bytes_read_per_op.$k") = med(ws.map(_.fsBytesRead.toDouble))
    }
    val readWire = reads.filter(_.points > 0)
    if (readWire.nonEmpty)
      pl("wire.response_bytes_per_point") =
        readWire.map(_.wireBytes).sum.toDouble / readWire.map(_.points).sum
    if (inserts.nonEmpty) pl("engine.insert_ms") = med(inserts.map(_.execMs))
    if (flushes.nonEmpty) pl("engine.flush_ms") = med(flushes)
    pl("engine.admission_queued_max") = queued
    val aligned = reads.flatMap(_.pyramid)
    if (aligned.nonEmpty) pl("engine.pyramid_served_ratio") = aligned.count(identity).toDouble / aligned.size
    val phase = m1 - m0
    pl("spark.parallelism") = phase.taskMs / (wallMs * r.cpus)
    pl("spark.gc_ms") = phase.gcMs
    pl("jvm.gc_ms") = (gc1 - gc0).toDouble
    val subst = sqls.filter(_.kind == "sql_pyramid")
    if (subst.nonEmpty) pl("plans.pyramid_hit_ratio") = subst.count(_.pyramid).toDouble / subst.size
    if (sqls.nonEmpty) {
      pl("plans.rows_scanned_per_row_returned") =
        sqls.map(_.work.recordsRead).sum.toDouble / math.max(1L, sqls.map(_.rows).sum)
      pl("service.overhead_ms") = med(sqls.map(_.jdbcMs)) - med(sqls.map(_.sessionMs))
    }
    val ackedPts = pT.insertsAcked
    if (ackedPts > 0) {
      pl("storage.bytes_written_per_user_byte") = phase.fsBytesWritten.toDouble / (16.0 * ackedPts)
      pl("storage.write_ops_per_insert") =
        filesCreated.toDouble / pT.samples.count(s => s.kind == "insert" && s.ok)
    }
    val overhead = EndToEnd.map { case (n, _) => n -> (eT(n) - eU(n)) }.toMap
    (pl.toMap, overhead)
  }
}

/** Just enough JSON for the result lines. */
object Json {
  def value(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case kv: Seq[_] if kv.nonEmpty && kv.forall(_.isInstanceOf[(_, _)]) =>
      obj(kv.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
