package servebench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

import graft.engine.Btrdb

/** The benchmark's own tests: the tail-percentile rule, the generator's
  * expected answers against direct engine reads on a tiny fixture, and
  * a short run of every workload, traced and untraced, that must finish
  * without a failed request. Run with `python3 servebench/run.py
  * --selftest`. */
object SelfTest {
  private def check(cond: Boolean, what: => String): Unit =
    if (!cond) throw new AssertionError(what)

  def run(spark: SparkSession, thriftPort: Int, work: Path, tag: String): Unit = {
    tailRule(); println("selftest: tail rule ok")
    engineAgreement(spark, work); println("selftest: generator answers match the engine")
    for (w <- Workload.names; trace <- Seq("0", "1")) {
      val res = Main.bench(spark, thriftPort, Map("workload" -> w, "seed" -> "7",
        "seconds" -> "2", "trace" -> trace, "work" -> work.toString, "tag" -> tag),
        minCrossings = 0)
      check(res.attempted > 0 && res.failed == 0,
        s"$w trace=$trace: ${res.failed} of ${res.attempted} requests failed")
      println(s"selftest: $w trace=$trace ok (${res.attempted} requests, none failed)")
    }
  }

  def tailRule(): Unit = {
    val want = Seq(10 -> 50.0, 19 -> 50.0, 20 -> 50.0, 39 -> 50.0, 40 -> 75.0,
      99 -> 75.0, 100 -> 90.0, 199 -> 90.0, 200 -> 95.0, 999 -> 95.0, 1000 -> 99.0,
      2000 -> 99.5, 10000 -> 99.9)
    want.foreach { case (n, p) =>
      check(Stats.tailPercentile(n) == p, s"tail percentile of $n samples: " +
        s"${Stats.tailPercentile(n)}, want $p")
      if (p > 50.0)
        check(n * (100.0 - p) / 100.0 >= 10.0 - 1e-9, s"fewer than ten samples beyond p$p at $n")
    }
    val xs = (1 to 100).map(_.toDouble)
    check(Stats.percentile(xs, 90.0) == 90.0, "nearest-rank p90 of 1..100")
    check(Stats.median(xs) == 50.0, "nearest-rank median of 1..100")
    check(Stats.percentile(Seq(3.0, 1.0, 2.0), 99.9) == 3.0, "p99.9 of three samples")
  }

  /** A tiny root with an on-grid and an off-grid stream, three commits
    * on the first (the last a backfill); every answer kind is compared
    * with the generator's expectation. */
  def engineAgreement(spark: SparkSession, work: Path): Unit = {
    val root = work.resolve(s"selftest/root-${ProcessHandle.current().pid()}")
    val db = new Btrdb(spark, root.toString)
    try {
      val specs = Vector(Gen.stream(5L, 0, onGrid = true), Gen.stream(5L, 1, onGrid = false))
      db.createStreams(specs.map(s => (s.uuid, "selftest", Map("s" -> s.idx.toString))))
      val plan = Seq((0, 5000L, 12000L), (0, 12000L, 20000L), (0, 0L, 5000L), (1, 0L, 20000L))
      val model = new Model(specs.map(s => new StreamState(s, Written.empty, Vector.empty, 0)))
      plan.foreach { case (si, lo, hi) =>
        // small batches stage; the flush makes each one a commit
        db.insert(specs(si).uuid, Gen.frame(spark, specs(si), lo, hi))
        db.flush(specs(si).uuid)
        model(si).commit(lo, hi)
      }
      val s0 = model(0); val s1 = model(1)
      val t = (s: StreamState, i: Long) => Gen.time(s.spec, i)

      val generated = Gen.frame(spark, s1.spec, 0, 3000).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      check(generated == (0L until 3000L).map(i => (Gen.time(s1.spec, i), Gen.value(s1.spec, i))),
        "Spark-generated points differ from the generator")

      for (s <- Seq(s0, s1)) {
        val (a, b) = (t(s, 100), t(s, 15000) + 1)
        val raw = db.rawValues(s.spec.uuid, a, b).collect().map(r => (r.getLong(0), r.getDouble(1)))
        check(raw.toSeq == Expect.raw(s.spec, s.written, a, b).toSeq, s"rawValues of ${s.spec.uuid}")
        for (pw <- Seq(30, 33, 36)) {
          val got = db.alignedWindows(s.spec.uuid, t(s, 0), t(s, 19999) + 1, pw).collect()
            .map(r => Stat(r.getAs[Long]("wstart"), r.getAs[Long]("cnt"), r.getAs[Double]("vmin"),
              r.getAs[Double]("vmean"), r.getAs[Double]("vmax"))).toVector
          val want = Expect.aligned(s.spec, s.written, t(s, 0), t(s, 19999) + 1, pw)
          check(got.size == want.size && got.zip(want).forall(x => Expect.sameStat(x._1, x._2)),
            s"alignedWindows pw=$pw of ${s.spec.uuid}: $got vs $want")
        }
        val width = 999999937L
        val got = db.windows(s.spec.uuid, a, b, width).collect()
          .map(r => Stat(r.getAs[Long]("wstart"), r.getAs[Long]("cnt"), r.getAs[Double]("vmin"),
            r.getAs[Double]("vmean"), r.getAs[Double]("vmax"))).toVector
        val want = Expect.windows(s.spec, s.written, a, b, width)
        check(got.size == want.size && got.zip(want).forall(x => Expect.sameStat(x._1, x._2)),
          s"windows of ${s.spec.uuid}")
        for (q <- Seq(t(s, 0) - 5, t(s, 0), t(s, 777) + 3, t(s, 19999), t(s, 19999) + 9);
             back <- Seq(true, false))
          check(db.nearest(s.spec.uuid, q, back) == Expect.nearest(s.spec, s.written, q, back),
            s"nearest($q, backward=$back) of ${s.spec.uuid}")
      }
      for ((from, to) <- Seq((0L, 3L), (1L, 3L), (2L, 3L), (0L, 1L)); res <- Seq(30, 34, 40)) {
        val got = db.changes(s0.spec.uuid, from, to, res).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toVector
        check(got == Expect.changes(s0.spec, s0.commits, from, to, res),
          s"changes($from, $to, $res): $got vs ${Expect.changes(s0.spec, s0.commits, from, to, res)}")
      }
      db.registerViews("bench")
      for ((s, served) <- Seq((s0, true), (s1, false))) {
        val pw = 34
        val lo = (t(s, 10) >> pw) << pw
        val hi = (t(s, 19000) >> pw) << pw
        val sql = Workload.statSql(db.sidOf(s.spec.uuid), pw, lo, hi)
        val df = spark.sql(sql)
        check(graft.plans.PlanChecks.readsPyramidOnly(df) == served,
          s"SQL on ${s.spec.uuid} pyramid-served should be $served")
        val got = df.collect().map(r => Stat(r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4))).toVector
        val want = Expect.aligned(s.spec, s.written, lo, hi, pw, centsMean = served)
        check(got.size == want.size && got.zip(want).forall(x => Expect.sameStat(x._1, x._2)),
          s"SQL of ${s.spec.uuid}: $got vs $want")
      }
    } finally {
      db.close()
      Runner.deleteTree(root)
    }
  }
}
