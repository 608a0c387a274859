package servebench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

/** One generated stream: a PMU-like series at a fixed rate with seeded
  * jitter. Point `i` lies at `t0 + i * Period + jitter(i)` with
  * `jitter < Period`, so times strictly increase with `i` and an index
  * range is a time range. Values follow a slow triangle wave plus
  * seeded noise; on-grid streams hold exact cents values (so pyramid
  * avg/sum substitution applies), off-grid streams carry a third
  * decimal (so avg/sum SQL must fall through to the point log). */
final case class StreamSpec(idx: Int, uuid: String, key: Long, t0: Long,
                            onGrid: Boolean)

object Gen {
  val Period = 8333333L // 120 Hz
  val Jitter = 1000000L // < Period: times stay strictly increasing
  val T0 = 1700000000000000000L
  val BaseCents = 600000L

  def stream(fixtureSeed: Long, idx: Int, onGrid: Boolean): StreamSpec = {
    val key = XXH64.hashLong(idx.toLong, fixtureSeed)
    StreamSpec(idx, f"5e7b0000-0000-4000-8000-${idx + 1}%012d", key,
      T0 + idx * 7919L, onGrid)
  }

  // Spark's xxhash64(lit(a), col(b)) is XXH64.hashLong(b, XXH64.hashLong(a, 42))
  private def h(key: Long, salt: Long, i: Long): Long =
    XXH64.hashLong(i, XXH64.hashLong(key + salt, 42L))

  def time(s: StreamSpec, i: Long): Long =
    s.t0 + i * Period + Math.floorMod(h(s.key, 1, i), Jitter)

  def cents(s: StreamSpec, i: Long): Long =
    BaseCents + math.abs(Math.floorMod(i, 2400L) - 1200L) * 5 +
      Math.floorMod(h(s.key, 2, i), 201L) - 100

  def value(s: StreamSpec, i: Long): Double =
    if (s.onGrid) cents(s, i) / 100.0
    else (cents(s, i) * 10 + Math.floorMod(h(s.key, 3, i), 9L) + 1) / 1000.0

  private def hc(s: StreamSpec, salt: Long): Column =
    xxhash64(lit(s.key + salt), col("id"))

  /** Points [lo, hi) of `s` as a (time, value) frame, computed by Spark
    * with the same arithmetic as [[time]] and [[value]]. */
  def frame(spark: SparkSession, s: StreamSpec, lo: Long, hi: Long): DataFrame = {
    val i = col("id")
    val c = lit(BaseCents) + abs(pmod(i, lit(2400L)) - lit(1200L)) * lit(5L) +
      pmod(hc(s, 2), lit(201L)) - lit(100L)
    val v =
      if (s.onGrid) c / lit(100.0)
      else (c * lit(10L) + pmod(hc(s, 3), lit(9L)) + lit(1L)) / lit(1000.0)
    spark.range(lo, hi).select(
      (lit(s.t0) + i * lit(Period) + pmod(hc(s, 1), lit(Jitter))).as("time"),
      v.as("value"))
  }

  /** Smallest index whose time is >= t (may be negative or past any
    * written range; callers clip against the written set). */
  def indexAtOrAfter(s: StreamSpec, t: Long): Long = {
    var i = Math.floorDiv(t - s.t0, Period) - 1
    while (time(s, i) < t) i += 1
    while (time(s, i - 1) >= t) i -= 1
    i
  }

  /** The engine's exact cents of a value (StatOps.cents: HALF_UP
    * round of v * 100). */
  def engineCents(v: Double): Long =
    BigDecimal(v * 100).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
}

/** Sorted disjoint index intervals [lo, hi) of the points written to one
  * stream — the model every expected answer is computed from. */
final class Written(val spans: Vector[(Long, Long)]) {
  def add(lo: Long, hi: Long): Written = {
    val all = (spans :+ ((lo, hi))).sortBy(_._1)
    val merged = all.foldLeft(Vector.empty[(Long, Long)]) {
      case (acc, (a, b)) if acc.nonEmpty && a <= acc.last._2 =>
        require(a == acc.last._2, s"overlapping write [$a, $b)")
        acc.init :+ ((acc.last._1, math.max(acc.last._2, b)))
      case (acc, x) => acc :+ x
    }
    new Written(merged)
  }
  def count: Long = spans.map(p => p._2 - p._1).sum
  def first: Long = spans.head._1
  def last: Long = spans.last._2 - 1
  /** Written indices within [lo, hi), ascending. */
  def indices(lo: Long, hi: Long): Iterator[Long] =
    spans.iterator.flatMap { case (a, b) =>
      val x = math.max(a, lo); val y = math.min(b, hi)
      if (x < y) Iterator.range(x, y) else Iterator.empty
    }
  def firstAtOrAfter(i: Long): Option[Long] =
    spans.collectFirst { case (a, b) if b > i => math.max(a, i) }
  def lastBefore(i: Long): Option[Long] =
    spans.reverseIterator.collectFirst { case (a, b) if a < i => math.min(b, i) - 1 }
}

object Written {
  val empty = new Written(Vector.empty)
}

/** A window's expected statistics. */
final case class Stat(start: Long, count: Long, min: Double, mean: Double,
                      max: Double)

/** Expected answers, computed from the generator and the written-set
  * model only — never read back from the engine. */
object Expect {
  def raw(s: StreamSpec, w: Written, start: Long, end: Long): Iterator[(Long, Double)] =
    w.indices(Gen.indexAtOrAfter(s, start), Gen.indexAtOrAfter(s, end))
      .map(i => (Gen.time(s, i), Gen.value(s, i)))

  def nearest(s: StreamSpec, w: Written, t: Long,
              backward: Boolean): Option[(Long, Double)] = {
    val at = Gen.indexAtOrAfter(s, t)
    (if (backward) w.lastBefore(at) else w.firstAtOrAfter(at))
      .map(i => (Gen.time(s, i), Gen.value(s, i)))
  }

  /** Statistics of the points [start, end) grouped by `bucket` (which
    * maps a time to its window start), in window order. Means follow
    * the engine's exact-cents rule (the cents sum over 100 over count),
    * or with `centsMean = false` SQL avg's plain double mean. */
  def grouped(s: StreamSpec, w: Written, start: Long, end: Long,
              bucket: Long => Long, centsMean: Boolean = true): Vector[Stat] = {
    val out = Vector.newBuilder[Stat]
    var cur = Long.MinValue; var n = 0L; var lo = 0.0; var hi = 0.0
    var sc = 0L; var sv = 0.0
    def emit(): Unit = if (n > 0)
      out += Stat(cur, n, lo, if (centsMean) sc / 100.0 / n else sv / n, hi)
    raw(s, w, start, end).foreach { case (t, v) =>
      val b = bucket(t)
      if (b != cur) { emit(); cur = b; n = 0; lo = v; hi = v; sc = 0; sv = 0.0 }
      n += 1; lo = math.min(lo, v); hi = math.max(hi, v)
      sc += Gen.engineCents(v); sv += v
    }
    emit()
    out.result()
  }

  def aligned(s: StreamSpec, w: Written, start: Long, end: Long,
              pw: Int, centsMean: Boolean = true): Vector[Stat] =
    grouped(s, w, (start >> pw) << pw, (end >> pw) << pw, t => (t >> pw) << pw,
      centsMean)

  /** Windows of arbitrary width: the end is truncated to whole windows
    * and empty windows answer with zeros. */
  def windows(s: StreamSpec, w: Written, start: Long, end: Long,
              width: Long): Vector[Stat] = {
    val e = end - ((end - start) % width)
    val n = (e - start) / width
    val got = grouped(s, w, start, e,
      t => start + Math.floorDiv(t - start, width) * width)
      .map(x => x.start -> x).toMap
    Vector.tabulate(n.toInt) { k =>
      val ws = start + k * width
      got.getOrElse(ws, Stat(ws, 0, 0.0, 0.0, 0.0))
    }
  }

  /** Changed ranges between two versions: each commit in (from, to]
    * touched one contiguous index range; snap its time envelope to
    * 2^res and coalesce. */
  def changes(s: StreamSpec, commits: Seq[(Long, Long, Long)], from: Long,
              to: Long, res: Int): Vector[(Long, Long)] = {
    val snapped = commits.collect { case (v, lo, hi) if v > from && v <= to =>
      ((Gen.time(s, lo) >> res) << res,
        ((Gen.time(s, hi - 1) >> res) << res) + (1L << res))
    }.sortBy(_._1)
    snapped.foldLeft(Vector.empty[(Long, Long)]) {
      case (acc, (a, b)) if acc.nonEmpty && a <= acc.last._2 =>
        acc.init :+ ((acc.last._1, math.max(acc.last._2, b)))
      case (acc, x) => acc :+ x
    }
  }

  /** Relative tolerance for means: off-grid and raw-plan means are
    * IEEE sums whose rounding depends on summation order. */
  def sameMean(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  def sameStat(got: Stat, want: Stat): Boolean =
    got.start == want.start && got.count == want.count &&
      got.min == want.min && got.max == want.max && sameMean(got.mean, want.mean)
}
