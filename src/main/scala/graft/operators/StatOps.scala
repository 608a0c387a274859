package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.TimeOps

/** The BTrDB query shapes (SURVEY §2) as reusable DataFrame transforms.
  *
  * Inputs are point DataFrames with columns (sid LONG, time LONG /*ns*/,
  * value DOUBLE, ...). Everything is declarative Column algebra — Catalyst
  * pushes the time/sid filters into the Parquet scan and the aggregations
  * compile to partial+final HashAggregate (the distributed analog of the
  * reference's pre-aggregated tree combine, /root/reference/qtree/operators.go:9-77).
  */
object StatOps {

  /** Largest |value| whose cents fit a LONG with margin (9e16 × 100 =
    * 9e18 < 2^63−1 ≈ 9.22e18). Outside it [[cents]] is NULL. */
  val CentsDomain: Double = 9.0e16

  /** Exact integer representation of a 2-decimal double column (cents).
    * Aggregating cents as LONG makes sums/means bit-deterministic across
    * engines — the strategy SURVEY §7.4(7) calls for to hash-match the
    * DuckDB oracle (double summation order would otherwise differ in ulps).
    *
    * NULL outside ±[[CentsDomain]] (and for NaN/±Inf): under ANSI mode
    * an unguarded `cast(double as long)` THROWS on overflow, which
    * would crash ingest partials and pyramid maintenance on any legal
    * finite double ≥ ~9.2e16. Such values are inherently off the cents
    * grid, so sums skipping the null and the grid tracker counting it
    * inexact is the correct degradation. */
  def cents(v: Column): Column =
    when(v.between(-CentsDomain, CentsDomain), round(v * 100, 0).cast("long"))

  /** True iff [[cents]] of `v` is not NULL. */
  def inCentsDomain(v: Double): Boolean = v >= -CentsDomain && v <= CentsDomain

  /** [[cents]] of one in-domain value, computed on the driver the way
    * Spark's `round` does: half-up on the decimal string of v×100. */
  def centsOf(v: Double): Long = {
    val x = v * 100
    if (x == Math.rint(x) && math.abs(x) < TwoPow52) x.toLong
    else java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue.toLong
  }
  // below 2^52 an integral double prints exactly, so it rounds to itself
  private val TwoPow52 = 4.503599627370496e15

  /** Exact mean from a cents-sum and a count: both operands are exact
    * integers, so the IEEE divisions are bit-identical in any engine. */
  def meanFromCents(sumCents: Column, count: Column): Column =
    sumCents / lit(100.0) / nullif(count, lit(0L))

  /** Mean over raw value rows: the deterministic cents mean when every
    * contributing value has a representable cents integer, the IEEE
    * double mean otherwise. An out-of-domain value (|v| > CentsDomain,
    * where [[cents]] is NULL) must DEGRADE the window to the double
    * mean — a null-skipping cents sum divided by the full count would
    * silently exclude it from the numerator only. */
  def rawMean(value: Column): Column =
    when(count(cents(value)) === count(value),
      meanFromCents(sum(centsSum(value)), count(value)))
      .otherwise(sum(value) / count(value))

  /** [[cents]] widened for SUMMING: individual cents fit a LONG, but a
    * window of many near-domain values does not (two 9e16 values are
    * 1.8e19 cents > Long.MaxValue — an ANSI long sum THROWS on legal
    * input). DECIMAL(38,0) sums hold ~1e19 more headroom than any
    * physical corpus (10¹³ points × 9e18 cents ≈ 1e32 < 1e38) and stay
    * exact and associative. */
  def centsSum(v: Column): Column =
    cents(v).cast(org.apache.spark.sql.types.DecimalType(38, 0))

  /** The same degradation over pre-aggregated rollup rows carrying
    * (cnt, ccnt = in-cents-domain count, vsc, vsum). */
  def rollupMean: Column =
    when(sum(col("ccnt")) === sum(col("cnt")),
      meanFromCents(sum(col("vsc")), sum(col("cnt"))))
      .otherwise(sum(col("vsum")) / sum(col("cnt")))

  /** The stat tuple (count,min,mean,max) over `value`, exact-mean variant.
    * Aliases cnt/vmin/vmean/vmax — `count`/`min`/`max` collide with SQL
    * function names on the oracle side. */
  def statAgg(value: Column): Seq[Column] = Seq(
    count(value).as("cnt"),
    min(value).as("vmin"),
    rawMean(value).as("vmean"),
    max(value).as("vmax"))

  /** AlignedWindows (reference /root/reference/quasar.go:266-304): tumbling
    * windows of width 2^pw aligned to the epoch; both bounds align DOWN to
    * 2^pw; emits only non-empty windows; result keyed by window start.
    * One hash aggregate — no shuffle beyond the agg exchange; the time
    * filter is pushed to the scan.
    */
  def alignedWindows(points: DataFrame, pw: Int, start: Long, end: Long,
                     keys: Seq[String] = Seq("sid")): DataFrame = {
    val s = TimeOps.alignDown(start, pw)
    val e = TimeOps.alignDown(end, pw)
    points
      .filter(col("time") >= s && col("time") < e)
      .groupBy((keys.map(col) :+ TimeOps.clampTime(col("time"), pw).as("wstart")): _*)
      .agg(statAgg(col("value")).head, statAgg(col("value")).tail: _*)
  }

  /** Windows (reference /root/reference/quasar.go:306-346): tumbling windows
    * of arbitrary ns width from `start`; the trailing partial window is
    * truncated; EMPTY WINDOWS ARE EMITTED with count=0, min=mean=max=0
    * (hole emission, /root/reference/qtree/qtree.go:1143-1173).
    *
    * The hole materialization joins the aggregate against an in-memory
    * `spark.range(nWindows)` — broadcastable at any data scale because the
    * window count depends only on the query range, not the data size.
    */
  def windows(points: DataFrame, sid: Long, start: Long, end: Long,
              width: Long, strictFinalWindow: Boolean = false): DataFrame = {
    val spark = points.sparkSession
    val e = TimeOps.truncateEnd(start, end, width)
    val n0 = (e - start) / width
    val n =
      if (strictFinalWindow && strictDropsFinal(start, end, width, 0,
          b => !points.filter(col("sid") === sid && col("time") >= b)
            .isEmpty))
        n0 - 1
      else n0
    val agg = points
      .filter(col("sid") === sid && col("time") >= start && col("time") < e)
      .groupBy(TimeOps.windowIndex(col("time"), start, width).as("i"))
      .agg(statAgg(col("value")).head, statAgg(col("value")).tail: _*)
    spark.range(n).toDF("i")
      .join(agg, Seq("i"), "left_outer")
      .select(
        col("i"),
        (col("i") * width + start).as("wstart"),
        coalesce(col("cnt"), lit(0L)).as("cnt"),
        coalesce(col("vmin"), lit(0.0)).as("vmin"),
        coalesce(col("vmean"), lit(0.0)).as("vmean"),
        coalesce(col("vmax"), lit(0.0)).as("vmax"))
  }

  /** The reference's tree-bucket ladder: node pointwidths descend from
    * ROOTPW=56 in PWFACTOR=6 steps, clamping at 0
    * (/root/reference/qtree/qtree_utils.go:14-22,272-278). The
    * depth-capped Windows walk descends while the CHILD pointwidth is
    * still >= depth, so its attribution unit is the first ladder value
    * BELOW depth (never depth itself unless depth-1 is on the ladder). */
  private val BucketLadder = Seq(50, 44, 38, 32, 26, 20, 14, 8, 2, 0)
  def depthBucketPw(depth: Int): Int =
    BucketLadder.find(_ < depth).getOrElse(0)

  /** STRICT-REFERENCE final-window rule, shared by the depth-capped
    * closed form and the engine's Windows surface: the reference's
    * core walk checks Done AFTER advancing the boundary in its hole
    * and capped-straddle paths (/root/reference/qtree/qtree.go:
    * 1135-1137, 1167-1170) but BEFORE advancing in its exact-fit and
    * leaf paths — so with an ALIGNED end, the walk terminates upon
    * emitting the second-to-last window via a hole or capped straddle
    * and the final window is never emitted. The final window survives
    * only when the boundary `B = e - width` is crossed by the
    * pre-advance machinery:
    *
    *   - depth > 0: a NON-EMPTY attribution tile ends exactly at `B`
    *     (requires `B` tile-aligned and `u <= width` — a wider tile
    *     straddles an earlier boundary and is consumed there) and that
    *     tile is not the dropped start straddler (`start < B - u`).
    *     Any tile at or past `B` is preceded by the hole loop crossing
    *     `B` first, which suppresses.
    *   - depth = 0: any point with `time >= B` exists — the leaf loop
    *     emits every boundary up to that point's window pre-advance
    *     (qtree.go:1206-1217), protecting the final window; with no
    *     such point the trailing core hole crosses `B` post-advance.
    *
    * `tileEndsAtOrPastB` answers "does the protecting datum exist" for
    * the caller's data source (a pushed-filter limit-1 probe).
    * Validated against the strict literal-walk simulation in
    * WindowsDepthSpec. Non-aligned ends and n <= 1 never suppress
    * (Done then first fires at or after the final window's own
    * emission). */
  def strictDropsFinal(start: Long, end: Long, width: Long, depth: Int,
                       protectingDatum: Long => Boolean): Boolean = {
    val e = TimeOps.truncateEnd(start, end, width)
    val n = (e - start) / width
    if (n < 2 || (end - start) % width != 0) return false
    val b = e - width
    val protected_ =
      if (depth <= 0) protectingDatum(b)
      else {
        val u = 1L << depthBucketPw(depth)
        u <= width && Math.floorMod(b, u) == 0 && start < b - u &&
          protectingDatum(b)
      }
    !protected_
  }

  /** Windows with the reference's depth cap — EXACT semantics of the
    * sequential walk in /root/reference/qtree/qtree.go:1064-1176, not an
    * approximation. Below the cap the walk cannot split tree buckets;
    * the observable result collapses to a closed form (validated against
    * a literal walk simulation in WindowsDepthSpec):
    *
    *   - attribution buckets are 2^c ns wide, c = [[depthBucketPw]];
    *   - every non-empty bucket's stats land WHOLLY in the window
    *     containing the bucket's START. (Induction on the walk state:
    *     a bucket crossing its window's end closes that window and
    *     forces the next bucket's start past the boundary, and hole
    *     emission fast-forwards the open window to the next bucket's
    *     start — so the open window always catches up to exactly
    *     floor((bucketStart-start)/width) before accumulating.)
    *   - the bucket CONTAINING `start` is dropped entirely: the walk
    *     reaches it inactive, and the capped branch activates without
    *     accumulating (qtree.go:1122-1126). Its points appear in no
    *     window — a reference quirk preserved deliberately;
    *   - end truncates to whole windows, empty windows emit zeros, and
    *     the final window keeps a straddling bucket's tail past `end`
    *     (whole-bucket attribution), all exactly as at depth 0.
    *
    * One DELIBERATE default divergence: the reference's hole/straddle
    * paths check Done AFTER advancing the boundary (qtree.go:1135-1137,
    * 1167-1170) while its leaf path checks before — so the reference
    * suppresses the final window whenever the second-to-last closes
    * via a hole or a capped straddle, contradicting its own "holes
    * emitted as blank records" contract (qtree.go:1063-1065). We emit
    * every window of the truncated range uniformly (SURVEY "Known
    * divergences"); `strictFinalWindow = true` reproduces the
    * reference's suppression byte-for-byte ([[strictDropsFinal]] — one
    * extra limit-1 probe scan) so a migration diff against a live
    * reference cluster comes back clean.
    *
    * Counts are exact, boundaries approximate — the trade the reference
    * makes so a depth-capped query reads O(windows) rollup rows instead
    * of raw points. The scan range [bucketAfter(start), bucketOf(end))
    * prunes both the dropped straddler and all pre-start data at the
    * parquet filter, so the plan stays one pushed-filter scan + one
    * aggregate, identical in shape to depth 0.
    */
  def windowsDepth(points: DataFrame, sid: Long, start: Long, end: Long,
                   width: Long, depth: Int,
                   strictFinalWindow: Boolean = false): DataFrame = {
    if (depth <= 0)
      return windows(points, sid, start, end, width, strictFinalWindow)
    val spark = points.sparkSession
    val e = TimeOps.truncateEnd(start, end, width)
    val c = depthBucketPw(depth)
    val u = 1L << c
    val n0 = (e - start) / width
    val n =
      if (strictFinalWindow && strictDropsFinal(start, end, width, depth,
          b => !points.filter(col("sid") === sid &&
            col("time") >= b - u && col("time") < b).isEmpty))
        n0 - 1
      else n0
    val lo = TimeOps.alignDown(start, c) + u  // first kept bucket
    val hi = TimeOps.alignDown(e - 1, c) + u  // end of last kept bucket
    val agg = points
      .filter(col("sid") === sid && col("time") >= lo && col("time") < hi)
      .groupBy(TimeOps.windowIndex(TimeOps.clampTime(col("time"), c),
        start, width).as("i"))
      .agg(statAgg(col("value")).head, statAgg(col("value")).tail: _*)
    spark.range(n).toDF("i")
      .join(agg, Seq("i"), "left_outer")
      .select(
        col("i"),
        (col("i") * width + start).as("wstart"),
        coalesce(col("cnt"), lit(0L)).as("cnt"),
        coalesce(col("vmin"), lit(0.0)).as("vmin"),
        coalesce(col("vmean"), lit(0.0)).as("vmean"),
        coalesce(col("vmax"), lit(0.0)).as("vmax"))
  }

  /** Nearest (reference /root/reference/quasar.go:359-391): forward = first
    * point with t >= T (inclusive); backward = last point with t < T
    * (exclusive). Ties on time broken by value for determinism (the
    * reference returns an arbitrary one of the duplicates). Compiles to
    * TakeOrderedAndProject — no full sort, no shuffle of the data.
    */
  def nearest(points: DataFrame, sid: Long, t: Long, backward: Boolean): DataFrame = {
    val base = points.filter(col("sid") === sid)
    val (filtered, ord) =
      if (backward) (base.filter(col("time") < t), Seq(col("time").desc, col("value").desc))
      else (base.filter(col("time") >= t), Seq(col("time").asc, col("value").asc))
    filtered.orderBy(ord: _*).select("time", "value").limit(1)
  }

  /** Interval coalescing (reference /root/reference/merger.go:38-124 — the
    * Changes post-pass): merge overlapping/adjacent [start,end) intervals
    * per key. Classic segment detection: a row starts a new segment when
    * its start exceeds the running max of previous ends; a running sum of
    * the flags labels segments; group by segment.
    */
  def mergeIntervals(ranges: DataFrame, key: String = "sid",
                     startCol: String = "s", endCol: String = "e"): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(startCol), col(endCol))
    val prevMax = max(col(endCol)).over(w.rowsBetween(Window.unboundedPreceding, -1))
    val flagged = ranges
      .withColumn("_flag", when(prevMax.isNull || col(startCol) > prevMax, 1L).otherwise(0L))
      .withColumn("_seg", sum(col("_flag")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    flagged.groupBy(col(key), col("_seg"))
      .agg(min(col(startCol)).as(startCol), max(col(endCol)).as(endCol))
      .drop("_seg")
  }

  /** Changes(fromVersion, toVersion, resolution) over a commit-range set:
    * snap each commit's touched [tmin, tmax] envelope outward to
    * 2^resolution, then coalesce (reference /root/reference/pqm.go:365-374
    * + merger.go:38-124). `ranges` must have (sid, version, tmin, tmax).
    */
  def changes(ranges: DataFrame, fromV: Long, toV: Long, resolution: Int): DataFrame = {
    val snapped = ranges
      .filter(col("version") > fromV && col("version") <= toV)
      .select(
        col("sid"),
        TimeOps.clampTime(col("tmin"), resolution).as("s"),
        (TimeOps.clampTime(col("tmax"), resolution) + lit(1L << resolution)).as("e"))
    mergeIntervals(snapped)
  }
}
