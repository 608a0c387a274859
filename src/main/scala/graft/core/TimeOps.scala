package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Time-bucket arithmetic on int64-nanosecond columns.
  *
  * The reference's only scalar computations (SURVEY §2.8):
  *   - ClampTime(t, pw) = t &^ ((1<<pw)-1)   /root/reference/qtree/qtree_utils.go:398-405
  *   - window index floor((t-start)/width)    /root/reference/merger.go:221
  *
  * All helpers keep the column LongType so comparisons/groupings push down
  * to Parquet and stay inside whole-stage codegen. NEVER route ns values
  * through DoubleType — ns magnitudes (~1.7e18) exceed a double's 53-bit
  * integer range.
  */
object TimeOps {

  /** Floor t to a multiple of 2^pw. Arithmetic shift makes this floor
    * (round toward -inf) for negative times too, matching the
    * reference's bit-clear on two's-complement ints. pw ≥ 64 clears
    * everything: Go shifts by ≥ the operand width produce 0
    * (the reference accepts pointwidth 64 over the wire,
    * /root/reference/grpcinterface/serve.go:193-195, and its aligned
    * bounds then collapse to 0) — the JVM would silently mask the
    * shift distance to pw % 64 instead. */
  def clampTime(t: Column, pw: Int): Column =
    if (pw >= 64) lit(0L) else shiftleft(shiftright(t, pw), pw)

  /** Exact floor division of a LongType column by a positive literal.
    * `a - pmod(a,b)` is an exact multiple of b (floor semantics for
    * negatives too); the resulting quotient is small (a window index),
    * so the double division is exact — never divide raw ns as doubles. */
  def floorDiv(a: Column, b: Long): Column =
    ((a - pmod(a, lit(b))) / lit(b)).cast("long")

  /** Window index for arbitrary-width tumbling windows from `start`. */
  def windowIndex(t: Column, start: Long, width: Long): Column =
    floorDiv(t - lit(start), width)

  /** Start time of the window holding t. */
  def windowStart(t: Column, start: Long, width: Long): Column =
    windowIndex(t, start, width) * lit(width) + lit(start)

  /** AlignedWindows boundary alignment (reference /root/reference/quasar.go:279-283):
    * both bounds round DOWN to 2^pw; the effective window starts lie in
    * [alignDown(start), alignDown(end)). pw ≥ 64 → 0, Go shift
    * semantics (see [[clampTime]]) — both bounds collapse and the
    * window set is empty, exactly the reference's pw=64 behavior. */
  def alignDown(t: Long, pw: Int): Long =
    if (pw >= 64) 0L else (t >> pw) << pw

  /** Windows end-truncation (reference /root/reference/quasar.go:322-324):
    * drop the trailing partial window. */
  def truncateEnd(start: Long, end: Long, width: Long): Long =
    end - ((end - start) % width)

  /** Insert-time validation predicate (reference /root/reference/quasar.go:83-95):
    * time in [MinimumTime, MaximumTime-1) and value finite. False, never
    * NULL, on a null time or value (a string that fails its cast is
    * null too), so `!validPoint` counts such a row as bad. */
  def validPoint(t: Column, v: Column): Column =
    coalesce(t >= lit(TimeConsts.MinimumTime) && t < lit(TimeConsts.MaximumTime - 1) &&
      !isnan(v) && v > Double.NegativeInfinity && v < Double.PositiveInfinity,
      lit(false))
}
