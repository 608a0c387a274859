package servebench

import org.apache.spark.sql.DataFrame

import graft.engine.Btrdb
import graft.wire.PbWriter

/** Consumes one request's response messages and judges them against
  * the expected answer. `points` is the number of raw points the answer
  * covers (returned points, or the counts of returned windows). */
trait Check {
  def onMessage(m: Msg): Unit
  def error: Option[String]
  def points: Long
}

/** The same request as a direct engine facade call, for the traced
  * three-way split: a DataFrame the caller then collects, or a call
  * that does all its work itself. */
sealed trait Direct
final case class DfCall(build: Btrdb => DataFrame) extends Direct
final case class PlainCall(run: Btrdb => Unit) extends Direct

/** One wire request of a workload. `lock`, when set, is held around
  * the call (outside its timing). */
final class Op(val kind: String, val method: String, val req: PbWriter,
               val check: () => Check, val direct: Direct,
               val lock: Option[java.util.concurrent.locks.Lock] = None)

/** One SQL statement over the JDBC daemon, with its expected rows. */
final class SqlOp(val kind: String, val sql: String, val expected: Vector[Stat],
                  val substitutable: Boolean)

/** Base for checks: the first problem wins; an app-level error code in
  * a response is a failure unless the check expects it. */
abstract class BaseCheck extends Check {
  protected var err: Option[String] = None
  protected var n = 0L
  protected def fail(msg: String): Unit = if (err.isEmpty) err = Some(msg)
  def onMessage(m: Msg): Unit =
    if (err.isEmpty) { if (m.stat != 0) fail(s"stat ${m.stat}") else accept(m) }
  protected def accept(m: Msg): Unit
  protected def finish(): Option[String] = None
  def error: Option[String] = err.orElse(finish())
  def points: Long = n
}

final class RawCheck(times: Array[Long], values: Array[Double]) extends BaseCheck {
  protected def accept(m: Msg): Unit = m.values.foreach { r =>
    val (t, v) = Rpc.rawPoint(r)
    if (n >= times.length) fail(s"extra point ($t, $v)")
    else if (t != times(n.toInt) || v != values(n.toInt))
      fail(s"point $n: got ($t, $v) want (${times(n.toInt)}, ${values(n.toInt)})")
    n += 1
  }
  override protected def finish(): Option[String] =
    if (n != times.length) Some(s"$n points, want ${times.length}") else None
}

/** Stat windows; each window may match any of several candidate answers
  * (a reader racing a writer may see either side of a commit). */
final class StatCheck(candidates: Seq[Vector[Stat]]) extends BaseCheck {
  private var i = 0
  protected def accept(m: Msg): Unit = m.values.foreach { r =>
    val got = Rpc.statPoint(r)
    if (!candidates.exists(c => i < c.size && Expect.sameStat(got, c(i))))
      fail(s"window $i: got $got want ${candidates.map(_.lift(i)).mkString(" or ")}")
    n += got.count
    i += 1
  }
  override protected def finish(): Option[String] =
    if (!candidates.exists(_.size == i)) Some(s"$i windows, want ${candidates.map(_.size)}")
    else None
}

/** Nearest: one of the accepted points, or bte 401 when none exists. */
final class NearestCheck(accepted: Set[(Long, Double)], expectNone: Boolean)
    extends BaseCheck {
  private var seen = false
  override def onMessage(m: Msg): Unit = {
    seen = true
    if (m.stat == 401 && expectNone) ()
    else super.onMessage(m)
  }
  protected def accept(m: Msg): Unit = {
    val got = m.values.map(Rpc.rawPoint)
    if (got.size != 1 || !accepted.contains(got.head))
      fail(s"nearest got $got want one of $accepted")
    n += got.size
  }
  override protected def finish(): Option[String] =
    if (!seen) Some("no response") else None
}

final class ChangesCheck(expected: Vector[(Long, Long)]) extends BaseCheck {
  private val got = Vector.newBuilder[(Long, Long)]
  protected def accept(m: Msg): Unit = m.values.foreach(r => got += Rpc.range(r))
  override protected def finish(): Option[String] = {
    val g = got.result()
    n = g.size
    if (g != expected) Some(s"changes got $g want $expected") else None
  }
}

/** Insert/Flush: the (major, minor) version the response must carry. */
final class VersionCheck(want: (Long, Long)) extends BaseCheck {
  private var got: Option[(Long, Long)] = None
  protected def accept(m: Msg): Unit = got = Some((m.major, m.minor))
  override protected def finish(): Option[String] =
    if (!got.contains(want)) Some(s"version got $got want $want") else None
}
