package servebench

import graft.engine.Btrdb
import graft.wire.{BtrdbWire, PbReader, PbWriter}

/** How a request reaches the engine: over the HTTP/2 endpoint, or
  * in-process through the wire dispatch function (no transport). */
trait Transport {
  def call(method: String, req: PbWriter)(onMessage: PbReader => Unit): (Int, Long)
}

final class WireTransport(conn: GrpcConn) extends Transport {
  def call(method: String, req: PbWriter)(onMessage: PbReader => Unit): (Int, Long) =
    conn.call(method, req)(onMessage)
}

final class InProcessTransport(db: Btrdb) extends Transport {
  def call(method: String, req: PbWriter)(onMessage: PbReader => Unit): (Int, Long) = {
    val reply = BtrdbWire.handle(db, method, GrpcConn.framedBytes(req))
    var bytes = 0L
    reply.messages.foreach { m => bytes += m.length + 5; onMessage(new PbReader(m)) }
    (reply.grpcStatus, bytes)
  }
}

/** One decoded response message: the app-level error code (0 = none),
  * the version header, and the repeated value readers (field 4). */
final case class Msg(stat: Int, major: Long, minor: Long, values: Vector[PbReader])

object Rpc {
  def uuid(s: String): Array[Byte] = {
    val u = java.util.UUID.fromString(s)
    java.nio.ByteBuffer.allocate(16)
      .putLong(u.getMostSignificantBits).putLong(u.getLeastSignificantBits).array()
  }

  def decode(r: PbReader): Msg = {
    var stat = 0; var maj = 0L; var min = 0L
    val vals = Vector.newBuilder[PbReader]
    while (r.hasNext) r.readTag() match {
      case (1, _) =>
        val s = r.lenReader()
        while (s.hasNext) s.readTag() match {
          case (1, _) => stat = s.varint().toInt
          case (_, w) => s.skip(w)
        }
      case (2, _) => maj = r.varint()
      case (3, _) => min = r.varint()
      case (4, _) => vals += r.lenReader()
      case (_, w) => r.skip(w)
    }
    Msg(stat, maj, min, vals.result())
  }

  def rawPoint(r: PbReader): (Long, Double) = {
    var t = 0L; var v = 0.0
    while (r.hasNext) r.readTag() match {
      case (1, _) => t = r.fixed64()
      case (2, _) => v = r.double()
      case (_, w) => r.skip(w)
    }
    (t, v)
  }

  def statPoint(r: PbReader): Stat = {
    var t = 0L; var lo = 0.0; var mean = 0.0; var hi = 0.0; var n = 0L
    while (r.hasNext) r.readTag() match {
      case (1, _) => t = r.fixed64()
      case (2, _) => lo = r.double()
      case (3, _) => mean = r.double()
      case (4, _) => hi = r.double()
      case (5, _) => n = r.fixed64()
      case (_, w) => r.skip(w)
    }
    Stat(t, n, lo, mean, hi)
  }

  def range(r: PbReader): (Long, Long) = {
    var s = 0L; var e = 0L
    while (r.hasNext) r.readTag() match {
      case (1, _) => s = r.fixed64()
      case (2, _) => e = r.fixed64()
      case (_, w) => r.skip(w)
    }
    (s, e)
  }

  private def base(u: String): PbWriter = { val w = new PbWriter; w.bytes(1, uuid(u)); w }

  def nearestReq(u: String, t: Long, backward: Boolean): PbWriter = {
    val w = base(u); w.sfixed64(2, t); if (backward) w.bool(4, true); w
  }
  def rawReq(u: String, s: Long, e: Long): PbWriter = {
    val w = base(u); w.sfixed64(2, s); w.sfixed64(3, e); w
  }
  def alignedReq(u: String, s: Long, e: Long, pw: Int): PbWriter = {
    val w = rawReq(u, s, e); w.uint64(5, pw.toLong); w
  }
  def windowsReq(u: String, s: Long, e: Long, width: Long): PbWriter = {
    val w = rawReq(u, s, e); w.uint64(5, width); w
  }
  def changesReq(u: String, from: Long, to: Long, res: Int): PbWriter = {
    val w = base(u); w.uint64(2, from); w.uint64(3, to); w.uint64(4, res.toLong); w
  }
  def insertReq(u: String, pts: Iterator[(Long, Double)], sync: Boolean): PbWriter = {
    val w = base(u)
    if (sync) w.bool(2, true)
    pts.foreach { case (t, v) =>
      val p = new PbWriter; p.sfixed64(1, t); p.double(2, v); w.message(3, p)
    }
    w
  }
  def flushReq(u: String): PbWriter = base(u)
}
