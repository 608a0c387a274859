package graft.wire

import java.nio.charset.StandardCharsets.UTF_8

/** Minimal protobuf wire-format codec — exactly the proto3 subset the
  * public BTrDB interface uses (/root/reference/grpcinterface/
  * btrdb.proto): varints (uint32/uint64/bool/enum), 64-bit fixed
  * (sfixed64/fixed64/double) and length-delimited (string/bytes/
  * embedded message). No packed repeated scalars appear in that proto
  * (every repeated field is a message or string), so none are
  * implemented. Hand-rolled because no protobuf runtime ships with
  * Spark's jars — and the wire format itself is small: tag = varint
  * (field << 3 | wiretype), then the value.
  *
  * proto3 presence rules are honored on encode: default-valued scalar
  * fields are omitted (a zero-code Status is not emitted at all — the
  * reference server leaves `stat` nil on success and its clients treat
  * any present stat as an error).
  */
object Pb {
  val WireVarint = 0
  val WireFixed64 = 1
  val WireLenDelim = 2
  val WireFixed32 = 5
}

/** Append-only protobuf message writer over one growable array (a
  * RawValues reply encodes a message per point, so no per-byte lock). */
final class PbWriter {
  private var buf = new Array[Byte](32)
  private var len = 0

  def toBytes: Array[Byte] = java.util.Arrays.copyOf(buf, len)

  private def room(k: Int): Unit =
    if (len + k > buf.length)
      buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + k))
  private def varint(v0: Long): Unit = {
    room(10)
    var v = v0
    while ((v & ~0x7fL) != 0) { buf(len) = ((v & 0x7fL) | 0x80L).toByte; len += 1; v >>>= 7 }
    buf(len) = v.toByte; len += 1
  }
  private def tag(field: Int, wire: Int): Unit =
    varint((field.toLong << 3) | wire)
  private def fixed(v: Long): Unit = {
    room(8)
    var i = 0
    while (i < 8) { buf(len) = ((v >>> (8 * i)) & 0xff).toByte; len += 1; i += 1 }
  }

  def uint64(field: Int, v: Long): Unit =
    if (v != 0L) { tag(field, Pb.WireVarint); varint(v) }
  def uint32(field: Int, v: Int): Unit = uint64(field, v.toLong & 0xffffffffL)
  def bool(field: Int, v: Boolean): Unit = if (v) uint64(field, 1L)
  def sfixed64(field: Int, v: Long): Unit =
    if (v != 0L) { tag(field, Pb.WireFixed64); fixed(v) }
  def fixed64(field: Int, v: Long): Unit = sfixed64(field, v)
  def double(field: Int, v: Double): Unit = {
    val bits = java.lang.Double.doubleToRawLongBits(v)
    if (bits != 0L) { tag(field, Pb.WireFixed64); fixed(bits) }
  }
  def bytes(field: Int, b: Array[Byte]): Unit =
    if (b.nonEmpty) rawBytes(field, b, b.length)
  def string(field: Int, s: String): Unit =
    if (s.nonEmpty) bytes(field, s.getBytes(UTF_8))
  /** Repeated-string ELEMENT — always emitted, even when empty: an
    * omitted element would silently shift the list (proto3 default-
    * omission applies to singular fields, never repeated elements). */
  def stringElem(field: Int, s: String): Unit = {
    val b = s.getBytes(UTF_8)
    rawBytes(field, b, b.length)
  }
  /** Embedded message — ALWAYS emitted (message-field presence is the
    * caller's decision; an empty message is meaningful in proto3). */
  def message(field: Int, m: PbWriter): Unit = rawBytes(field, m.buf, m.len)
  private def rawBytes(field: Int, b: Array[Byte], n: Int): Unit = {
    tag(field, Pb.WireLenDelim); varint(n)
    room(n)
    System.arraycopy(b, 0, buf, len, n)
    len += n
  }
}

/** Forward-only protobuf message reader over a byte slice. Unknown
  * fields are skippable by wire type, as the format requires. */
final class PbReader(buf: Array[Byte], from: Int, to: Int) {
  def this(buf: Array[Byte]) = this(buf, 0, buf.length)
  private var pos = from

  def hasNext: Boolean = pos < to
  /** Returns (fieldNumber, wireType). */
  def readTag(): (Int, Int) = {
    val t = varint()
    ((t >>> 3).toInt, (t & 7).toInt)
  }
  def varint(): Long = {
    var shift = 0; var v = 0L
    while (true) {
      require(pos < to, "truncated varint")
      val b = buf(pos); pos += 1
      v |= (b & 0x7fL) << shift
      if ((b & 0x80) == 0) return v
      shift += 7
      require(shift < 64, "varint too long")
    }
    v // unreachable
  }
  def fixed64(): Long = {
    require(pos + 8 <= to, "truncated fixed64")
    var v = 0L; var i = 0
    while (i < 8) { v |= (buf(pos + i) & 0xffL) << (8 * i); i += 1 }
    pos += 8
    v
  }
  def double(): Double = java.lang.Double.longBitsToDouble(fixed64())
  def lenBytes(): Array[Byte] = {
    val n = varint().toInt
    require(n >= 0 && pos + n <= to, "truncated length-delimited field")
    val b = java.util.Arrays.copyOfRange(buf, pos, pos + n)
    pos += n
    b
  }
  def lenString(): String = new String(lenBytes(), UTF_8)
  /** Sub-reader over an embedded message without copying. */
  def lenReader(): PbReader = {
    val n = varint().toInt
    require(n >= 0 && pos + n <= to, "truncated embedded message")
    val r = new PbReader(buf, pos, pos + n)
    pos += n
    r
  }
  def skip(wire: Int): Unit = wire match {
    case Pb.WireVarint => varint(); ()
    case Pb.WireFixed64 => fixed64(); ()
    case Pb.WireLenDelim => lenBytes(); ()
    case Pb.WireFixed32 =>
      require(pos + 4 <= to, "truncated fixed32"); pos += 4
    case w => throw new IllegalArgumentException(s"unknown wire type $w")
  }
}
