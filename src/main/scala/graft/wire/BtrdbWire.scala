package graft.wire

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.core.TimeConsts
import graft.engine.Btrdb

/** The BTrDB gRPC surface mapped onto the engine facade — one decode →
  * engine call → encode function per RPC of the public proto
  * (/root/reference/grpcinterface/btrdb.proto:5-24). Message layouts
  * (field numbers, wire types) are hand-derived from that proto; app-
  * level errors travel in the `stat` field with the reference's bte
  * codes (/root/reference/bte/errors.go: 401 NoSuchPoint, 404
  * NoSuchStream, 416 GenericError, 421 WrongArgs, 426
  * ResourceDepleted), while the gRPC status stays 0 — the reference
  * server's convention (stat is nil on success; any present stat is an
  * error to its clients).
  *
  * Server-streaming RPCs chunk their value lists at [[ChunkSize]] rows
  * per response message, the reference's streaming shape — and they
  * STREAM: RawValues, AlignedWindows, Windows and Changes take a row
  * iterator from the engine's serving path, which answers every such
  * read on the driver with no Spark job, merging the stream's
  * time-sorted runs as the rows are pulled (Changes reads in-memory
  * commit state); a latest read's reply carries the (major, minor) of
  * the state it read. Only GenerateCSV pulls rows through
  * `Dataset.toLocalIterator` (one partition of driver memory at a time,
  * ordered). [[RpcReply.messages]] is an iterator the server drains
  * under HTTP/2 flow control, so a RawValues over a wide range never
  * materializes on the driver — the same producer/bounded-channel shape
  * as the reference
  * (/root/reference/qtree/qtree.go:756-769,
  * grpcinterface/serve.go:147-172). One RPC is intentionally stubbed
  * with an app-level error, mirroring a documented divergence
  * (SURVEY §2.A): FaultInject (424 — disabled, as on any production
  * reference node).
  */
object BtrdbWire {

  val ChunkSize = 5000

  // ---- uuid bridging --------------------------------------------------
  // The proto carries 16-byte uuids; the engine keys streams by string.
  // 16-byte payloads map to canonical UUID text both ways; any other
  // length is bridged as UTF-8 (the engine accepts arbitrary ids).
  private[wire] def uuidStr(b: Array[Byte]): String =
    if (b.length == 16) {
      val bb = java.nio.ByteBuffer.wrap(b)
      new java.util.UUID(bb.getLong, bb.getLong).toString
    } else new String(b, UTF_8)

  private[graft] def uuidBytes(s: String): Array[Byte] =
    try {
      val u = java.util.UUID.fromString(s)
      val bb = java.nio.ByteBuffer.allocate(16)
      bb.putLong(u.getMostSignificantBits).putLong(u.getLeastSignificantBits)
      bb.array()
    } catch { case _: IllegalArgumentException => s.getBytes(UTF_8) }

  private def statusMsg(code: Int, msg: String): PbWriter = {
    val st = new PbWriter
    st.uint32(1, code)
    st.string(2, msg)
    st
  }

  private def errorResponse(e: Throwable): Array[Byte] = {
    val code = e match {
      case _: graft.engine.ResourceExhaustedException => 426
      case _: java.util.NoSuchElementException => 404 // head() on no stream
      case _: IllegalArgumentException => 421
      case _ => 416
    }
    val w = new PbWriter
    w.message(1, statusMsg(code, Option(e.getMessage).getOrElse(e.toString)))
    w.toBytes
  }

  private def verOf(e: Btrdb, uuid: String): (Long, Long) = e.version(uuid)

  /** bte 415 InvalidPointWidth (/root/reference/bte/errors.go:182,
    * ErrBadPW at serve.go:50-53) — the reference rejects pointwidth
    * > 64; 64 itself is accepted and yields an empty window set. */
  private def badPointWidth: Array[Byte] = {
    val w = new PbWriter
    w.message(1, statusMsg(415, "Bad point width"))
    w.toBytes
  }

  /** bte 426 ResourceDepleted — the reference's rez admission shed
    * (/root/reference/bte/errors.go, rez defaults ConcurrentOp 200 /
    * queue 100): answered app-level with grpc-status 0, exactly as the
    * reference daemon does when its semaphore is exhausted. */
  private[wire] def resourceDepleted: Array[Byte] = {
    val w = new PbWriter
    w.message(1, statusMsg(426, "The cluster is overloaded, go away"))
    w.toBytes
  }

  private def pin(vmaj: Long): Long =
    if (vmaj == 0L) TimeConsts.LatestGeneration else vmaj

  // ---- shared sub-messages -------------------------------------------

  private def rawPoint(time: Long, value: Double): PbWriter = {
    val p = new PbWriter
    p.sfixed64(1, time); p.double(2, value)
    p
  }

  private def statPoint(time: Long, min: Double, mean: Double, max: Double,
                        count: Long): PbWriter = {
    val p = new PbWriter
    p.sfixed64(1, time); p.double(2, min); p.double(3, mean)
    p.double(4, max); p.fixed64(5, count)
    p
  }

  private def keyValue(k: String, v: String): PbWriter = {
    val m = new PbWriter
    m.string(1, k); m.bytes(2, v.getBytes(UTF_8))
    m
  }

  private def descriptor(d: graft.engine.StreamDescInfo): PbWriter = {
    val m = new PbWriter
    m.bytes(1, uuidBytes(d.uuid))
    m.string(2, d.collection)
    d.tags.toSeq.sortBy(_._1).foreach { case (k, v) =>
      m.message(3, keyValue(k, v)) }
    d.annotations.toSeq.sortBy(_._1).foreach { case (k, v) =>
      m.message(4, keyValue(k, v)) }
    m.uint64(5, d.annotationVersion)
    m
  }

  /** Decode `repeated KeyValue` → Map. */
  private def kvMap(readers: Seq[PbReader]): Map[String, String] =
    readers.map { r =>
      var k = ""; var v = ""
      while (r.hasNext) r.readTag() match {
        case (1, _) => k = r.lenString()
        case (2, _) => v = new String(r.lenBytes(), UTF_8)
        case (_, w) => r.skip(w)
      }
      k -> v
    }.toMap

  /** Decode `repeated KeyOptValue` → key → Some(value) | None. */
  private def kovMap(readers: Seq[PbReader]): Map[String, Option[String]] =
    readers.map { r =>
      var k = ""; var v: Option[String] = None
      while (r.hasNext) r.readTag() match {
        case (1, _) => k = r.lenString()
        case (2, _) =>
          val ov = r.lenReader()
          var payload = "" // absent OptValue.value decodes as empty
          while (ov.hasNext) ov.readTag() match {
            case (1, _) => payload = new String(ov.lenBytes(), UTF_8)
            case (_, w) => ov.skip(w)
          }
          v = Some(payload)
        case (_, w) => r.skip(w)
      }
      k -> v
    }.toMap

  /** Version header shared by most responses (fields 2/3). */
  private def withVersion(w: PbWriter, maj: Long, minor: Long): PbWriter = {
    w.uint64(2, maj); w.uint64(3, minor)
    w
  }

  // ---- dispatch -------------------------------------------------------

  /** One RPC's reply: the encoded response messages (an ITERATOR — the
    * server drains it incrementally under flow control; pulling merges
    * a served read's rows, or runs GenerateCSV's Spark work), the gRPC
    * status for the trailers, and `close`, which releases what an
    * undrained reply holds (a served read's open files and decoded rows)
    * — the server calls it once the drain ends, drained or not. */
  final case class RpcReply(messages: Iterator[Array[Byte]], grpcStatus: Int,
                            close: () => Unit = () => ())

  /** Every method of the public service
    * (/root/reference/grpcinterface/btrdb.proto:6-23). Anything else on
    * the correct service is answered grpc-status 12 (UNIMPLEMENTED),
    * as a real gRPC server does. */
  val Methods: Set[String] = Set(
    "RawValues", "AlignedWindows", "Windows", "StreamInfo",
    "SetStreamAnnotations", "Create", "ListCollections", "LookupStreams",
    "Nearest", "Changes", "Insert", "Delete", "Info", "FaultInject",
    "Flush", "Obliterate", "GetMetadataUsage", "GenerateCSV")

  /** Handle one unary-or-server-streaming call: strip the gRPC message
    * prefix from `framedBody`, decode, run the engine, return the
    * reply. Neither this call nor the returned iterator ever throws —
    * failures INCLUDING a malformed/compressed request frame and a
    * read failing MID-STREAM become a response message carrying
    * `stat` (a throw would be swallowed by the worker pool and the
    * client's RPC would hang to its deadline). */
  def handle(e: Btrdb, method: String,
             framedBody: Array[Byte]): RpcReply =
    if (!Methods.contains(method)) RpcReply(Iterator.empty, 12)
    else {
      val messages = guarded(dispatch(e, method, firstMessage(framedBody)))
      RpcReply(messages, 0, () => messages.close())
    }

  /** Wrap a lazily-built message iterator so that any failure — during
    * construction (decode, eager engine calls) or mid-drain (a served
    * read's decode, a Spark job under GenerateCSV's `toLocalIterator`) —
    * surfaces as one final stat-carrying
    * message instead of a throw. */
  private def guarded(make: => Iterator[Array[Byte]]): Iterator[Array[Byte]] with AutoCloseable =
    new Iterator[Array[Byte]] with AutoCloseable {
      private var pendingError: Array[Byte] = _
      private var finished = false
      private val it: Iterator[Array[Byte]] =
        try make
        catch {
          case t: Throwable =>
            pendingError = errorResponse(t); Iterator.empty
        }
      override def hasNext: Boolean = !finished && (pendingError != null ||
        (try it.hasNext catch {
          case t: Throwable => pendingError = errorResponse(t); true
        }))
      override def next(): Array[Byte] =
        if (pendingError != null) {
          finished = true; pendingError
        } else
          try it.next()
          catch {
            case t: Throwable => finished = true; errorResponse(t)
          }
      def close(): Unit = it match {
        case c: AutoCloseable => c.close()
        case _ => ()
      }
    }

  /** Extract the first gRPC-framed message (clients of unary and
    * client-unary-streaming RPCs send exactly one): flag byte + u32
    * big-endian length + payload. */
  private def firstMessage(body: Array[Byte]): Array[Byte] = {
    if (body.length < 5) return Array.emptyByteArray
    require(body(0) == 0, "compressed gRPC messages unsupported")
    val len = ((body(1) & 0xff) << 24) | ((body(2) & 0xff) << 16) |
      ((body(3) & 0xff) << 8) | (body(4) & 0xff)
    require(len >= 0 && 5 + len <= body.length, "truncated gRPC message")
    java.util.Arrays.copyOfRange(body, 5, 5 + len)
  }

  private def dispatch(e: Btrdb, method: String,
                       body: Array[Byte]): Iterator[Array[Byte]] = method match {

    case "RawValues" =>
      var uuid = ""; var start = 0L; var end = 0L; var vmaj = 0L
      val r = new PbReader(body)
      while (r.hasNext) r.readTag() match {
        case (1, _) => uuid = uuidStr(r.lenBytes())
        case (2, _) => start = r.fixed64()
        case (3, _) => end = r.fixed64()
        case (4, _) => vmaj = r.varint()
        case (_, w) => r.skip(w)
      }
      val pinned = if (vmaj == 0L) None else Some(verOf(e, uuid))
      val rows = e.serveRawValues(uuid, start, end, pin(vmaj))
      chunked(rows, pinned)((w, p) => w.message(4, rawPoint(p._1, p._2)))

    case "AlignedWindows" =>
      var uuid = ""; var start = 0L; var end = 0L; var vmaj = 0L; var pw = 0
      val r = new PbReader(body)
      while (r.hasNext) r.readTag() match {
        case (1, _) => uuid = uuidStr(r.lenBytes())
        case (2, _) => start = r.fixed64()
        case (3, _) => end = r.fixed64()
        case (4, _) => vmaj = r.varint()
        case (5, _) => pw = r.varint().toInt
        case (_, w) => r.skip(w)
      }
      if (pw > 64 || pw < 0) return Iterator.single(badPointWidth)
      val pinned = if (vmaj == 0L) None else Some(verOf(e, uuid))
      val rows = e.serveAlignedWindows(uuid, start, end, pw, pin(vmaj))
      chunked(rows, pinned)((w, p) =>
        w.message(4, statPoint(p._1, p._2, p._3, p._4, p._5)))

    case "Windows" =>
      var uuid = ""; var start = 0L; var end = 0L; var vmaj = 0L
      var width = 0L; var depth = 0
      val r = new PbReader(body)
      while (r.hasNext) r.readTag() match {
        case (1, _) => uuid = uuidStr(r.lenBytes())
        case (2, _) => start = r.fixed64()
        case (3, _) => end = r.fixed64()
        case (4, _) => vmaj = r.varint()
        case (5, _) => width = r.varint()
        case (6, _) => depth = r.varint().toInt
        case (_, w) => r.skip(w)
      }
      val pinned = if (vmaj == 0L) None else Some(verOf(e, uuid))
      val rows = e.serveWindows(uuid, start, end, width, pin(vmaj), depth)
      chunked(rows, pinned)((w, p) =>
        w.message(4, statPoint(p._1, p._2, p._3, p._4, p._5)))

    case "StreamInfo" =>
      var uuid = ""; var omitVersion = false; var omitDescriptor = false
      val r = new PbReader(body)
      while (r.hasNext) r.readTag() match {
        case (1, _) => uuid = uuidStr(r.lenBytes())
        case (2, _) => omitVersion = r.varint() != 0
        case (3, _) => omitDescriptor = r.varint() != 0
        case (_, w) => r.skip(w)
      }
      val (desc, maj, minor) = e.streamInfo(uuid)
      val w = new PbWriter
      if (!omitVersion) withVersion(w, maj, minor)
      if (!omitDescriptor) w.message(4, descriptor(desc))
      Iterator.single(w.toBytes)

    case "SetStreamAnnotations" =>
      var uuid = ""; var expected = 0L
      var changes = Map.empty[String, Option[String]]
      val kovs = Seq.newBuilder[PbReader]
      val r = new PbReader(body)
      while (r.hasNext) r.readTag() match {
        case (1, _) => uuid = uuidStr(r.lenBytes())
        case (2, _) => expected = r.varint()
        case (3, _) => kovs += r.lenReader()
        case (_, w) => r.skip(w)
      }
      changes = kovMap(kovs.result())
      e.updateAnnotations(uuid, expected, changes)
      Iterator.single(new PbWriter().toBytes)

    case "Create" =>
      var uuid = ""; var collection = ""
      val tags = Seq.newBuilder[PbReader]; val anns = Seq.newBuilder[PbReader]
      val r = new PbReader(body)
      while (r.hasNext) r.readTag() match {
        case (1, _) => uuid = uuidStr(r.lenBytes())
        case (2, _) => collection = r.lenString()
        case (3, _) => tags += r.lenReader()
        case (4, _) => anns += r.lenReader()
        case (_, w) => r.skip(w)
      }
      e.createStream(uuid, collection, kvMap(tags.result()),
        kvMap(anns.result()))
      Iterator.single(new PbWriter().toBytes)

    case "ListCollections" =>
      var prefix = ""; var startWith = ""; var limit = 0L
      val r = new PbReader(body)
      while (r.hasNext) r.readTag() match {
        case (1, _) => prefix = r.lenString()
        case (2, _) => startWith = r.lenString()
        case (3, _) => limit = r.varint()
        case (_, w) => r.skip(w)
      }
      val lim = if (limit <= 0) 10000 else math.min(limit, 10000L).toInt
      val w = new PbWriter
      e.listCollections(prefix, startWith, lim).collect()
        .foreach(row => w.string(2, row.getString(0)))
      Iterator.single(w.toBytes)

    case "LookupStreams" =>
      var collection = ""; var isPrefix = false
      val tags = Seq.newBuilder[PbReader]; val anns = Seq.newBuilder[PbReader]
      val r = new PbReader(body)
      while (r.hasNext) r.readTag() match {
        case (1, _) => collection = r.lenString()
        case (2, _) => isPrefix = r.varint() != 0
        case (3, _) => tags += r.lenReader()
        case (4, _) => anns += r.lenReader()
        case (_, w) => r.skip(w)
      }
      val base = e.lookupStreams(collection, kovMap(tags.result()),
        kovMap(anns.result()))
      val rows = (if (isPrefix) base
        else base.filter(col("collection") === collection)).collect()
      val descs = rows.map { x =>
        graft.engine.StreamDescInfo(x.getAs[String]("uuid"),
          x.getAs[Long]("sid"), x.getAs[String]("collection"),
          x.getAs[scala.collection.Map[String, String]]("tags").toMap,
          x.getAs[scala.collection.Map[String, String]]("annotations").toMap,
          x.getAs[Long]("annotationVersion"))
      }
      if (descs.isEmpty) Iterator.single(new PbWriter().toBytes)
      else descs.iterator.grouped(ChunkSize).map { group =>
        val w = new PbWriter
        group.foreach(d => w.message(2, descriptor(d)))
        w.toBytes
      }

    case "Nearest" =>
      var uuid = ""; var time = 0L; var vmaj = 0L; var backward = false
      val r = new PbReader(body)
      while (r.hasNext) r.readTag() match {
        case (1, _) => uuid = uuidStr(r.lenBytes())
        case (2, _) => time = r.fixed64()
        case (3, _) => vmaj = r.varint()
        case (4, _) => backward = r.varint() != 0
        case (_, w) => r.skip(w)
      }
      val (maj, minor) = verOf(e, uuid)
      e.nearest(uuid, time, backward, pin(vmaj)) match {
        case Some((t, v)) =>
          val w = withVersion(new PbWriter, maj, minor)
          w.message(4, rawPoint(t, v))
          Iterator.single(w.toBytes)
        case None =>
          val w = new PbWriter
          w.message(1, statusMsg(401, "no such point"))
          Iterator.single(w.toBytes)
      }

    case "Changes" =>
      var uuid = ""; var fromMajor = 0L; var toMajor = 0L; var resolution = 0
      val r = new PbReader(body)
      while (r.hasNext) r.readTag() match {
        case (1, _) => uuid = uuidStr(r.lenBytes())
        case (2, _) => fromMajor = r.varint()
        case (3, _) => toMajor = r.varint()
        case (4, _) => resolution = r.varint().toInt
        case (_, w) => r.skip(w)
      }
      val (maj, minor) = verOf(e, uuid)
      val to = if (toMajor == 0L) maj else toMajor
      val rows = e.serveChanges(uuid, fromMajor, to, resolution)
      chunked(rows, Some((maj, minor))) { (w, p) =>
        val cr = new PbWriter
        cr.sfixed64(1, p._1); cr.sfixed64(2, p._2)
        w.message(4, cr)
      }

    case "Insert" =>
      var uuid = ""; var sync = false
      val pts = Seq.newBuilder[(Long, Double)]
      val r = new PbReader(body)
      while (r.hasNext) r.readTag() match {
        case (1, _) => uuid = uuidStr(r.lenBytes())
        case (2, _) => sync = r.varint() != 0
        case (3, _) =>
          val p = r.lenReader()
          var t = 0L; var v = 0.0
          while (p.hasNext) p.readTag() match {
            case (1, _) => t = p.fixed64()
            case (2, _) => v = p.double()
            case (_, w) => p.skip(w)
          }
          pts += ((t, v))
        case (_, w) => r.skip(w)
      }
      val spark = e.spark
      // checkpoint before inserting: a LocalRelation re-converts its
      // Scala rows through the reflective encoder on EVERY job, and
      // insert's validate+stage makes two passes — paying the
      // conversion once measured 5.5 s → 1.5 s at a 250k-point batch
      // (servebench's ingest-mixed workload measures this path:
      // `python3 servebench/run.py --workload ingest-mixed --trace 1`).
      // Unpersist after the synchronous insert so a
      // long-lived server doesn't accumulate blocks.
      val df = spark.createDataFrame(pts.result()).toDF("time", "value")
        .localCheckpoint()
      try e.insert(uuid, df) finally df.unpersist()
      val (maj, minor) = if (sync) e.flush(uuid) else verOf(e, uuid)
      Iterator.single(withVersion(new PbWriter, maj, minor).toBytes)

    case "Delete" =>
      var uuid = ""; var start = 0L; var end = 0L
      val r = new PbReader(body)
      while (r.hasNext) r.readTag() match {
        case (1, _) => uuid = uuidStr(r.lenBytes())
        case (2, _) => start = r.fixed64()
        case (3, _) => end = r.fixed64()
        case (_, w) => r.skip(w)
      }
      val (maj, minor) = e.deleteRange(uuid, start, end)
      Iterator.single(withVersion(new PbWriter, maj, minor).toBytes)

    case "Info" =>
      val info = e.engineInfo()
      val w = new PbWriter
      val mash = new PbWriter
      mash.bool(5, info.healthy)
      w.message(2, mash)
      w.uint32(3, info.majorVersion)
      w.uint32(4, info.minorVersion)
      w.string(5, info.build)
      Iterator.single(w.toBytes)

    case "Flush" =>
      val (maj, minor) = e.flush(uuidField(body))
      Iterator.single(withVersion(new PbWriter, maj, minor).toBytes)

    case "Obliterate" =>
      e.obliterate(uuidField(body))
      Iterator.single(new PbWriter().toBytes)

    case "GetMetadataUsage" =>
      var prefix = ""
      val r = new PbReader(body)
      while (r.hasNext) r.readTag() match {
        case (1, _) => prefix = r.lenString()
        case (_, w) => r.skip(w)
      }
      val w = new PbWriter
      e.keyUsage(prefix).collect().foreach { x =>
        val kc = new PbWriter
        kc.string(1, x.getString(1)); kc.uint64(2, x.getLong(2))
        w.message(if (x.getString(0) == "tag") 2 else 3, kc)
      }
      Iterator.single(w.toBytes)

    case "GenerateCSV" =>
      generateCsv(e, body)

    case "FaultInject" =>
      // mirrors a production reference node: fault injection disabled
      // (bte 424, /root/reference/bte/errors.go)
      val w = new PbWriter
      w.message(1, statusMsg(424, "fault injection disabled"))
      Iterator.single(w.toBytes)

    case m => // unreachable: handle() gates on [[Methods]]
      throw new IllegalArgumentException(s"unknown method $m")
  }

  private def uuidField(body: Array[Byte]): String = {
    var uuid = ""
    val r = new PbReader(body)
    while (r.hasNext) r.readTag() match {
      case (1, _) => uuid = uuidStr(r.lenBytes())
      case (_, w) => r.skip(w)
    }
    uuid
  }

  /** Lazily frame a served read's rows into ChunkSize-row response
    * messages — pulling a chunk merges only its rows, so driver memory is
    * bounded by the read's decode-ahead + one encoded chunk regardless of
    * result size. Each message carries `version`, or for a latest read
    * (None) the (major, minor) of the state the read saw. Closing the
    * messages closes the read. */
  private def chunked[T](rows: graft.engine.ServedRows[T], version: Option[(Long, Long)])
      (emit: (PbWriter, T) => Unit): Iterator[Array[Byte]] = {
    val (maj, minor) = version.getOrElse(rows.version)
    if (!rows.hasNext)
      return Iterator.single(withVersion(new PbWriter, maj, minor).toBytes)
    val chunks = rows.grouped(ChunkSize).map { group =>
      val w = withVersion(new PbWriter, maj, minor)
      group.foreach(emit(w, _))
      w.toBytes
    }
    new Iterator[Array[Byte]] with AutoCloseable {
      def hasNext: Boolean = chunks.hasNext
      def next(): Array[Byte] = chunks.next()
      def close(): Unit = rows.close()
    }
  }

  /** GenerateCSV — all three reference query types
    * (/root/reference/grpcinterface/serve.go:874-1007) in the
    * reference's exact column layout (grpcinterface/csv.go):
    * `Timestamp (ns)` + `Human-Readable Time (UTC)` + per stream one
    * value column (RAW) or four stat columns `label (Min|Mean|Max|
    * Count)`; rows k-way merged on time with empty cells where a
    * stream has no point; min/mean/max rendered `%f`, count `%d`,
    * the human time RFC3339 at second precision — all as the
    * reference's fmt verbs produce. The ALIGNED form takes its
    * pointwidth from the `depth` field and WINDOWS takes
    * windowSize+depth, mirroring serve.go:891-922; each stream may
    * pin its own version. The merge runs distributed (join chain or
    * single-shuffle pivot, [[graft.engine.Btrdb.multiStatAlign]]) and
    * rows stream through `toLocalIterator` — one response message per
    * row, after the header row. */
  private def generateCsv(e: Btrdb, body: Array[Byte]): Iterator[Array[Byte]] = {
    var queryType = 0; var start = 0L; var end = 0L
    var windowSize = 0L; var depth = 0; var includeVersions = false
    val streams = Seq.newBuilder[(String, String, Long)] // (uuid, label, ver)
    val r = new PbReader(body)
    while (r.hasNext) r.readTag() match {
      case (1, _) => queryType = r.varint().toInt
      case (2, _) => start = r.varint()
      case (3, _) => end = r.varint()
      case (4, _) => windowSize = r.varint()
      case (5, _) => depth = r.varint().toInt
      case (6, _) => includeVersions = r.varint() != 0
      case (7, _) =>
        val sc = r.lenReader()
        var uuid = ""; var label = ""; var ver = 0L
        while (sc.hasNext) sc.readTag() match {
          case (1, _) => ver = sc.varint()
          case (2, _) => label = sc.lenString()
          case (3, _) => uuid = uuidStr(sc.lenBytes())
          case (_, w) => sc.skip(w)
        }
        streams += ((uuid, if (label.nonEmpty) label else uuid, ver))
      case (_, w) => r.skip(w)
    }
    val cfg = streams.result()
    require(cfg.nonEmpty, "no streams requested")
    val isRaw = queryType == 2
    val frame = queryType match {
      case 2 => // RAW_QUERY: one value column per stream. INDEX-keyed
        // internal names: the merge must never fold two requested
        // streams that share a label (e.g. one uuid pinned at two
        // versions, both defaulting the label to the uuid) — the
        // display labels only ever appear in the header row
        e.multiRawAlign(cfg.zipWithIndex.map { case ((u, _, v), i) =>
          s"_s$i" -> e.rawValues(u, start, end, pin(v))
            .select("time", "value") })
      case 0 => // ALIGNED_WINDOWS_QUERY: pointwidth = depth (serve.go:891-899)
        if (depth > 64 || depth < 0)
          return Iterator.single(badPointWidth)
        e.multiStatAligned(cfg.map(_._1), cfg.indices.map(i => s"_s$i"),
          start, end, depth, cfg.map(c => pin(c._3)))
      case 1 => // WINDOWS_QUERY: arbitrary width + depth (serve.go:908-922)
        require(windowSize > 0, s"bad windowSize $windowSize")
        e.multiStatAlign(cfg.zipWithIndex.map { case ((u, _, v), i) =>
          s"_s$i" -> e.windows(u, start, end, windowSize, pin(v), depth)
            .select(col("wstart").as("time"), col("vmin"), col("vmean"),
              col("vmax"), col("cnt")) })
      case q => throw new IllegalArgumentException(s"unknown queryType $q")
    }
    // header row (csv.go:36-41,84-100,137-150); resolving each pinned
    // version is a catalog lookup, done only when the client asked
    val verSuffix: Int => String =
      if (!includeVersions) _ => ""
      else {
        val resolved = cfg.map { case (u, _, v) =>
          if (v == 0L) verOf(e, u)._1 else v }
        i => s", ver. ${resolved(i)}"
      }
    val headerCells = Seq("Timestamp (ns)", "Human-Readable Time (UTC)") ++
      cfg.zipWithIndex.flatMap { case ((_, l, _), i) =>
        if (isRaw) Seq(s"$l${verSuffix(i)}")
        else Seq("Min", "Mean", "Max", "Count")
          .map(st => s"$l${verSuffix(i)} ($st)")
      }
    val header = {
      val w = new PbWriter
      w.bool(2, true)
      headerCells.foreach(w.stringElem(3, _))
      w.toBytes
    }
    val k = cfg.size
    // one response message PER ROW — `repeated string row` is one
    // row's cells in the proto, so rows must never share a message
    Iterator.single(header) ++
      frame.toLocalIterator().asScala.map { row =>
        val w = new PbWriter
        val t = row.getLong(0)
        w.stringElem(3, t.toString)
        w.stringElem(3, rfc3339(t))
        if (isRaw)
          (0 until k).foreach { i =>
            w.stringElem(3,
              if (row.isNullAt(1 + i)) "" else fmtF(row.getDouble(1 + i)))
          }
        else
          (0 until k).foreach { i =>
            val base = 1 + 4 * i
            if (row.isNullAt(base)) (0 until 4).foreach(_ => w.stringElem(3, ""))
            else {
              w.stringElem(3, fmtF(row.getDouble(base)))
              w.stringElem(3, fmtF(row.getDouble(base + 1)))
              w.stringElem(3, fmtF(row.getDouble(base + 2)))
              w.stringElem(3, row.getLong(base + 3).toString)
            }
          }
        w.toBytes
      }
  }

  /** Go `%f`: fixed six decimals, locale-independent. */
  private def fmtF(v: Double): String =
    String.format(java.util.Locale.ROOT, "%f", Double.box(v))

  private val Rfc3339 = java.time.format.DateTimeFormatter
    .ofPattern("uuuu-MM-dd'T'HH:mm:ssXXX").withZone(java.time.ZoneOffset.UTC)

  /** Go `time.Unix(0, ns).Format(time.RFC3339)` on a UTC host: second
    * precision (the layout has no fractional second — the exact ns
    * ride in the first column), trailing `Z`. */
  private def rfc3339(ns: Long): String =
    Rfc3339.format(java.time.Instant.ofEpochSecond(
      Math.floorDiv(ns, 1000000000L)))
}
