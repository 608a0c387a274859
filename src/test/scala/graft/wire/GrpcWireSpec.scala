package graft.wire

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import io.netty.bootstrap.Bootstrap
import io.netty.channel.{ChannelHandlerContext, ChannelInboundHandlerAdapter, ChannelInitializer, MultiThreadIoEventLoopGroup}
import io.netty.channel.nio.NioIoHandler
import io.netty.channel.socket.SocketChannel
import io.netty.channel.socket.nio.NioSocketChannel
import io.netty.handler.codec.http2.{DefaultHttp2DataFrame, DefaultHttp2Headers, DefaultHttp2HeadersFrame, Http2DataFrame, Http2FrameCodecBuilder, Http2HeadersFrame, Http2MultiplexHandler, Http2StreamChannelBootstrap}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Btrdb, ReadCounts}

/** End-to-end BTrDB-wire shim test: a REAL HTTP/2 client (Netty frame
  * codec, nothing shared with the server beyond the [[Pb]] codec the
  * shim itself defines) connects over a TCP socket and speaks gRPC —
  * prior-knowledge h2c, `:path` routing, 5-byte message framing,
  * `grpc-status` trailers — against [[GrpcServer]] running a live
  * engine. Every assertion compares wire-decoded values against the
  * engine API directly. */
class GrpcWireSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var db: Btrdb = _
  private var server: GrpcServer = _
  private var port: Int = 0
  private var group: MultiThreadIoEventLoopGroup = _
  private var conn: io.netty.channel.Channel = _

  private val uuid = "11111111-2222-3333-4444-555555555555"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("grpc-wire-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    db = new Btrdb(spark, Files.createTempDirectory("grpcspec").toString,
      sBuckets = 4, tBucketPw = 12, bufferCommitThreshold = 1L,
      pyramidLevels = Seq(4, 8), pyramidWBucketPw = 12, commitRangePw = 8)
    server = new GrpcServer(db, 0)
    port = server.start()
    group = new MultiThreadIoEventLoopGroup(1, NioIoHandler.newFactory())
    conn = new Bootstrap()
      .group(group)
      .channel(classOf[NioSocketChannel])
      .handler(new ChannelInitializer[SocketChannel] {
        override def initChannel(ch: SocketChannel): Unit = {
          ch.pipeline().addLast(Http2FrameCodecBuilder.forClient().build())
          ch.pipeline().addLast(
            new Http2MultiplexHandler(new ChannelInboundHandlerAdapter))
        }
      })
      .connect("127.0.0.1", port).sync().channel()
  }

  override def afterAll(): Unit = {
    if (conn != null) conn.close().sync()
    if (group != null) group.shutdownGracefully(0, 1, TimeUnit.SECONDS)
    if (server != null) server.stop()
    spark.stop()
  }

  /** One gRPC call over a fresh HTTP/2 stream: returns the decoded
    * response messages and the grpc-status trailer. */
  private def call(method: String,
                   request: PbWriter): (Seq[Array[Byte]], String) = {
    val done = new CountDownLatch(1)
    val data = new java.io.ByteArrayOutputStream()
    val status = new java.util.concurrent.atomic.AtomicReference[String]("")
    val sch = new Http2StreamChannelBootstrap(conn)
      .handler(new ChannelInboundHandlerAdapter {
        override def channelRead(ctx: ChannelHandlerContext,
                                 msg: AnyRef): Unit = msg match {
          case h: Http2HeadersFrame =>
            val st = h.headers().get("grpc-status")
            if (st != null) status.set(String.valueOf(st))
            if (h.isEndStream) done.countDown()
          case d: Http2DataFrame =>
            val arr = new Array[Byte](d.content().readableBytes())
            d.content().readBytes(arr)
            data.write(arr, 0, arr.length)
            val end = d.isEndStream
            // return flow-control credit or a >64 KiB response stalls
            val credit = d.initialFlowControlledBytes()
            d.release()
            if (credit > 0)
              ctx.writeAndFlush(
                new io.netty.handler.codec.http2.DefaultHttp2WindowUpdateFrame(credit))
            if (end) done.countDown()
          case other => io.netty.util.ReferenceCountUtil.release(other)
        }
      })
      .open().sync().getNow
    val headers = new DefaultHttp2Headers()
    headers.method("POST").scheme("http")
      .authority(s"127.0.0.1:$port")
      .path(s"/grpcinterface.BTrDB/$method")
    headers.set("content-type", "application/grpc")
    headers.set("te", "trailers")
    sch.write(new DefaultHttp2HeadersFrame(headers))
    val payload = request.toBytes
    val buf = io.netty.buffer.Unpooled.buffer(5 + payload.length)
    buf.writeByte(0).writeInt(payload.length).writeBytes(payload)
    sch.writeAndFlush(new DefaultHttp2DataFrame(buf, true))
    assert(done.await(120, TimeUnit.SECONDS), s"$method timed out")
    // split the concatenated DATA bytes back into framed messages
    val all = data.toByteArray
    val msgs = Seq.newBuilder[Array[Byte]]
    var pos = 0
    while (pos < all.length) {
      assert(all(pos) == 0, "uncompressed flag expected")
      val len = ((all(pos + 1) & 0xff) << 24) | ((all(pos + 2) & 0xff) << 16) |
        ((all(pos + 3) & 0xff) << 8) | (all(pos + 4) & 0xff)
      msgs += java.util.Arrays.copyOfRange(all, pos + 5, pos + 5 + len)
      pos += 5 + len
    }
    (msgs.result(), status.get())
  }

  /** Decode a Status message (code field 1, msg field 2) if present at
    * `field` 1 of the response; None = success. */
  private def statOf(msg: Array[Byte]): Option[(Int, String)] = {
    val r = new PbReader(msg)
    while (r.hasNext) r.readTag() match {
      case (1, _) =>
        val st = r.lenReader()
        var code = 0; var m = ""
        while (st.hasNext) st.readTag() match {
          case (1, _) => code = st.varint().toInt
          case (2, _) => m = st.lenString()
          case (_, w) => st.skip(w)
        }
        return Some((code, m))
      case (_, w) => r.skip(w)
    }
    None
  }

  test("Create + Insert(sync) + RawValues round-trip the wire") {
    val create = new PbWriter
    create.bytes(1, BtrdbWire.uuidBytes(uuid))
    create.string(2, "wire/a")
    val kv = new PbWriter; kv.string(1, "site"); kv.bytes(2, "s1".getBytes)
    create.message(3, kv)
    val (cres, cstatus) = call("Create", create)
    assert(cstatus == "0" && statOf(cres.head).isEmpty)

    val ins = new PbWriter
    ins.bytes(1, BtrdbWire.uuidBytes(uuid))
    ins.bool(2, true) // sync
    (0 until 64).foreach { i =>
      val p = new PbWriter
      p.sfixed64(1, i * 10L); p.double(2, i * 1.5)
      ins.message(3, p)
    }
    val (ires, _) = call("Insert", ins)
    assert(statOf(ires.head).isEmpty)

    val raw = new PbWriter
    raw.bytes(1, BtrdbWire.uuidBytes(uuid))
    raw.sfixed64(2, 0L); raw.sfixed64(3, 1000L)
    val (rres, rstatus) = call("RawValues", raw)
    assert(rstatus == "0")
    val pts = Seq.newBuilder[(Long, Double)]
    var vmaj = -1L
    rres.foreach { m =>
      assert(statOf(m).isEmpty)
      val r = new PbReader(m)
      while (r.hasNext) r.readTag() match {
        case (2, _) => vmaj = r.varint()
        case (4, _) =>
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
    }
    val expected = db.rawValues(uuid, 0L, 1000L).collect()
      .map(x => (x.getLong(0), x.getDouble(1))).toSeq
    assert(pts.result() == expected)
    assert(vmaj == db.version(uuid)._1)
  }

  test("AlignedWindows over the wire matches the engine") {
    val req = new PbWriter
    req.bytes(1, BtrdbWire.uuidBytes(uuid))
    req.sfixed64(2, 0L); req.sfixed64(3, 640L)
    req.uint32(5, 4) // pointWidth
    val (res, status) = call("AlignedWindows", req)
    assert(status == "0")
    val got = Seq.newBuilder[(Long, Double, Double, Double, Long)]
    res.foreach { m =>
      assert(statOf(m).isEmpty)
      val r = new PbReader(m)
      while (r.hasNext) r.readTag() match {
        case (4, _) =>
          val p = r.lenReader()
          var t = 0L; var mn = 0.0; var mean = 0.0; var mx = 0.0; var n = 0L
          while (p.hasNext) p.readTag() match {
            case (1, _) => t = p.fixed64()
            case (2, _) => mn = p.double()
            case (3, _) => mean = p.double()
            case (4, _) => mx = p.double()
            case (5, _) => n = p.fixed64()
            case (_, w) => p.skip(w)
          }
          got += ((t, mn, mean, mx, n))
        case (_, w) => r.skip(w)
      }
    }
    val expected = db.alignedWindows(uuid, 0L, 640L, 4)
      .select("wstart", "vmin", "vmean", "vmax", "cnt").collect()
      .map(x => (x.getLong(0), x.getDouble(1), x.getDouble(2),
        x.getDouble(3), x.getLong(4))).toSeq
    assert(got.result() == expected)
  }

  test("Nearest finds a point; misses answer with bte 401, grpc-status 0") {
    val req = new PbWriter
    req.bytes(1, BtrdbWire.uuidBytes(uuid))
    req.sfixed64(2, 25L)
    req.bool(4, true) // backward
    val (res, _) = call("Nearest", req)
    assert(statOf(res.head).isEmpty)
    val r = new PbReader(res.head)
    var t = -1L; var v = 0.0
    while (r.hasNext) r.readTag() match {
      case (4, _) =>
        val p = r.lenReader()
        while (p.hasNext) p.readTag() match {
          case (1, _) => t = p.fixed64()
          case (2, _) => v = p.double()
          case (_, w) => p.skip(w)
        }
      case (_, w) => r.skip(w)
    }
    assert(Some((t, v)) == db.nearest(uuid, 25L, backward = true))

    val miss = new PbWriter
    miss.bytes(1, BtrdbWire.uuidBytes(uuid))
    miss.sfixed64(2, -500L)
    miss.bool(4, true)
    val (mres, mstatus) = call("Nearest", miss)
    assert(mstatus == "0", "app-level miss keeps grpc-status 0")
    assert(statOf(mres.head).map(_._1).contains(401))
  }

  test("Info and ListCollections answer over the wire") {
    val (ires, _) = call("Info", new PbWriter)
    val r = new PbReader(ires.head)
    var build = ""; var major = 0
    while (r.hasNext) r.readTag() match {
      case (3, _) => major = r.varint().toInt
      case (5, _) => build = r.lenString()
      case (_, w) => r.skip(w)
    }
    assert(major == 4 && build.contains("graft"))

    val lc = new PbWriter
    lc.string(1, "wire/")
    val (lres, _) = call("ListCollections", lc)
    val lr = new PbReader(lres.head)
    val cols = Seq.newBuilder[String]
    while (lr.hasNext) lr.readTag() match {
      case (2, _) => cols += lr.lenString()
      case (_, w) => lr.skip(w)
    }
    assert(cols.result() == Seq("wire/a"))
  }

  test("errors map to bte codes: unknown stream is 404-family, not a hang") {
    val req = new PbWriter
    req.bytes(1, BtrdbWire.uuidBytes("99999999-9999-9999-9999-999999999999"))
    req.sfixed64(2, 0L); req.sfixed64(3, 10L)
    val (res, status) = call("RawValues", req)
    assert(status == "0")
    val st = statOf(res.head)
    assert(st.isDefined && st.get._1 >= 400, s"expected bte error, got $st")
  }

  test("Windows, Changes, Delete and Flush round-trip the wire") {
    // arbitrary-width windows
    val wreq = new PbWriter
    wreq.bytes(1, BtrdbWire.uuidBytes(uuid))
    wreq.sfixed64(2, 0L); wreq.sfixed64(3, 630L)
    wreq.uint64(5, 90L) // width (not a power of two on purpose)
    val (wres, _) = call("Windows", wreq)
    val got = Seq.newBuilder[(Long, Long)]
    wres.foreach { m =>
      assert(statOf(m).isEmpty)
      val r = new PbReader(m)
      while (r.hasNext) r.readTag() match {
        case (4, _) =>
          val p = r.lenReader()
          var t = 0L; var n = 0L
          while (p.hasNext) p.readTag() match {
            case (1, _) => t = p.fixed64()
            case (5, _) => n = p.fixed64()
            case (_, w) => p.skip(w)
          }
          got += ((t, n))
        case (_, w) => r.skip(w)
      }
    }
    val expected = db.windows(uuid, 0L, 630L, 90L)
      .select("wstart", "cnt").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSeq
    assert(got.result() == expected)

    // depth-capped windows carry the reference-exact semantics through
    // the wire: proto field 6, ladder-bucket attribution, and the
    // activation-drop of the bucket containing `start`
    val dreq = new PbWriter
    dreq.bytes(1, BtrdbWire.uuidBytes(uuid))
    dreq.sfixed64(2, 0L); dreq.sfixed64(3, 630L)
    dreq.uint64(5, 90L)
    dreq.uint64(6, 3L) // depth=3 -> 4ns attribution buckets
    val (ddres, _) = call("Windows", dreq)
    val depthGot = Seq.newBuilder[(Long, Long, Double)]
    ddres.foreach { m =>
      assert(statOf(m).isEmpty)
      val r = new PbReader(m)
      while (r.hasNext) r.readTag() match {
        case (4, _) =>
          val p = r.lenReader()
          var t = 0L; var n = 0L; var mn = 0.0
          while (p.hasNext) p.readTag() match {
            case (1, _) => t = p.fixed64()
            case (2, _) => mn = p.double()
            case (5, _) => n = p.fixed64()
            case (_, w) => p.skip(w)
          }
          depthGot += ((t, n, mn))
        case (_, w) => r.skip(w)
      }
    }
    val depthExpected = db.windows(uuid, 0L, 630L, 90L, depth = 3)
      .select("wstart", "cnt", "vmin").collect()
      .map(x => (x.getLong(1 - 1), x.getLong(1), x.getDouble(2))).toSeq
    assert(depthGot.result() == depthExpected)
    // the depth cap observably changed the result on the wire: the
    // bucket [0,4) containing start is dropped (window 0's min rises
    // from the t=0 point's value to t=10's) even though the end-tail
    // quirk keeps the total count equal here
    assert(depthGot.result().head._3 == 1.5 && expected.head._1 == 0L)
    assert(depthGot.result().map(_._2) != expected.map(_._2) ||
      depthGot.result().head._3 != 0.0,
      "depth routing must change the windows result")

    // delete a range over the wire, then verify over the wire
    val del = new PbWriter
    del.bytes(1, BtrdbWire.uuidBytes(uuid))
    del.sfixed64(2, 100L); del.sfixed64(3, 200L)
    val (dres, _) = call("Delete", del)
    assert(statOf(dres.head).isEmpty)
    assert(db.rawValues(uuid, 100L, 200L).count() == 0)

    // changes between versions
    val ch = new PbWriter
    ch.bytes(1, BtrdbWire.uuidBytes(uuid))
    ch.uint64(2, 0L) // fromMajor; toMajor 0 = latest
    ch.uint32(4, 4)  // resolution
    val (cres, _) = call("Changes", ch)
    var nRanges = 0
    cres.foreach { m =>
      val r = new PbReader(m)
      while (r.hasNext) r.readTag() match {
        case (4, _) => r.lenReader(); nRanges += 1
        case (_, w) => r.skip(w)
      }
    }
    assert(nRanges == db.changes(uuid, 0L, db.version(uuid)._1, 4).count())

    // flush is a no-op here (sync inserts) but must answer versions
    val fl = new PbWriter
    fl.bytes(1, BtrdbWire.uuidBytes(uuid))
    val (fres, _) = call("Flush", fl)
    val fr = new PbReader(fres.head)
    var vmaj = -1L
    while (fr.hasNext) fr.readTag() match {
      case (2, _) => vmaj = fr.varint()
      case (_, w) => fr.skip(w)
    }
    assert(vmaj == db.version(uuid)._1)
  }

  test("annotations, lookup and metadata usage round-trip the wire") {
    // SetStreamAnnotations with CAS at version 0
    val setReq = new PbWriter
    setReq.bytes(1, BtrdbWire.uuidBytes(uuid))
    val kov = new PbWriter
    kov.string(1, "owner")
    val ov = new PbWriter; ov.bytes(1, "team-w".getBytes)
    kov.message(2, ov)
    setReq.message(3, kov)
    val (sres, _) = call("SetStreamAnnotations", setReq)
    assert(statOf(sres.head).isEmpty)
    assert(db.streamInfo(uuid)._1.annotations == Map("owner" -> "team-w"))

    // a stale CAS must fail with an app-level error
    val (sres2, _) = call("SetStreamAnnotations", setReq) // version moved to 1
    assert(statOf(sres2.head).exists(_._1 >= 400))

    // LookupStreams by annotation
    val lk = new PbWriter
    lk.string(1, "wire/")
    lk.bool(2, true) // prefix
    val filt = new PbWriter
    filt.string(1, "owner")
    val fov = new PbWriter; fov.bytes(1, "team-w".getBytes)
    filt.message(2, fov)
    lk.message(4, filt)
    val (lres, _) = call("LookupStreams", lk)
    val uuids = Seq.newBuilder[String]
    lres.foreach { m =>
      val r = new PbReader(m)
      while (r.hasNext) r.readTag() match {
        case (2, _) =>
          val d = r.lenReader()
          while (d.hasNext) d.readTag() match {
            case (1, _) => uuids += BtrdbWire.uuidStr(d.lenBytes())
            case (_, w) => d.skip(w)
          }
        case (_, w) => r.skip(w)
      }
    }
    assert(uuids.result() == Seq(uuid))

    // GetMetadataUsage: the tag key and annotation key both count 1
    val mu = new PbWriter
    mu.string(1, "wire/")
    val (mres, _) = call("GetMetadataUsage", mu)
    val mr = new PbReader(mres.head)
    val tagKeys = Seq.newBuilder[(String, Long)]
    val annKeys = Seq.newBuilder[(String, Long)]
    while (mr.hasNext) mr.readTag() match {
      case (f, _) if f == 2 || f == 3 =>
        val kc = mr.lenReader()
        var k = ""; var n = 0L
        while (kc.hasNext) kc.readTag() match {
          case (1, _) => k = kc.lenString()
          case (2, _) => n = kc.varint()
          case (_, w) => kc.skip(w)
        }
        (if (f == 2) tagKeys else annKeys) += ((k, n))
      case (_, w) => mr.skip(w)
    }
    assert(tagKeys.result() == Seq(("site", 1L)))
    assert(annKeys.result() == Seq(("owner", 1L)))
  }

  test("GenerateCSV streams a header row then one response per data row") {
    val req = new PbWriter
    req.uint32(1, 2) // RAW_QUERY
    req.uint64(2, 0L); req.uint64(3, 50L)
    val sc = new PbWriter
    sc.string(2, "w0")
    sc.bytes(3, BtrdbWire.uuidBytes(uuid))
    req.message(7, sc)
    val (res, status) = call("GenerateCSV", req)
    assert(status == "0" && statOf(res.head).isEmpty)
    def rowOf(m: Array[Byte]): (Boolean, Seq[String]) = {
      val r = new PbReader(m)
      var header = false
      val cells = Seq.newBuilder[String]
      while (r.hasNext) r.readTag() match {
        case (2, _) => header = r.varint() != 0
        case (3, _) => cells += r.lenString()
        case (_, w) => r.skip(w)
      }
      (header, cells.result())
    }
    val (h, cols) = rowOf(res.head)
    assert(h && cols == Seq("Timestamp (ns)", "Human-Readable Time (UTC)", "w0"))
    val dataRows = res.tail.map(rowOf)
    assert(dataRows.forall(!_._1))
    assert(dataRows.size ==
      db.multiAlign(Seq(uuid), 0L, 50L, Seq("w0")).count())
    assert(dataRows.forall(_._2.size == 3))
    // reference cell formats (csv.go): ns, RFC3339 seconds, Go %f
    val first = dataRows.head._2
    assert(first(0) == "0")
    assert(first(1) == "1970-01-01T00:00:00Z")
    assert(first(2) == "0.000000")
  }

  test("GenerateCSV ALIGNED_WINDOWS emits Min/Mean/Max/Count per stream") {
    val req = new PbWriter
    req.uint32(1, 0) // ALIGNED_WINDOWS_QUERY
    req.uint64(2, 0L); req.uint64(3, 640L)
    req.uint32(5, 5) // pointwidth rides in `depth` (serve.go:891-899)
    req.bool(6, true) // includeVersions
    val sc = new PbWriter
    sc.string(2, "a")
    sc.bytes(3, BtrdbWire.uuidBytes(uuid))
    req.message(7, sc)
    val (res, status) = call("GenerateCSV", req)
    assert(status == "0" && statOf(res.head).isEmpty)
    def cells(m: Array[Byte]): Seq[String] = {
      val r = new PbReader(m)
      val out = Seq.newBuilder[String]
      while (r.hasNext) r.readTag() match {
        case (3, _) => out += r.lenString()
        case (_, w) => r.skip(w)
      }
      out.result()
    }
    val (vmaj, _) = db.version(uuid)
    assert(cells(res.head) == Seq("Timestamp (ns)",
      "Human-Readable Time (UTC)", s"a, ver. $vmaj (Min)",
      s"a, ver. $vmaj (Mean)", s"a, ver. $vmaj (Max)",
      s"a, ver. $vmaj (Count)"))
    val expected = db.alignedWindows(uuid, 0L, 640L, 5)
      .select("wstart", "vmin", "vmean", "vmax", "cnt")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4))).sortBy(_._1)
    val rows = res.tail.map(cells)
    assert(rows.size == expected.length && rows.forall(_.size == 6))
    rows.zip(expected).foreach { case (row, (t, mn, me, mx, c)) =>
      assert(row(0) == t.toString)
      assert(row(2) == f"$mn%f" && row(3) == f"$me%f" && row(4) == f"$mx%f")
      assert(row(5) == c.toString)
    }
  }

  test("AlignedWindows pointwidth over 64 answers bte 415; 64 is empty success") {
    val req = new PbWriter
    req.bytes(1, BtrdbWire.uuidBytes(uuid))
    req.sfixed64(2, 0L); req.sfixed64(3, 640L)
    req.uint32(5, 70)
    val (res, status) = call("AlignedWindows", req)
    assert(status == "0" && statOf(res.head).exists(_._1 == 415))
    // pw = 64: the reference accepts it (serve.go:193 rejects only
    // > 64) and Go shift semantics collapse both aligned bounds to 0 —
    // an empty window set, not a raw dump (the JVM would mask the
    // shift to identity without the TimeOps guard)
    val req64 = new PbWriter
    req64.bytes(1, BtrdbWire.uuidBytes(uuid))
    req64.sfixed64(2, 0L); req64.sfixed64(3, 640L)
    req64.uint32(5, 64)
    val (res64, st64) = call("AlignedWindows", req64)
    assert(st64 == "0" && statOf(res64.head).isEmpty)
    val r = new PbReader(res64.head)
    var points = 0
    while (r.hasNext) r.readTag() match {
      case (4, _) => r.lenReader(); points += 1
      case (_, w) => r.skip(w)
    }
    assert(points == 0, "pw=64 must yield an empty window set")
  }

  test("GenerateCSV aligned with pointwidth over 64 answers bte 415") {
    val req = new PbWriter
    req.uint32(1, 0)
    req.uint64(2, 0L); req.uint64(3, 640L)
    req.uint32(5, 70)
    val sc = new PbWriter
    sc.string(2, "a"); sc.bytes(3, BtrdbWire.uuidBytes(uuid))
    req.message(7, sc)
    val (res, status) = call("GenerateCSV", req)
    assert(status == "0" && statOf(res.head).exists(_._1 == 415))
  }

  test("admission gate sheds with bte 426 when ConcurrentOp permits are exhausted") {
    val shedServer = new GrpcServer(db, 0, concurrentOps = 0)
    val shedPort = shedServer.start()
    val conn2 = new Bootstrap()
      .group(group)
      .channel(classOf[NioSocketChannel])
      .handler(new ChannelInitializer[SocketChannel] {
        override def initChannel(ch: SocketChannel): Unit = {
          ch.pipeline().addLast(Http2FrameCodecBuilder.forClient().build())
          ch.pipeline().addLast(
            new Http2MultiplexHandler(new ChannelInboundHandlerAdapter))
        }
      })
      .connect("127.0.0.1", shedPort).sync().channel()
    try {
      val done = new CountDownLatch(1)
      val data = new java.io.ByteArrayOutputStream()
      val status = new java.util.concurrent.atomic.AtomicReference[String]("")
      val sch = new Http2StreamChannelBootstrap(conn2)
        .handler(new ChannelInboundHandlerAdapter {
          override def channelRead(ctx: ChannelHandlerContext,
                                   msg: AnyRef): Unit = msg match {
            case h: Http2HeadersFrame =>
              val st = h.headers().get("grpc-status")
              if (st != null) status.set(String.valueOf(st))
              if (h.isEndStream) done.countDown()
            case d: Http2DataFrame =>
              val arr = new Array[Byte](d.content().readableBytes())
              d.content().readBytes(arr)
              data.write(arr, 0, arr.length)
              val end = d.isEndStream
              d.release()
              if (end) done.countDown()
            case other => io.netty.util.ReferenceCountUtil.release(other)
          }
        })
        .open().sync().getNow
      val headers = new DefaultHttp2Headers()
      headers.method("POST").scheme("http")
        .authority(s"127.0.0.1:$shedPort")
        .path("/grpcinterface.BTrDB/Info")
      headers.set("content-type", "application/grpc")
      sch.write(new DefaultHttp2HeadersFrame(headers))
      val buf = io.netty.buffer.Unpooled.buffer(5)
      buf.writeByte(0).writeInt(0)
      sch.writeAndFlush(new DefaultHttp2DataFrame(buf, true))
      assert(done.await(60, TimeUnit.SECONDS), "shed must answer, not hang")
      assert(status.get() == "0") // app-level shed, reference convention
      val all = data.toByteArray
      val body = java.util.Arrays.copyOfRange(all, 5, all.length)
      assert(statOf(body).exists(_._1 == 426), "bte ResourceDepleted")
    } finally {
      conn2.close().sync()
      shedServer.stop()
    }
  }

  test("GenerateCSV WINDOWS_QUERY serves arbitrary-width window CSV") {
    val req = new PbWriter
    req.uint32(1, 1) // WINDOWS_QUERY
    req.uint64(2, 0L); req.uint64(3, 640L)
    req.uint64(4, 100L) // arbitrary (non-power-of-two) width
    val sc = new PbWriter
    sc.string(2, "w")
    sc.bytes(3, BtrdbWire.uuidBytes(uuid))
    req.message(7, sc)
    val (res, status) = call("GenerateCSV", req)
    assert(status == "0" && statOf(res.head).isEmpty)
    def cells(m: Array[Byte]): Seq[String] = {
      val r = new PbReader(m)
      val out = Seq.newBuilder[String]
      while (r.hasNext) r.readTag() match {
        case (3, _) => out += r.lenString()
        case (_, w) => r.skip(w)
      }
      out.result()
    }
    assert(cells(res.head) == Seq("Timestamp (ns)",
      "Human-Readable Time (UTC)", "w (Min)", "w (Mean)", "w (Max)",
      "w (Count)"))
    val expected = db.windows(uuid, 0L, 640L, 100L)
      .select("wstart", "vmin", "vmean", "vmax", "cnt")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4))).sortBy(_._1)
    val rows = res.tail.map(cells)
    assert(rows.size == expected.length)
    rows.zip(expected).foreach { case (row, (t, mn, me, mx, c)) =>
      assert(row(0) == t.toString && row(5) == c.toString)
      assert(row(2) == f"$mn%f" && row(3) == f"$me%f" && row(4) == f"$mx%f")
    }
  }

  test("unknown method on the BTrDB service answers gRPC UNIMPLEMENTED") {
    val (res, status) = call("NoSuchMethod", new PbWriter)
    assert(status == "12" && res.isEmpty)
  }

  test("a request larger than the 64 KiB HTTP/2 window round-trips (flow control)") {
    // ~20k points ≈ 400 KB of request DATA and ≈ 4 chunked response
    // messages — both directions cross the 65535-byte initial window
    // several times, so this deadlocks unless the server returns
    // WINDOW_UPDATE credit for consumed request bytes (and the client
    // for response bytes)
    val big = "22222222-3333-4444-5555-666666666666"
    val create = new PbWriter
    create.bytes(1, BtrdbWire.uuidBytes(big))
    create.string(2, "wire/big")
    assert(statOf(call("Create", create)._1.head).isEmpty)
    val n = 20000
    val ins = new PbWriter
    ins.bytes(1, BtrdbWire.uuidBytes(big))
    ins.bool(2, true)
    (0 until n).foreach { i =>
      val p = new PbWriter
      p.sfixed64(1, i.toLong); p.double(2, i * 0.5)
      ins.message(3, p)
    }
    val (ires, istatus) = call("Insert", ins)
    assert(istatus == "0" && statOf(ires.head).isEmpty)
    val raw = new PbWriter
    raw.bytes(1, BtrdbWire.uuidBytes(big))
    raw.sfixed64(2, 0L); raw.sfixed64(3, n.toLong)
    val (rres, rstatus) = call("RawValues", raw)
    assert(rstatus == "0")
    assert(rres.size == (n + BtrdbWire.ChunkSize - 1) / BtrdbWire.ChunkSize,
      "response streams in ChunkSize messages")
    var total = 0
    rres.foreach { m =>
      val r = new PbReader(m)
      while (r.hasNext) r.readTag() match {
        case (4, _) => r.lenReader(); total += 1
        case (_, w) => r.skip(w)
      }
    }
    assert(total == n)
  }

  test("client reset mid-stream aborts the drain; the connection stays usable") {
    // depends on the 20k-point stream the flow-control test created:
    // the response is ~4 chunked messages crossing the 64 KiB window,
    // so the server is necessarily mid-drain when the reset lands
    val big = "22222222-3333-4444-5555-666666666666"
    val raw = new PbWriter
    raw.bytes(1, BtrdbWire.uuidBytes(big))
    raw.sfixed64(2, 0L); raw.sfixed64(3, 20000L)
    val gotData = new CountDownLatch(1)
    val sch = new Http2StreamChannelBootstrap(conn)
      .handler(new ChannelInboundHandlerAdapter {
        override def channelRead(ctx: ChannelHandlerContext,
                                 msg: AnyRef): Unit = msg match {
          case d: Http2DataFrame =>
            d.release(); gotData.countDown()
          case other => io.netty.util.ReferenceCountUtil.release(other)
        }
      })
      .open().sync().getNow
    val headers = new DefaultHttp2Headers()
    headers.method("POST").scheme("http")
      .authority(s"127.0.0.1:$port")
      .path("/grpcinterface.BTrDB/RawValues")
    headers.set("content-type", "application/grpc")
    sch.write(new DefaultHttp2HeadersFrame(headers))
    val payload = raw.toBytes
    val buf = io.netty.buffer.Unpooled.buffer(5 + payload.length)
    buf.writeByte(0).writeInt(payload.length).writeBytes(payload)
    sch.writeAndFlush(new DefaultHttp2DataFrame(buf, true))
    assert(gotData.await(60, TimeUnit.SECONDS), "first chunk must arrive")
    sch.close().sync() // RST_STREAM(CANCEL) while the server is draining
    // the worker must abort (failed write future), not wedge — the same
    // connection keeps serving RPCs
    val (ires, istatus) = call("Info", new PbWriter)
    assert(istatus == "0" && statOf(ires.head).isEmpty)
    // the worker closes the abandoned reply: the read's decoded rows
    // are released at once, not when the garbage collector finds them
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (graft.engine.Served.heldRows(db) > 0 && System.nanoTime() < deadline)
      Thread.sleep(20)
    assert(graft.engine.Served.heldRows(db) == 0, "the reset read still holds decoded rows")
  }

  test("two-stream aligned CSV merges on time with empty cell groups (csv.go:101-107)") {
    // second stream disjoint from `uuid`'s [0, 630] range: windows
    // where only one stream has data must render the other's four
    // cells as empty strings, the reference's writeEmptyPoint
    val cb = "33333333-4444-5555-6666-777777777777"
    val create = new PbWriter
    create.bytes(1, BtrdbWire.uuidBytes(cb))
    create.string(2, "wire/csvb")
    assert(statOf(call("Create", create)._1.head).isEmpty)
    val ins = new PbWriter
    ins.bytes(1, BtrdbWire.uuidBytes(cb))
    ins.bool(2, true)
    (0 until 32).foreach { i =>
      val p = new PbWriter
      p.sfixed64(1, 1000L + i * 10L); p.double(2, i * 2.0)
      ins.message(3, p)
    }
    assert(statOf(call("Insert", ins)._1.head).isEmpty)
    val req = new PbWriter
    req.uint32(1, 0) // ALIGNED_WINDOWS_QUERY
    req.uint64(2, 0L); req.uint64(3, 1320L)
    req.uint32(5, 5) // pw
    Seq(uuid -> "a", cb -> "b").foreach { case (u, l) =>
      val sc = new PbWriter
      sc.string(2, l); sc.bytes(3, BtrdbWire.uuidBytes(u))
      req.message(7, sc)
    }
    val (res, status) = call("GenerateCSV", req)
    assert(status == "0" && statOf(res.head).isEmpty)
    def cells(m: Array[Byte]): Seq[String] = {
      val r = new PbReader(m)
      val out = Seq.newBuilder[String]
      while (r.hasNext) r.readTag() match {
        case (3, _) => out += r.lenString()
        case (_, w) => r.skip(w)
      }
      out.result()
    }
    assert(cells(res.head).size == 10) // 2 time cols + 4 per stream
    val rows = res.tail.map(cells)
    assert(rows.forall(_.size == 10))
    val aOnly = rows.filter(r => r(2).nonEmpty && r(6).isEmpty)
    val bOnly = rows.filter(r => r(2).isEmpty && r(6).nonEmpty)
    assert(aOnly.nonEmpty && bOnly.nonEmpty,
      "disjoint ranges must produce one-sided rows in both directions")
    // an empty group is ALL-empty; a present group is ALL-present
    assert(rows.forall(r => (2 to 5).forall(i => r(i).isEmpty) ||
      (2 to 5).forall(i => r(i).nonEmpty)))
    assert(rows.forall(r => (6 to 9).forall(i => r(i).isEmpty) ||
      (6 to 9).forall(i => r(i).nonEmpty)))
    // row count = union of the two streams' non-empty window starts
    val expected = (db.alignedWindows(uuid, 0L, 1320L, 5)
        .select("wstart").collect().map(_.getLong(0)) ++
      db.alignedWindows(cb, 0L, 1320L, 5)
        .select("wstart").collect().map(_.getLong(0))).distinct.length
    assert(rows.size == expected)
  }

  test("a compressed request frame answers an app-level error, never a hang") {
    val raw = new PbWriter
    raw.bytes(1, BtrdbWire.uuidBytes(uuid))
    val done = new CountDownLatch(1)
    val data = new java.io.ByteArrayOutputStream()
    val status = new java.util.concurrent.atomic.AtomicReference[String]("")
    val sch = new Http2StreamChannelBootstrap(conn)
      .handler(new ChannelInboundHandlerAdapter {
        override def channelRead(ctx: ChannelHandlerContext,
                                 msg: AnyRef): Unit = msg match {
          case h: Http2HeadersFrame =>
            val st = h.headers().get("grpc-status")
            if (st != null) status.set(String.valueOf(st))
            if (h.isEndStream) done.countDown()
          case d: Http2DataFrame =>
            val arr = new Array[Byte](d.content().readableBytes())
            d.content().readBytes(arr)
            data.write(arr, 0, arr.length)
            if (d.isEndStream) done.countDown()
            d.release()
          case other => io.netty.util.ReferenceCountUtil.release(other)
        }
      })
      .open().sync().getNow
    val headers = new DefaultHttp2Headers()
    headers.method("POST").scheme("http")
      .authority(s"127.0.0.1:$port")
      .path("/grpcinterface.BTrDB/RawValues")
    headers.set("content-type", "application/grpc")
    sch.write(new DefaultHttp2HeadersFrame(headers))
    val payload = raw.toBytes
    val buf = io.netty.buffer.Unpooled.buffer(5 + payload.length)
    buf.writeByte(1) // compressed flag — unsupported
    buf.writeInt(payload.length).writeBytes(payload)
    sch.writeAndFlush(new DefaultHttp2DataFrame(buf, true))
    assert(done.await(60, TimeUnit.SECONDS), "must answer, not hang")
    assert(status.get() == "0")
    val all = data.toByteArray
    val body = java.util.Arrays.copyOfRange(all, 5, all.length)
    val st = statOf(body)
    assert(st.exists(_._1 == 421), s"expected bte WrongArgs, got $st")
  }

  test("unknown service answers gRPC UNIMPLEMENTED") {
    val done = new CountDownLatch(1)
    val status = new java.util.concurrent.atomic.AtomicReference[String]("")
    val sch = new Http2StreamChannelBootstrap(conn)
      .handler(new ChannelInboundHandlerAdapter {
        override def channelRead(ctx: ChannelHandlerContext,
                                 msg: AnyRef): Unit = msg match {
          case h: Http2HeadersFrame =>
            val st = h.headers().get("grpc-status")
            if (st != null) status.set(String.valueOf(st))
            if (h.isEndStream) done.countDown()
          case other => io.netty.util.ReferenceCountUtil.release(other)
        }
      })
      .open().sync().getNow
    val headers = new DefaultHttp2Headers()
    headers.method("POST").scheme("http")
      .authority(s"127.0.0.1:$port")
      .path("/no.such.Service/Nope")
    headers.set("content-type", "application/grpc")
    sch.write(new DefaultHttp2HeadersFrame(headers))
    val buf = io.netty.buffer.Unpooled.buffer(5)
    buf.writeByte(0).writeInt(0)
    sch.writeAndFlush(new DefaultHttp2DataFrame(buf, true))
    assert(done.await(60, TimeUnit.SECONDS))
    assert(status.get() == "12")
  }

  // runs last: its stream would join the collection listings above
  test("Info counts serving-path reads and their points per kind") {
    val u = "66666666-2222-3333-4444-555555555555"
    db.createStream(u, "wire/served", Map.empty)
    db.insert(u, spark.createDataFrame((0 until 32).map(i => (i * 10L, i * 0.5)))
      .toDF("time", "value"))
    db.flush(u)
    val raw = new PbWriter
    raw.bytes(1, BtrdbWire.uuidBytes(u))
    raw.sfixed64(2, 0L); raw.sfixed64(3, 1000L)
    def rawCounts = db.engineInfo().reads("raw")
    def readRaw(): Seq[Array[Byte]] = {
      val (res, status) = call("RawValues", raw)
      assert(status == "0" && statOf(res.head).isEmpty)
      res
    }
    val c0 = rawCounts
    val small = readRaw()
    val c1 = rawCounts
    assert(c1 == ReadCounts(c0.reads + 1, c0.points + 32), s"$c0 -> $c1")
    // above the small-read rule the same read is served the same way
    spark.conf.set("spark.sql.files.openCostInBytes", "1")
    val large = try readRaw() finally spark.conf.unset("spark.sql.files.openCostInBytes")
    val c2 = rawCounts
    assert(c2 == ReadCounts(c1.reads + 1, c1.points + 32), s"$c1 -> $c2")
    assert(large.map(_.toSeq) == small.map(_.toSeq))
    // Windows counts the points its windows summarise: 3 windows of 100
    // ns hold 30 points
    val w0 = db.engineInfo().reads("windows")
    val win = new PbWriter
    win.bytes(1, BtrdbWire.uuidBytes(u))
    win.sfixed64(2, 0L); win.sfixed64(3, 300L); win.uint64(5, 100L)
    assert(statOf(call("Windows", win)._1.head).isEmpty)
    assert(db.engineInfo().reads("windows") == ReadCounts(w0.reads + 1, w0.points + 30))
    // the other kinds count too: one Nearest probe, one Changes
    val (n0, ch0) = (db.engineInfo().reads("nearest"), db.engineInfo().reads("changes"))
    val near = new PbWriter
    near.bytes(1, BtrdbWire.uuidBytes(u)); near.sfixed64(2, 5L)
    assert(statOf(call("Nearest", near)._1.head).isEmpty)
    val ch = new PbWriter
    ch.bytes(1, BtrdbWire.uuidBytes(u)); ch.uint64(3, 1L)
    assert(statOf(call("Changes", ch)._1.head).isEmpty)
    assert(db.engineInfo().reads("nearest") == ReadCounts(n0.reads + 1, n0.points + 1))
    assert(db.engineInfo().reads("changes") == ch0.copy(reads = ch0.reads + 1))
  }
}
