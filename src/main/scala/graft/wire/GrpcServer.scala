package graft.wire

import java.util.concurrent.ConcurrentHashMap

import io.netty.bootstrap.ServerBootstrap
import io.netty.buffer.{ByteBuf, Unpooled}
import io.netty.channel.{Channel, ChannelHandlerContext, ChannelInboundHandlerAdapter, ChannelInitializer, MultiThreadIoEventLoopGroup}
import io.netty.channel.nio.NioIoHandler
import io.netty.channel.socket.SocketChannel
import io.netty.channel.socket.nio.NioServerSocketChannel
import io.netty.handler.codec.http2.{DefaultHttp2DataFrame, DefaultHttp2Headers, DefaultHttp2HeadersFrame, DefaultHttp2WindowUpdateFrame, Http2DataFrame, Http2FrameCodecBuilder, Http2FrameStream, Http2HeadersFrame, Http2ResetFrame}

import graft.engine.Btrdb

/** A BTrDB-wire gRPC endpoint over the engine — the drop-in surface a
  * reference client connects to (insecure/h2c, the reference's default
  * `btrdb.Connect` mode). Speaks real gRPC: HTTP/2 prior-knowledge
  * (Netty's frame codec handles the connection preface and framing),
  * `:path = /grpcinterface.BTrDB/<Method>` routing
  * (/root/reference/grpcinterface/btrdb.proto:2-24), the 5-byte
  * gRPC message prefix (compressed flag + u32 big-endian length), and
  * `grpc-status` trailers. Messages are encoded/decoded by the
  * hand-rolled [[Pb]] codec — no protobuf runtime ships with Spark.
  *
  * Engine calls take milliseconds to seconds (writes and GenerateCSV run
  * Spark jobs; a read merges its rows while its reply drains), so dispatch
  * is OFFLOADED to a worker pool — the Netty event loop never blocks,
  * and slow queries on one HTTP/2 stream do not stall frames of
  * another on the same connection. Responses are written back on the
  * channel's event loop. Two gates shed load: this server's ConcurrentOp
  * permits on every RPC (below), and the engine's
  * [[graft.engine.Admission]] pools around the work the engine does
  * inline — writes, maintenance, and the opening of every RawValues,
  * AlignedWindows, Windows, Changes and Nearest read, which it answers
  * on the driver with no Spark job. A read's rows are merged while the
  * reply drains, outside the engine's pools.
  *
  * Streaming RPCs stream for real: [[BtrdbWire.handle]] hands back a
  * message ITERATOR, over rows the engine merges on the driver as they
  * are pulled (GenerateCSV's are backed by `Dataset.toLocalIterator`),
  * and the worker drains it with a bounded number of unacknowledged DATA
  * frames — driver memory stays bounded by the read's decode-ahead no
  * matter how wide the queried range, the same bounded producer/consumer
  * shape as the reference's channel-fed sender
  * (/root/reference/grpcinterface/serve.go:147-172). Analytics at 100 TB still belongs on the
  * SQL/DataFrame surface; this endpoint is the migration-compatible
  * wire.
  */
final class GrpcServer(engine: Btrdb, port: Int,
                       concurrentOps: Int = 200) {

  /** Max unacknowledged DATA frames per RPC before the worker stops
    * pulling the result iterator (≈ MaxInFlight × ~85 KiB encoded
    * chunk of buffered response). */
  private val MaxInFlight = 4

  // The reference's rez.ConcurrentOp gate, applied to EVERY RPC before
  // any engine work (serve.go acquires it first in every handler; rez
  // defaults: 200 permits, queue 100): this is the actual concurrency
  // bound for the thread-per-RPC pool below — read RPCs merge their
  // rows lazily during the drain, outside the engine's Admission pools,
  // so without this gate N stalled streaming clients would pin N threads
  // and N reads' decoded rows.
  // Beyond permits + queue, shed with bte 426 like the reference.
  private val rpcPermits =
    new java.util.concurrent.Semaphore(concurrentOps, true)
  private val rpcQueued = new java.util.concurrent.atomic.AtomicInteger(0)
  private val MaxQueued = concurrentOps / 2

  /** Acquire an op permit: immediate, else join the bounded queue
    * (reference rez queues 100 waiters), else shed. */
  private def admit(): Boolean =
    rpcPermits.tryAcquire() || {
      if (rpcQueued.incrementAndGet() > MaxQueued) {
        rpcQueued.decrementAndGet(); false
      } else
        try rpcPermits.tryAcquire(30, java.util.concurrent.TimeUnit.SECONDS)
        finally rpcQueued.decrementAndGet()
    }

  private val group =
    new MultiThreadIoEventLoopGroup(2, NioIoHandler.newFactory())
  // Thread-per-in-flight-RPC, like the reference's goroutine-per-RPC
  // (serve.go spawns one per call and gates real work on rez
  // admission): a worker now lives for the whole drain — including
  // flow-control waits on a slow client — so a FIXED pool of N would
  // let N stalled clients starve every other caller. The cached pool
  // grows with concurrent RPCs and shrinks when idle; actual Spark
  // concurrency is still bounded by the engine's Admission permits.
  private val workers = java.util.concurrent.Executors.newCachedThreadPool(
    (r: Runnable) => {
      val t = new Thread(r, "graft-grpc-worker"); t.setDaemon(true); t
    })
  @volatile private var channel: Channel = _

  /** Per-stream request state: path + accumulated DATA bytes. */
  private final class StreamState(val path: String) {
    val body = new java.io.ByteArrayOutputStream(512)
  }

  def start(): Int = {
    val b = new ServerBootstrap()
      .group(group)
      .channel(classOf[NioServerSocketChannel])
      .childHandler(new ChannelInitializer[SocketChannel] {
        override def initChannel(ch: SocketChannel): Unit = {
          ch.pipeline().addLast(Http2FrameCodecBuilder.forServer().build())
          ch.pipeline().addLast(new RpcHandler)
        }
      })
    channel = b.bind(port).sync().channel()
    channel.localAddress()
      .asInstanceOf[java.net.InetSocketAddress].getPort
  }

  def stop(): Unit = {
    if (channel != null) channel.close().sync()
    group.shutdownGracefully(0, 1, java.util.concurrent.TimeUnit.SECONDS)
    workers.shutdown()
  }

  private final class RpcHandler extends ChannelInboundHandlerAdapter {
    private val streams =
      new ConcurrentHashMap[Http2FrameStream, StreamState]()

    override def channelRead(ctx: ChannelHandlerContext, msg: AnyRef): Unit =
      msg match {
        case h: Http2HeadersFrame =>
          val path = String.valueOf(h.headers().path())
          val st = new StreamState(path)
          streams.put(h.stream(), st)
          if (h.isEndStream) finish(ctx, h.stream(), st)
        case d: Http2DataFrame =>
          val st = streams.get(d.stream())
          // RETURN FLOW-CONTROL CREDIT for every flow-controlled byte:
          // the frame codec leaves window replenishment to the
          // application, so without this a request larger than the
          // 64 KiB initial window (a few thousand Insert points) — or
          // any long-lived connection past 64 KiB cumulative — stalls
          // forever waiting for WINDOW_UPDATE
          val credit = d.initialFlowControlledBytes()
          if (st != null) {
            val buf = d.content()
            val arr = new Array[Byte](buf.readableBytes())
            buf.readBytes(arr)
            st.body.write(arr, 0, arr.length)
            if (d.isEndStream) finish(ctx, d.stream(), st)
          }
          val stream = d.stream()
          d.release()
          if (credit > 0)
            ctx.writeAndFlush(
              new DefaultHttp2WindowUpdateFrame(credit).stream(stream))
          ()
        case r: Http2ResetFrame =>
          // client cancellation (deadline, RST_STREAM): drop the
          // accumulated request state or it leaks until the connection
          // closes
          streams.remove(r.stream())
          ()
        case other =>
          io.netty.util.ReferenceCountUtil.release(other)
      }

    private def finish(ctx: ChannelHandlerContext, stream: Http2FrameStream,
                       st: StreamState): Unit = {
      streams.remove(stream)
      val method = st.path.split('/').lastOption.getOrElse("")
      val service = st.path.stripPrefix("/").takeWhile(_ != '/')
      val payload = st.body.toByteArray
      workers.execute { () =>
        // unknown service/method → gRPC UNIMPLEMENTED (12); everything
        // else answers app-level (stat field) with grpc-status 0, the
        // reference server's convention. handle() and its iterator
        // never throw; the catch is belt-and-braces so NO code path can
        // swallow the response and leave the client hanging to its
        // deadline.
        val admitted = admit()
        val reply =
          try {
            if (service != "grpcinterface.BTrDB")
              BtrdbWire.RpcReply(Iterator.empty, 12)
            else if (!admitted)
              BtrdbWire.RpcReply(
                Iterator.single(BtrdbWire.resourceDepleted), 0)
            else BtrdbWire.handle(engine, method, payload)
          } catch {
            case _: Throwable => BtrdbWire.RpcReply(Iterator.empty, 2)
          } // UNKNOWN
        // Incremental drain WITH BACKPRESSURE: pulling the iterator
        // merges a served read's next rows (GenerateCSV's pulls a Spark
        // partition); each message is written from this
        // worker (Netty marshals cross-thread writes onto the event
        // loop in order) and at most MaxInFlight data frames are
        // unacknowledged — a write future completes only once the
        // HTTP/2 flow controller has actually flushed the frame, so a
        // slow or stalled client suspends the pull instead of queueing
        // the whole result in driver memory. A drain that stops early (a
        // reset stream, a dead connection) closes the reply, releasing
        // the read's open files and decoded rows at once.
        val ch = ctx.channel()
        val headers = new DefaultHttp2Headers()
        headers.status("200")
        headers.set("content-type", "application/grpc")
        ctx.write(new DefaultHttp2HeadersFrame(headers).stream(stream))
        val inFlight =
          new java.util.ArrayDeque[io.netty.channel.ChannelFuture]()
        def reap(maxOutstanding: Int): Boolean = {
          while (inFlight.size > maxOutstanding) {
            val f = inFlight.poll()
            while (!f.await(1000)) if (!ch.isActive) return false
            if (!f.isSuccess) return false // stream reset / conn gone
          }
          true
        }
        try {
          var alive = true
          val it = reply.messages
          while (alive && (try it.hasNext
                           catch { case _: Throwable => false })) {
            val m = try it.next() catch { case _: Throwable => null }
            if (m == null) alive = false
            else {
              inFlight.add(ctx.writeAndFlush(
                new DefaultHttp2DataFrame(frame(m)).stream(stream)))
              alive = reap(MaxInFlight)
            }
          }
          if (alive) reap(0)
          val trailers = new DefaultHttp2Headers()
          trailers.set("grpc-status", reply.grpcStatus.toString)
          ctx.writeAndFlush(
            new DefaultHttp2HeadersFrame(trailers, true).stream(stream))
          ()
        } finally try reply.close() finally if (admitted) rpcPermits.release()
      }
      ()
    }

    override def exceptionCaught(ctx: ChannelHandlerContext,
                                 cause: Throwable): Unit = {
      ctx.close(); ()
    }
  }

  /** gRPC message framing: flag byte + u32 BE length + payload. */
  private def frame(payload: Array[Byte]): ByteBuf = {
    val buf = Unpooled.buffer(5 + payload.length)
    buf.writeByte(0)
    buf.writeInt(payload.length)
    buf.writeBytes(payload)
    buf
  }
}

object GrpcServer {
  /** Standalone daemon: `runMain graft.wire.GrpcServer <root> [port]`.
    * Attaches read-write (single writer per root — the Insert/Delete
    * RPCs need the commit path, like the reference daemon). */
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.wire.GrpcServer <engineRoot> [port]")
    val port = if (args.length > 1) args(1).toInt else 4410
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName("graft-grpc")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val engine = Btrdb.attach(spark, args(0))
    val bound = new GrpcServer(engine, port).start()
    // scalastyle:off println
    println(s"""{"service":"grpc","port":$bound,"proto":"grpcinterface.BTrDB"}""")
    // scalastyle:on println
    Thread.currentThread.join()
  }
}
