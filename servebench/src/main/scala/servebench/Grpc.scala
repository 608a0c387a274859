package servebench

import java.util.concurrent.{CountDownLatch, TimeUnit}

import io.netty.bootstrap.Bootstrap
import io.netty.buffer.Unpooled
import io.netty.channel.{Channel, ChannelHandlerContext, ChannelInboundHandlerAdapter, ChannelInitializer, MultiThreadIoEventLoopGroup}
import io.netty.channel.nio.NioIoHandler
import io.netty.channel.socket.SocketChannel
import io.netty.channel.socket.nio.NioSocketChannel
import io.netty.handler.codec.http2.{DefaultHttp2DataFrame, DefaultHttp2Headers, DefaultHttp2HeadersFrame, DefaultHttp2WindowUpdateFrame, Http2DataFrame, Http2FrameCodecBuilder, Http2HeadersFrame, Http2MultiplexHandler, Http2StreamChannelBootstrap}

import graft.wire.{PbReader, PbWriter}

/** A minimal gRPC client over one HTTP/2 connection: each call opens a
  * stream, sends one framed request, parses response messages as they
  * arrive (one partial message buffered, never the whole response),
  * returns window credit as it consumes, and blocks until the trailers.
  * Used by one closed-loop client thread at a time. */
final class GrpcConn(port: Int) {
  private val group = new MultiThreadIoEventLoopGroup(1, NioIoHandler.newFactory())
  private val conn: Channel = new Bootstrap().group(group)
    .channel(classOf[NioSocketChannel])
    .handler(new ChannelInitializer[SocketChannel] {
      override def initChannel(ch: SocketChannel): Unit = {
        ch.pipeline().addLast(Http2FrameCodecBuilder.forClient().build())
        ch.pipeline().addLast(new Http2MultiplexHandler(new ChannelInboundHandlerAdapter))
      }
    })
    .connect("127.0.0.1", port).sync().channel()

  /** Call `method` with `req`; `onMessage` sees each response message.
    * Returns the gRPC status and the response bytes received. A throw
    * from `onMessage` is rethrown here after the stream ends. */
  def call(method: String, req: PbWriter)(onMessage: PbReader => Unit): (Int, Long) = {
    val done = new CountDownLatch(1)
    @volatile var status = -1
    @volatile var failure: Throwable = null
    var bytes = 0L
    val buf = new java.io.ByteArrayOutputStream()
    def drain(): Unit = {
      val arr = buf.toByteArray
      var pos = 0
      var stop = false
      while (!stop && arr.length - pos >= 5) {
        val len = ((arr(pos + 1) & 0xff) << 24) | ((arr(pos + 2) & 0xff) << 16) |
          ((arr(pos + 3) & 0xff) << 8) | (arr(pos + 4) & 0xff)
        if (arr.length - pos - 5 < len) stop = true
        else {
          if (failure == null)
            try onMessage(new PbReader(arr, pos + 5, pos + 5 + len))
            catch { case t: Throwable => failure = t }
          pos += 5 + len
        }
      }
      buf.reset(); buf.write(arr, pos, arr.length - pos)
    }
    def trailers(h: Http2HeadersFrame): Unit = {
      val s = h.headers().get("grpc-status")
      if (s != null) status = s.toString.toInt
    }
    val sch = new Http2StreamChannelBootstrap(conn)
      .handler(new ChannelInboundHandlerAdapter {
        override def channelRead(ctx: ChannelHandlerContext, msg: AnyRef): Unit = msg match {
          case h: Http2HeadersFrame =>
            trailers(h)
            if (h.isEndStream) done.countDown()
          case d: Http2DataFrame =>
            val n = d.content().readableBytes()
            bytes += n
            d.content().readBytes(buf, n)
            drain()
            val end = d.isEndStream
            val credit = d.initialFlowControlledBytes()
            d.release()
            if (credit > 0) ctx.writeAndFlush(new DefaultHttp2WindowUpdateFrame(credit))
            if (end) done.countDown()
          case other => io.netty.util.ReferenceCountUtil.release(other)
        }
        override def channelInactive(ctx: ChannelHandlerContext): Unit = done.countDown()
      })
      .open().sync().getNow
    val headers = new DefaultHttp2Headers()
    headers.method("POST").scheme("http").authority(s"127.0.0.1:$port")
      .path(s"/grpcinterface.BTrDB/$method")
    headers.set("content-type", "application/grpc")
    headers.set("te", "trailers")
    sch.write(new DefaultHttp2HeadersFrame(headers))
    sch.writeAndFlush(new DefaultHttp2DataFrame(GrpcConn.frame(req.toBytes), true))
    if (!done.await(170, TimeUnit.SECONDS)) {
      sch.close()
      throw new RuntimeException(s"$method: no reply within 170 s")
    }
    if (failure != null) throw failure
    (status, bytes)
  }

  def close(): Unit = {
    conn.close().sync()
    group.shutdownGracefully(0, 1, TimeUnit.SECONDS).sync()
  }
}

object GrpcConn {
  def frame(payload: Array[Byte]) = {
    val b = Unpooled.buffer(5 + payload.length)
    b.writeByte(0).writeInt(payload.length).writeBytes(payload)
    b
  }

  /** The same request as the gRPC stream body, for in-process dispatch. */
  def framedBytes(req: PbWriter): Array[Byte] = {
    val p = req.toBytes
    val b = java.nio.ByteBuffer.allocate(5 + p.length)
    b.put(0.toByte).putInt(p.length).put(p)
    b.array()
  }
}
