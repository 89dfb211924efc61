package perfbench

import java.io.{BufferedInputStream, OutputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.TimeUnit
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import io.netty.bootstrap.ServerBootstrap
import io.netty.buffer.Unpooled
import io.netty.channel._
import io.netty.channel.nio.NioIoHandler
import io.netty.channel.socket.SocketChannel
import io.netty.channel.socket.nio.NioServerSocketChannel
import io.netty.handler.codec.http._

/** The benchmark's upstream API: a Netty HTTP/1.1 server on loopback.
  *
  * TCP_NODELAY is set on this server's own accepted sockets only. The
  * JVM-wide `sun.net.httpserver.nodelay` switch is deliberately not used:
  * it would also change the program's driver-side token RPC server, whose
  * behaviour the benchmark must see as it is.
  *
  * Routes (bodies are deterministic functions of the query parameters, see
  * [[MockApi.body]]):
  *  - `/`           200 at once: the transport's warm-up probe, and the
  *                  route of the lone-request round-trip check
  *  - `/api/remote` answers after `remoteDelayMs` without holding a thread;
  *                  needs a `Bearer tok-` token; answers 503 to the first
  *                  call for each id in `flaky`
  *  - `/token`      OAuth2 token endpoint, tokens live `tokenLifetimeS`
  *
  * It runs on one event-loop thread and keeps request counts and a
  * time-weighted in-flight integral for the api layer's metrics.
  */
final class MockApi(remoteDelayMs: Long, tokenLifetimeS: Int,
    flaky: String => Boolean) {
  val requests = new AtomicLong
  val apiCalls = new AtomicLong
  val status5xx = new AtomicLong
  val tokenGrants = new AtomicLong
  private val firstCalls = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private var inflight = 0L
  private var inflightMax = 0L
  private var area = 0.0 // ∑ inflight × seconds
  private var lastChange = System.nanoTime()

  private def inflightDelta(d: Int): Unit = synchronized {
    val now = System.nanoTime()
    area += inflight * (now - lastChange) / 1e9
    lastChange = now
    inflight += d
    if (inflight > inflightMax) inflightMax = inflight
  }

  /** (in-flight integral in request·seconds so far, high-water mark since the
    * last snapshot); resets the high-water mark. */
  def inflightSnapshot(): (Double, Long) = synchronized {
    inflightDelta(0)
    val r = (area, inflightMax)
    inflightMax = inflight
    r
  }

  def forgetFirstCalls(): Unit = firstCalls.clear()

  private val group = new MultiThreadIoEventLoopGroup(1, NioIoHandler.newFactory())
  private val tokenSeq = new AtomicInteger

  @ChannelHandler.Sharable
  private object Handler extends SimpleChannelInboundHandler[FullHttpRequest] {
    override def channelRead0(ctx: ChannelHandlerContext, req: FullHttpRequest): Unit = {
      inflightDelta(1)
      requests.incrementAndGet()
      val keepAlive = HttpUtil.isKeepAlive(req)
      val qs = new QueryStringDecoder(req.uri())
      def param(k: String): String =
        Option(qs.parameters().get(k)).flatMap(l => Option(l.get(0))).getOrElse("")
      qs.path() match {
        case "/api/remote" =>
          apiCalls.incrementAndGet()
          val auth = Option(req.headers().get(HttpHeaderNames.AUTHORIZATION)).getOrElse("")
          val id = param("id")
          val (code, text) =
            if (!auth.startsWith("Bearer tok-")) (401, """{"error":"unauthorized"}""")
            else if (flaky(id) && firstCalls.add(id)) (503, """{"error":"busy"}""")
            else (200, MockApi.body(id, param("customer")))
          ctx.executor().schedule(new Runnable {
            def run(): Unit = reply(ctx, keepAlive, code, text)
          }, remoteDelayMs, TimeUnit.MILLISECONDS)
        case "/token" =>
          tokenGrants.incrementAndGet()
          reply(ctx, keepAlive, 200,
            s"""{"access_token":"tok-${tokenSeq.incrementAndGet()}",""" +
              s""""token_type":"bearer","expires_in":$tokenLifetimeS}""")
        case "/" => reply(ctx, keepAlive, 200, "ok")
        case _ => reply(ctx, keepAlive, 404, """{"error":"not found"}""")
      }
    }

    override def exceptionCaught(ctx: ChannelHandlerContext, cause: Throwable): Unit =
      ctx.close()
  }

  private def reply(ctx: ChannelHandlerContext, keepAlive: Boolean, code: Int,
      text: String): Unit = {
    if (code >= 500) status5xx.incrementAndGet()
    val resp = new DefaultFullHttpResponse(HttpVersion.HTTP_1_1,
      HttpResponseStatus.valueOf(code), Unpooled.wrappedBuffer(text.getBytes(UTF_8)))
    resp.headers().set(HttpHeaderNames.CONTENT_TYPE, "application/json")
      .setInt(HttpHeaderNames.CONTENT_LENGTH, resp.content().readableBytes())
    HttpUtil.setKeepAlive(resp, keepAlive)
    val f = ctx.writeAndFlush(resp)
    f.addListener((_: ChannelFuture) => inflightDelta(-1))
    if (!keepAlive) f.addListener(ChannelFutureListener.CLOSE)
  }

  private val channel: Channel = new ServerBootstrap()
    .group(group)
    .channel(classOf[NioServerSocketChannel])
    .option(ChannelOption.SO_BACKLOG, Int.box(4096))
    .childOption(ChannelOption.TCP_NODELAY, java.lang.Boolean.TRUE)
    .childHandler(new ChannelInitializer[SocketChannel] {
      def initChannel(ch: SocketChannel): Unit =
        ch.pipeline().addLast(new HttpServerCodec(), new HttpObjectAggregator(1 << 16), Handler)
    })
    .bind("127.0.0.1", 0).sync().channel()

  val port: Int = channel.localAddress().asInstanceOf[InetSocketAddress].getPort
  val baseUrl: String = s"http://127.0.0.1:$port"

  /** Round-trip times (ms) of `n` lone, sequential keep-alive requests on
    * one plain socket from the calling thread: the remote boundary's own
    * latency, with no program code in the path. */
  def loneRttMs(path: String, n: Int): Array[Double] = {
    val s = new Socket("127.0.0.1", port)
    try {
      val in = new BufferedInputStream(s.getInputStream)
      val out: OutputStream = s.getOutputStream
      Array.tabulate(n) { i =>
        val req = s"GET $path?id=probe-$i&customer=0 HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
          "Authorization: Bearer tok-probe\r\n\r\n"
        val t0 = System.nanoTime()
        out.write(req.getBytes(UTF_8)); out.flush()
        MockApi.readResponse(in)
        (System.nanoTime() - t0) / 1e6
      }
    } finally s.close()
  }

  def stop(): Unit = {
    channel.close().sync()
    group.shutdownGracefully(0, 2, TimeUnit.SECONDS).sync()
  }
}

object MockApi {
  /** The response body for one id; the output check recomputes it. */
  def body(id: String, customer: String): String =
    s"""{"id":"$id","customer":"$customer","status":"ok"}"""

  /** Read one HTTP/1.1 response with a Content-Length body. */
  private def readResponse(in: BufferedInputStream): Int = {
    val head = new StringBuilder
    while (!head.endsWith("\r\n\r\n")) {
      val c = in.read()
      if (c < 0) throw new java.io.EOFException("mock closed the connection")
      head.append(c.toChar)
    }
    val len = head.toString.split("\r\n").collectFirst {
      case h if h.toLowerCase.startsWith("content-length:") => h.substring(15).trim.toInt
    }.getOrElse(0)
    in.readNBytes(len)
    head.substring(9, 12).toInt
  }
}
