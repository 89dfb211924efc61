package graft.auth

import java.io.{BufferedInputStream, IOException, InputStream}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{CountDownLatch, ExecutorService, Executors, ScheduledExecutorService, TimeUnit}
import scala.concurrent.ExecutionContext

import graft.model.Token
import graft.util.Json

/** Driver-side background token refresher: keeps the TokenManager's cached
  * token warm for the job lifetime so the RPC service always has a fresh
  * token to serve. Ref: src/auth/token/token_manager.py:78-137 (1 s loop);
  * hosted on a dedicated thread like AsyncBackgroundService
  * (src/core/coroutine.py:21-171) — here a ScheduledExecutorService.
  */
final class DriverTokenManager(manager: TokenManager)(implicit ec: ExecutionContext) {
  import DriverTokenManager.TickSeconds
  private var exec: Option[ScheduledExecutorService] = None
  // opened by the first tick that leaves a token cached; a failed fetch
  // leaves it shut and the next tick retries
  private val ready = new CountDownLatch(1)

  def start(): Unit = synchronized {
    if (exec.isEmpty) {
      val s = Executors.newSingleThreadScheduledExecutor { r =>
        val t = new Thread(r, "graft-driver-token-refresh"); t.setDaemon(true); t
      }
      s.scheduleWithFixedDelay(() => {
        try scala.concurrent.Await.ready(manager.getToken(), scala.concurrent.duration.Duration(30, "s"))
        catch { case _: Exception => () }
        if (manager.currentToken.nonEmpty) ready.countDown()
      }, 0L, TickSeconds, TimeUnit.SECONDS)
      exec = Some(s)
    }
  }

  def stop(): Unit = synchronized { exec.foreach(_.shutdownNow()); exec = None }

  /** Block until the first token is available (readiness). */
  def awaitReady(timeoutSeconds: Int = 30): Unit =
    if (!ready.await(timeoutSeconds.toLong, TimeUnit.SECONDS))
      throw new RuntimeException(s"Driver token manager not ready after ${timeoutSeconds}s")
}

object DriverTokenManager {
  val TickSeconds = 1L
}

/** Driver-hosted token RPC: GET /token → {"token_value": ..., "expires_at": ...},
  * 503 until the first token is cached. Workers poll this instead of
  * hitting the identity provider N-executors times. Ref:
  * src/auth/rpc/service.py:13-229. The reference walks a restricted-port
  * list; binding port 0 (kernel-assigned ephemeral) achieves the same
  * "free safe port" guarantee in one step.
  *
  * A plain socket server, one request per connection: each response goes
  * out in ONE write from a TCP_NODELAY socket. The JDK HttpServer writes
  * headers and body separately, and Nagle held the body until the
  * client's delayed ACK — ~40 ms on every worker fetch. (Its JVM-wide
  * `sun.net.httpserver.nodelay` switch would change every HttpServer in
  * the process, so it is not used.)
  */
final class TokenRpcServer(manager: TokenManager, host: String) {
  private var server: Option[(ServerSocket, ExecutorService)] = None
  @volatile var boundUrl: String = _

  def start(): Unit = synchronized {
    if (server.isEmpty) {
      val ss = new ServerSocket()
      ss.bind(new InetSocketAddress(host, 0))
      val pool = Executors.newCachedThreadPool { r =>
        val t = new Thread(r, "graft-token-rpc"); t.setDaemon(true); t
      }
      pool.execute(() =>
        try while (true) { val c = ss.accept(); pool.execute(() => serve(c)) }
        catch { case _: Exception => () }) // closed by stop()
      boundUrl = s"http://$host:${ss.getLocalPort}"
      server = Some((ss, pool))
    }
  }

  private def serve(c: Socket): Unit =
    try {
      c.setTcpNoDelay(true)
      c.setSoTimeout(10000)
      val path = requestLine(new BufferedInputStream(c.getInputStream))
        .split(' ').lift(1).getOrElse("")
      val (status, body) =
        if (!path.startsWith("/token")) ("404 Not Found", Json.write(Map("error" -> "not found")))
        else manager.currentToken match {
          case Some(Token(v, exp)) =>
            ("200 OK", Json.write(Map("token_value" -> v, "expires_at" -> exp.map(_.toString).orNull)))
          case None => ("503 Service Unavailable", Json.write(Map("error" -> "token not ready")))
        }
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      val head = s"HTTP/1.1 $status\r\nContent-Type: application/json\r\n" +
        s"Content-Length: ${bytes.length}\r\nConnection: close\r\n\r\n"
      c.getOutputStream.write(head.getBytes(StandardCharsets.US_ASCII) ++ bytes)
    } catch { case _: IOException => () }
    finally c.close()

  /** Consumes the request head (through the blank line) and returns its
    * request line, e.g. "GET /token HTTP/1.1". */
  private def requestLine(in: InputStream): String = {
    val buf = new java.io.ByteArrayOutputStream()
    var tail = 0 // consecutive bytes of "\r\n\r\n" seen
    while (tail < 4) {
      val b = in.read()
      if (b < 0 || buf.size() > 16384) throw new IOException("truncated request head")
      buf.write(b)
      tail = if (b == "\r\n\r\n".charAt(tail)) tail + 1 else if (b == '\r') 1 else 0
    }
    val head = buf.toString(StandardCharsets.US_ASCII)
    head.substring(0, head.indexOf("\r\n"))
  }

  def stop(): Unit = synchronized {
    server.foreach { case (ss, pool) => ss.close(); pool.shutdownNow() }
    server = None
  }
}

/** Wires DriverTokenManager + TokenRpcServer lifecycle (start both, await
  * readiness, expose rpc_url; stop tears both down).
  * Ref: src/auth/rpc/bootstrap.py:9-102.
  */
final class RpcBootstrapper(provider: TokenProvider, refreshMargin: Long, driverHost: String)(
    implicit ec: ExecutionContext) {
  // The driver refreshes one tick ahead of the workers' margin: workers
  // treat a token inside their margin as due and fetch again through the
  // RPC on every request, and the refresher only looks once per tick, so
  // with equal margins the served token can sit inside the workers'
  // margin for up to a tick per lifetime, an RPC fetch per request.
  private val manager =
    new TokenManager(provider, refreshMargin + DriverTokenManager.TickSeconds)
  private val refresher = new DriverTokenManager(manager)
  private val server = new TokenRpcServer(manager, driverHost)

  /** Returns the rpc_url workers should poll. If readiness or server bind
    * fails, the refresh loop is stopped before rethrowing — otherwise the
    * caller never receives the stop handle and the 1s-interval refresher
    * would poll the identity provider for the rest of the JVM's life. */
  def start(): String = {
    refresher.start()
    try {
      refresher.awaitReady()
      server.start()
    } catch {
      case e: Throwable =>
        refresher.stop()
        throw e
    }
    server.boundUrl
  }

  def stop(): Unit = { server.stop(); refresher.stop() }
}
