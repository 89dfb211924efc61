package graft.testkit

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.{ConcurrentHashMap, Executors}
import scala.jdk.CollectionConverters._

/** In-JVM mock API for tests and oracle-checked queries — the Scala analog
  * of the reference's FastAPI mock (ref: docker/mock-api/main.py:29-166) and
  * its integration-test servers
  * (ref: tests/integration/orchestration/test_partition_executor_integration.py:25-54).
  *
  * All bodies are DETERMINISTIC functions of the query params so a DuckDB
  * oracle can reconstruct them from the source table.
  *
  * Handlers:
  *  - /api/data          → {"id":"<id>","customer":"<customer>","status":"ok"}
  *  - /api/echo_auth     → {"id":"<id>","auth":"<Authorization header>"}
  *  - /api/flaky         → 503 on the first call per id, 200 after
  *  - /api/fail          → always 500
  *  - /api/notfound      → always 404
  *  - /api/badjson       → 200 with a non-JSON body
  *  - /api/delay         → waits the milliseconds the id starts with
  *                         ("400-7" waits 400 ms, "0-7" answers at once)
  *  - /api/hang          → sends 200 headers, then never the promised body
  *                         (until `stop()`): a response future that never
  *                         completes, past any request timeout
  *  - /token             → OAuth2 token endpoint (static deterministic token)
  *  - /                  → warmup probe (200)
  *
  * Concurrency telemetry: `maxInFlight` tracks the high-water mark of
  * simultaneous requests (bounded-concurrency assertions).
  */
final class MockApiServer {
  private val inFlight = new AtomicInteger(0)
  val maxInFlight = new AtomicInteger(0)
  val totalRequests = new AtomicInteger(0)
  /** Bodies received by /api/echo_body, in arrival order (write-path assertions). */
  val receivedBodies = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val flakyCounts = new ConcurrentHashMap[String, AtomicInteger]()
  private val hangRelease = new java.util.concurrent.CountDownLatch(1)

  private var server: HttpServer = _
  def port: Int = server.getAddress.getPort
  def baseUrl: String = s"http://127.0.0.1:$port"

  private def params(x: HttpExchange): Map[String, String] =
    Option(x.getRequestURI.getRawQuery).map(_.split("&").toSeq.flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8"))
        case _ => None
      }
    }.toMap).getOrElse(Map.empty)

  private def respond(x: HttpExchange, code: Int, body: String,
      contentType: String = "application/json"): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    x.getResponseHeaders.set("Content-Type", contentType)
    x.sendResponseHeaders(code, bytes.length)
    val os = x.getResponseBody; os.write(bytes); os.close()
  }

  private def tracked(f: HttpExchange => Unit): HttpHandler = new HttpHandler {
    def handle(x: HttpExchange): Unit = {
      val now = inFlight.incrementAndGet()
      maxInFlight.updateAndGet(m => math.max(m, now))
      totalRequests.incrementAndGet()
      try f(x)
      finally inFlight.decrementAndGet()
    }
  }

  def start(): MockApiServer = {
    // backlog 4096: e2e pipelines drive ~1024 concurrent connections; the
    // platform-default backlog can refuse bursts during pool churn.
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 4096)
    server.setExecutor(Executors.newFixedThreadPool(256, r => {
      val t = new Thread(r, "mock-api"); t.setDaemon(true); t
    }))

    server.createContext("/api/data", tracked { x =>
      val p = params(x)
      respond(x, 200,
        s"""{"id":"${p.getOrElse("id", "")}","customer":"${p.getOrElse("customer", "")}","status":"ok"}""")
    })

    server.createContext("/api/echo_auth", tracked { x =>
      val p = params(x)
      val auth = Option(x.getRequestHeaders.getFirst("Authorization")).getOrElse("")
      respond(x, 200, s"""{"id":"${p.getOrElse("id", "")}","auth":"$auth"}""")
    })

    server.createContext("/api/flaky", tracked { x =>
      val p = params(x)
      val id = p.getOrElse("id", "?")
      val n = flakyCounts.computeIfAbsent(id, _ => new AtomicInteger(0)).incrementAndGet()
      if (n == 1) respond(x, 503, s"""{"error":"try again"}""")
      else respond(x, 200, s"""{"id":"$id","served_attempt":$n,"status":"ok"}""")
    })

    server.createContext("/api/echo_body", tracked { x =>
      val body = new String(x.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      receivedBodies.add(body)
      val ct = Option(x.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
      respond(x, 200, s"""{"content_type":"$ct","received":$body}""")
    })

    server.createContext("/api/delay", tracked { x =>
      val id = params(x).getOrElse("id", "")
      Thread.sleep(id.takeWhile(_.isDigit).toLongOption.getOrElse(0L))
      respond(x, 200, s"""{"id":"$id","status":"ok"}""")
    })

    server.createContext("/api/hang", tracked { x =>
      x.getResponseHeaders.set("Content-Type", "application/json")
      x.sendResponseHeaders(200, 64)
      x.getResponseBody.flush()
      hangRelease.await()
      x.close()
    })

    server.createContext("/api/fail", tracked(x => respond(x, 500, """{"error":"boom"}""")))
    server.createContext("/api/notfound", tracked(x => respond(x, 404, """{"error":"nope"}""")))
    server.createContext("/api/badjson", tracked(x => respond(x, 200, "this is not json", "text/plain")))

    server.createContext("/token", tracked { x =>
      val body = new String(x.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val grant = body.split("&").collectFirst {
        case kv if kv.startsWith("grant_type=") => kv.stripPrefix("grant_type=")
      }.getOrElse("unknown")
      respond(x, 200, s"""{"access_token":"mock-token-$grant","expires_in":300}""")
    })

    server.createContext("/", tracked(x => respond(x, 200, """{"status":"warm"}""")))
    server.start()
    this
  }

  def flakyCallCount(id: String): Int =
    Option(flakyCounts.get(id)).map(_.get()).getOrElse(0)

  def reset(): Unit = { maxInFlight.set(0); totalRequests.set(0); flakyCounts.clear() }
  def stop(): Unit = {
    hangRelease.countDown()
    if (server != null) server.stop(0)
  }
}
