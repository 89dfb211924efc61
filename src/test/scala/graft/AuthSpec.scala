package graft

import java.time.Instant
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.auth._
import graft.config.OAuth2ClientCredentialsAuth
import graft.model.{RequestContext, RequestExchange, Token}
import graft.testkit.MockApiServer

/** Auth-layer tests mirroring the reference's largest unit suites
  * (tests/unit/auth/test_token_provider.py, test_token_manager.py,
  * tests/integration/auth/test_rpc_integration.py).
  */
class AuthSpec extends AnyFunSuite with Matchers with BeforeAndAfterAll {
  implicit val ec: ExecutionContext = ExecutionContext.global
  private val server = new MockApiServer
  override def beforeAll(): Unit = server.start()
  override def afterAll(): Unit = server.stop()

  private class CountingProvider(token: String, lifetimeSeconds: Long = 300)
      extends TokenProvider {
    val calls = new AtomicInteger(0)
    def getToken()(implicit ec: ExecutionContext): Future[Token] = {
      calls.incrementAndGet()
      Future.successful(Token(token, Some(Instant.now().plusSeconds(lifetimeSeconds))))
    }
    def telemetry: Map[String, Any] = Map("provider" -> "Counting")
  }

  test("token expiry predicates (token/models.py:5-33)") {
    val live = Token("t", Some(Instant.now().plusSeconds(300)))
    live.isExpired() shouldBe false
    live.expiresWithin(60) shouldBe false
    live.expiresWithin(400) shouldBe true
    Token("t", Some(Instant.now().minusSeconds(1))).isExpired() shouldBe true
    Token("t", None).isExpired() shouldBe false // static tokens never expire
  }

  test("TokenManager caches until the refresh margin (token_manager.py:42-63)") {
    val p = new CountingProvider("tok")
    val m = new TokenManager(p, refreshMarginSeconds = 60)
    (1 to 5).foreach { _ =>
      Await.result(m.tokenValue(), 10.seconds) shouldBe "tok"
    }
    p.calls.get() shouldBe 1
  }

  test("TokenManager refreshes an expiring token") {
    val p = new CountingProvider("tok", lifetimeSeconds = 10)
    val m = new TokenManager(p, refreshMarginSeconds = 60) // always within margin
    Await.result(m.tokenValue(), 10.seconds)
    Await.result(m.tokenValue(), 10.seconds)
    p.calls.get() shouldBe 2
  }

  test("TokenManager single-flights concurrent refreshes (double-checked lock analog)") {
    val p = new TokenProvider {
      val calls = new AtomicInteger(0)
      def getToken()(implicit ec: ExecutionContext): Future[Token] = {
        calls.incrementAndGet()
        graft.middleware.Middleware.delay(0.2).map(_ =>
          Token("slow", Some(Instant.now().plusSeconds(300))))
      }
      def telemetry: Map[String, Any] = Map.empty
    }
    val m = new TokenManager(p, 60)
    val futures = (1 to 16).map(_ => m.tokenValue())
    Await.result(Future.sequence(futures), 10.seconds).distinct shouldBe Seq("slow")
    p.calls.get() shouldBe 1
  }

  test("TokenManager fails, not wedges, when the provider throws synchronously") {
    val p = new TokenProvider {
      val calls = new AtomicInteger(0)
      def getToken()(implicit ec: ExecutionContext): Future[Token] =
        if (calls.incrementAndGet() == 1) throw new IllegalArgumentException("malformed URL")
        else Future.successful(Token("tok", Some(Instant.now().plusSeconds(300))))
      def telemetry: Map[String, Any] = Map.empty
    }
    val m = new TokenManager(p, 60)
    an[IllegalArgumentException] should be thrownBy Await.result(m.tokenValue(), 5.seconds)
    Await.result(m.tokenValue(), 5.seconds) shouldBe "tok"
    p.calls.get() shouldBe 2
  }

  test("FallbackTokenProvider serves from fallback when primary throws synchronously") {
    val malformed = new RpcTokenProvider("http://bad host")
    val fp = new FallbackTokenProvider(Some(malformed), new StaticTokenProvider("fallback-token"))
    Await.result(fp.getToken(), 5.seconds).tokenValue shouldBe "fallback-token"
    fp.telemetry("served_by") shouldBe "fallback"
  }

  test("OAuth2 client-credentials provider posts the form grant (token_provider.py:56-111)") {
    val p = new ClientGrantTokenProvider(s"${server.baseUrl}/token", "cid", "secret")
    val t = Await.result(p.getToken(), 30.seconds)
    t.tokenValue shouldBe "mock-token-client_credentials"
    t.expiresAt.isDefined shouldBe true
  }

  test("password grant sends grant_type=password (token_provider.py:113-135)") {
    val p = new PasswordGrantTokenProvider(s"${server.baseUrl}/token", "cid", "secret", "u", "p")
    Await.result(p.getToken(), 30.seconds).tokenValue shouldBe "mock-token-password"
  }

  test("FallbackTokenProvider serves from fallback when primary is down (token_provider.py:213-246)") {
    val deadRpc = new RpcTokenProvider("http://127.0.0.1:1", maxRetries = 2, baseDelay = 0.01)
    val fp = new FallbackTokenProvider(Some(deadRpc),
      new StaticTokenProvider("fallback-token"))
    Await.result(fp.getToken(), 30.seconds).tokenValue shouldBe "fallback-token"
    fp.telemetry("served_by") shouldBe "fallback"
  }

  test("driver RPC lifecycle: bootstrapper serves workers a fresh token (rpc/bootstrap.py:45-102)") {
    val boot = new RpcBootstrapper(
      new ClientGrantTokenProvider(s"${server.baseUrl}/token", "cid", "secret"),
      refreshMargin = 60, driverHost = "127.0.0.1")
    val rpcUrl = boot.start()
    try {
      rpcUrl should startWith("http://127.0.0.1:")
      val worker = new RpcTokenProvider(rpcUrl)
      val t = Await.result(worker.getToken(), 30.seconds)
      t.tokenValue shouldBe "mock-token-client_credentials"
      t.expiresAt.isDefined shouldBe true
    } finally boot.stop()
  }

  test("RPC server refuses after stop (no dangling listener)") {
    val boot = new RpcBootstrapper(
      new ClientGrantTokenProvider(s"${server.baseUrl}/token", "cid", "secret"),
      refreshMargin = 60, driverHost = "127.0.0.1")
    val rpcUrl = boot.start()
    boot.stop()
    val worker = new RpcTokenProvider(rpcUrl, maxRetries = 2, baseDelay = 0.01)
    an[Exception] should be thrownBy Await.result(worker.getToken(), 30.seconds)
  }

  test("bootstrapper becomes ready after a failed first fetch: the next refresh tick retries") {
    val p = new TokenProvider {
      val calls = new AtomicInteger(0)
      def getToken()(implicit ec: ExecutionContext): Future[Token] =
        if (calls.incrementAndGet() == 1) Future.failed(new java.io.IOException("idp down"))
        else Future.successful(Token("tok", Some(Instant.now().plusSeconds(300))))
      def telemetry: Map[String, Any] = Map.empty
    }
    val boot = new RpcBootstrapper(p, refreshMargin = 60, driverHost = "127.0.0.1")
    val rpcUrl = boot.start()
    try {
      p.calls.get() shouldBe 2
      Await.result(new RpcTokenProvider(rpcUrl).getToken(), 10.seconds)
        .tokenValue shouldBe "tok"
    } finally boot.stop()
  }

  test("awaitReady fails with the named error when no fetch ever succeeds") {
    val p = new TokenProvider {
      def getToken()(implicit ec: ExecutionContext): Future[Token] =
        Future.failed(new java.io.IOException("idp down"))
      def telemetry: Map[String, Any] = Map.empty
    }
    val refresher = new DriverTokenManager(new TokenManager(p, 60))
    refresher.start()
    try {
      val t0 = System.nanoTime()
      val e = intercept[RuntimeException](refresher.awaitReady(timeoutSeconds = 1))
      e.getMessage shouldBe "Driver token manager not ready after 1s"
      (System.nanoTime() - t0) / 1e9 should be >= 0.9
    } finally refresher.stop()
  }

  test("token RPC answers a sequential fetch without a delayed-ACK stall") {
    val boot = new RpcBootstrapper(new CountingProvider("tok"), refreshMargin = 60,
      driverHost = "127.0.0.1")
    val rpcUrl = boot.start()
    try {
      val worker = new RpcTokenProvider(rpcUrl)
      def fetchMs(): Double = {
        val t0 = System.nanoTime()
        Await.result(worker.getToken(), 10.seconds).tokenValue shouldBe "tok"
        (System.nanoTime() - t0) / 1e6
      }
      (1 to 5).foreach(_ => fetchMs()) // client and JIT warm-up
      val ms = (1 to 20).map(_ => fetchMs()).sorted
      val median = (ms(9) + ms(10)) / 2
      info(f"median fetch $median%.2f ms")
      median should be < 15.0
    } finally boot.stop()
  }

  test("workers' RPC fetches scale with token lifetimes, not with requests") {
    // 2.5 s tokens, 1 s margin on the driver and the workers, 6 s of
    // requests (over two lifetimes) from 4 worker managers every 5 ms
    val lifetimeMs = 2500L
    val runSec = 6
    val boot = new RpcBootstrapper(new TokenProvider {
      def getToken()(implicit ec: ExecutionContext): Future[Token] =
        Future.successful(Token("tok", Some(Instant.now().plusMillis(lifetimeMs))))
      def telemetry: Map[String, Any] = Map.empty
    }, refreshMargin = 1, driverHost = "127.0.0.1")
    val rpcUrl = boot.start()
    try {
      val rpc = new RpcTokenProvider(rpcUrl)
      val fetches = new AtomicInteger(0)
      val requests = new AtomicInteger(0)
      val counted = new TokenProvider {
        def getToken()(implicit ec: ExecutionContext): Future[Token] = {
          fetches.incrementAndGet(); rpc.getToken()
        }
        def telemetry: Map[String, Any] = Map.empty
      }
      val workers = 4
      val until = System.nanoTime() + runSec * 1000000000L
      val threads = Seq.fill(workers)(new TokenManager(counted, refreshMarginSeconds = 1))
        .map { m =>
          new Thread(() => while (System.nanoTime() < until) {
            Await.result(m.tokenValue(), 10.seconds)
            requests.incrementAndGet()
            Thread.sleep(5)
          })
        }
      threads.foreach(_.start()); threads.foreach(_.join())
      info(s"${fetches.get} RPC fetches for ${requests.get} requests")
      // the driver serves tokens at least 1.5 s from expiry, so a worker
      // keeps each one >= 0.5 s: at most 2 fetches a second per worker
      fetches.get should be <= workers * (2 * runSec + 1)
      requests.get should be > 20 * fetches.get
    } finally boot.stop()
  }

  test("auth strategy middleware wires the RPC-primary chain (strategy.py:145-272)") {
    val boot = new RpcBootstrapper(
      new ClientGrantTokenProvider(s"${server.baseUrl}/token", "cid", "secret"),
      refreshMargin = 60, driverHost = "127.0.0.1")
    val rpcUrl = boot.start()
    try {
      val mws = AuthStrategy.middlewares(
        OAuth2ClientCredentialsAuth(s"${server.baseUrl}/token", "cid", "secret"),
        Some(rpcUrl))
      mws should have size 1
      var auth: Option[String] = None
      val next: graft.middleware.Middleware.Next = ex => {
        auth = ex.context.headers.get("Authorization"); Future.successful(ex)
      }
      Await.result(mws.head(RequestExchange(RequestContext("http://x")), next), 30.seconds)
      auth shouldBe Some("Bearer mock-token-client_credentials")
    } finally boot.stop()
  }
}
