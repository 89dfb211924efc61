package graft.auth

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.{Duration => JDuration, Instant}
import java.util.Base64
import java.util.concurrent.ThreadLocalRandom
import java.util.concurrent.atomic.AtomicReference
import scala.concurrent.{ExecutionContext, Future}
import scala.util.control.NonFatal

import graft.middleware.{Middleware, TokenSource}
import graft.model.Token
import graft.util.Json

/** Async source of OAuth2/bearer tokens. Ref: src/auth/token/token_provider.py. */
trait TokenProvider extends Serializable {
  def getToken()(implicit ec: ExecutionContext): Future[Token]
  def telemetry: Map[String, Any]
}

object TokenProvider {
  /** `p.getToken()` with a synchronous throw (e.g. `URI.create` on a
    * malformed URL) turned into a failed future, so callers that chain on
    * the future see every failure. */
  def call(p: TokenProvider)(implicit ec: ExecutionContext): Future[Token] =
    try p.getToken() catch { case NonFatal(e) => Future.failed(e) }
}

private[auth] object AuthHttp {
  /** Process-shared client for token fetches (driver + workers). */
  lazy val client: HttpClient = HttpClient.newBuilder()
    .connectTimeout(JDuration.ofSeconds(10)).build()

  def asyncSend(req: HttpRequest)(implicit ec: ExecutionContext): Future[HttpResponse[String]] =
    scala.jdk.FutureConverters.CompletionStageOps(
      client.sendAsync(req, HttpResponse.BodyHandlers.ofString())).asScala
}

/** OAuth2 token fetch: form POST to token_url with HTTP basic client auth;
  * 5 attempts, exponential backoff 1s→10s (+0.5s jitter); parses
  * `access_token` / `expires_in` (default 300 s).
  * Ref: src/auth/token/token_provider.py:24-148.
  */
abstract class OAuth2TokenProvider(
    tokenUrl: String, clientId: String, clientSecret: String,
    defaultExpirationSeconds: Int = 300
) extends TokenProvider {
  protected def grantBody: Map[String, String]

  private val MaxAttempts = 5
  private val BaseDelay = 1.0
  private val MaxDelay = 10.0

  private def formEncode(m: Map[String, String]): String =
    m.map { case (k, v) =>
      java.net.URLEncoder.encode(k, StandardCharsets.UTF_8) + "=" +
        java.net.URLEncoder.encode(v, StandardCharsets.UTF_8)
    }.mkString("&")

  private def fetchOnce()(implicit ec: ExecutionContext): Future[Token] = {
    val basic = Base64.getEncoder.encodeToString(
      s"$clientId:$clientSecret".getBytes(StandardCharsets.UTF_8))
    val req = HttpRequest.newBuilder(URI.create(tokenUrl))
      .timeout(JDuration.ofSeconds(10))
      .header("Authorization", s"Basic $basic")
      .header("Content-Type", "application/x-www-form-urlencoded")
      .POST(HttpRequest.BodyPublishers.ofString(formEncode(grantBody)))
      .build()
    AuthHttp.asyncSend(req).map { resp =>
      if (resp.statusCode() >= 400)
        throw new RuntimeException(s"Token endpoint returned HTTP ${resp.statusCode()}")
      val node = Json.parse(resp.body())
      val access = Option(node.get("access_token")).map(_.asText())
        .getOrElse(throw new RuntimeException("token response missing access_token"))
      val expiresIn = Option(node.get("expires_in")).map(_.asLong())
        .getOrElse(defaultExpirationSeconds.toLong)
      Token(access, Some(Instant.now().plusSeconds(expiresIn)))
    }
  }

  def getToken()(implicit ec: ExecutionContext): Future[Token] = {
    def attempt(n: Int): Future[Token] =
      fetchOnce().recoverWith {
        case e if n < MaxAttempts =>
          val delay = math.min(BaseDelay * math.pow(2.0, n - 1), MaxDelay) +
            ThreadLocalRandom.current().nextDouble(0.0, 0.5)
          Middleware.delay(delay).flatMap(_ => attempt(n + 1))
        case e => Future.failed(new RuntimeException(s"Exhausted retries retrieving token: ${e.getMessage}", e))
      }
    attempt(1)
  }

  def telemetry: Map[String, Any] =
    Map("provider" -> getClass.getSimpleName, "path" -> "token_url")
}

/** grant_type=password. Ref: token_provider.py:113-135. */
final class PasswordGrantTokenProvider(
    tokenUrl: String, clientId: String, clientSecret: String,
    username: String, password: String
) extends OAuth2TokenProvider(tokenUrl, clientId, clientSecret) {
  protected def grantBody: Map[String, String] =
    Map("grant_type" -> "password", "username" -> username, "password" -> password)
}

/** grant_type=client_credentials. Ref: token_provider.py:138-148. */
final class ClientGrantTokenProvider(
    tokenUrl: String, clientId: String, clientSecret: String
) extends OAuth2TokenProvider(tokenUrl, clientId, clientSecret) {
  protected def grantBody: Map[String, String] = Map("grant_type" -> "client_credentials")
}

/** Worker-side provider: GET {rpc_url}/token from the driver's token RPC
  * service; 5 retries with exponential backoff.
  * Ref: token_provider.py:151-191.
  */
final class RpcTokenProvider(
    rpcUrl: String, timeoutSeconds: Int = 10, maxRetries: Int = 5, baseDelay: Double = 0.25
) extends TokenProvider {
  def getToken()(implicit ec: ExecutionContext): Future[Token] = {
    def fetchOnce(): Future[Token] = {
      val req = HttpRequest.newBuilder(URI.create(s"$rpcUrl/token"))
        .timeout(JDuration.ofSeconds(timeoutSeconds)).GET().build()
      AuthHttp.asyncSend(req).map { resp =>
        if (resp.statusCode() >= 400)
          throw new RuntimeException(s"RPC token service returned HTTP ${resp.statusCode()}")
        val node = Json.parse(resp.body())
        Token(
          node.get("token_value").asText(),
          Option(node.get("expires_at")).filterNot(_.isNull).map(n => Instant.parse(n.asText())))
      }
    }
    def attempt(n: Int): Future[Token] =
      fetchOnce().recoverWith {
        case e if n < maxRetries =>
          Middleware.delay(baseDelay * math.pow(2.0, n - 1)).flatMap(_ => attempt(n + 1))
        case e => Future.failed(new RuntimeException(s"RPC token service unreachable: ${e.getMessage}", e))
      }
    attempt(1)
  }
  def telemetry: Map[String, Any] = Map("provider" -> "RpcTokenProvider", "path" -> "rpc")
}

/** Constant token (auth type `bearer`). Ref: token_provider.py:194-210. */
final class StaticTokenProvider(token: String) extends TokenProvider {
  def getToken()(implicit ec: ExecutionContext): Future[Token] =
    Future.successful(Token(token, None))
  def telemetry: Map[String, Any] = Map("provider" -> "StaticTokenProvider", "path" -> "static")
}

/** Primary-else-fallback with telemetry of which path served.
  * Ref: token_provider.py:213-246.
  */
final class FallbackTokenProvider(primary: Option[TokenProvider], fallback: TokenProvider)
    extends TokenProvider {
  @volatile private var lastPath: String = "unset"
  def getToken()(implicit ec: ExecutionContext): Future[Token] =
    primary match {
      case Some(p) =>
        TokenProvider.call(p).map { t => lastPath = "primary"; t }.recoverWith { case _ =>
          fallback.getToken().map { t => lastPath = "fallback"; t }
        }
      case None => fallback.getToken().map { t => lastPath = "fallback"; t }
    }
  def telemetry: Map[String, Any] = Map(
    "provider" -> "FallbackTokenProvider",
    "primary" -> primary.map(_.telemetry).orNull,
    "fallback" -> fallback.telemetry,
    "served_by" -> lastPath)
}

/** Cached-token manager: refresh when missing, expired, or within
  * `refreshMargin`; double-checked async lock so concurrent callers don't
  * stampede the provider. Per-pipeline instance (fixes quirk Q9 — the
  * reference makes this a process-wide singleton).
  * Ref: src/auth/token/token_manager.py:10-76.
  */
final class TokenManager(val provider: TokenProvider, refreshMarginSeconds: Long = 60)
    extends TokenSource {
  private val cached = new AtomicReference[Option[Token]](None)
  private val refreshing = new AtomicReference[Option[Future[Token]]](None)

  private def needsRefresh(t: Option[Token]): Boolean =
    t.forall(tok => tok.isExpired() || tok.expiresWithin(refreshMarginSeconds))

  def getToken()(implicit ec: ExecutionContext): Future[Token] = {
    val current = cached.get()
    if (!needsRefresh(current)) Future.successful(current.get)
    else {
      // single-flight: one in-flight provider call shared by concurrent callers
      val fresh = scala.concurrent.Promise[Token]()
      refreshing.compareAndSet(None, Some(fresh.future))
      refreshing.get() match {
        case Some(f) if f ne fresh.future => f
        case _ =>
          TokenProvider.call(provider).onComplete { r =>
            r.foreach(t => cached.set(Some(t)))
            refreshing.set(None)
            fresh.complete(r)
          }
          fresh.future
      }
    }
  }

  def tokenValue()(implicit ec: ExecutionContext): Future[String] = getToken().map(_.tokenValue)
  def invalidate(): Unit = cached.set(None)
  def currentToken: Option[Token] = cached.get()
  def telemetry: Map[String, Any] = provider.telemetry
}
