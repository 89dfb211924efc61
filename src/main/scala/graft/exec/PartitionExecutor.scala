package graft.exec

import java.util.concurrent.{ConcurrentHashMap, Executors, Semaphore}
import scala.concurrent.ExecutionContext

import org.apache.spark.TaskContext
import org.apache.spark.sql.Row

import graft.auth.AuthStrategy
import graft.config._
import graft.middleware.{Injectors, Interceptors, Middleware}
import graft.model._
import graft.transport.{JdkHttpEngine, TransportEngine}

/** Executor-process-scoped resources: one transport engine per distinct
  * transport config, shared across all tasks/partitions in the JVM — the
  * Scala analog of the reference's ProcessScope/WorkerResourceManager
  * (ref: src/core/runtime.py:85-188, docs/transport.md:39-58). A JVM
  * `object` IS process scope; `computeIfAbsent` gives the lazy, lock-guarded,
  * init-exactly-once semantics (warmup runs once per process per config).
  * No atexit analog needed: HttpClient uses daemon threads and needs no
  * explicit close (SURVEY.md §7.4).
  */
object WorkerResources {
  private val engines = new ConcurrentHashMap[(TransportConfig, String), TransportEngine]()

  def engine(cfg: TransportConfig, baseUrl: String): TransportEngine =
    engines.computeIfAbsent((cfg, baseUrl), { _ =>
      cfg.transportType match {
        case "jdk-http" | "aiohttp" => // aiohttp configs map onto the JDK engine
          val e = new JdkHttpEngine(cfg, baseUrl)
          e.warmup()
          e
        case other =>
          // registered-but-unimplemented engines stay explicit extension
          // points, like the reference's HttpxEngine stub (engine.py:151-154)
          throw new UnsupportedOperationException(s"transport type '$other' is not implemented")
      }
    })

  private val leasePools = new ConcurrentHashMap[String, Semaphore]()

  /** Hold one of `permits` leases of the pool `run` until the current task
    * completes (no-op outside a task). The batch path lets two batch jobs
    * run at once; with one lease per task and `num_partitions` leases per
    * run, the tasks making requests in this JVM stay at `num_partitions`
    * however many task slots the session has. */
  def holdLease(run: String, permits: Int): Unit = Option(TaskContext.get()).foreach { task =>
    val pool = leasePools.computeIfAbsent(run, _ => new Semaphore(permits))
    pool.acquire()
    task.addTaskCompletionListener[Unit](_ => pool.release())
  }

  /** Forget the lease pool `run` once none of its tasks can be running. */
  def dropLeases(run: String): Unit = { leasePools.remove(run); () }

  /** Shared continuation pool for request futures (I/O is NIO-driven inside
    * HttpClient; this pool only runs middleware continuations).
    */
  lazy val executionContext: ExecutionContext = ExecutionContext.fromExecutor(
    Executors.newFixedThreadPool(
      math.max(4, Runtime.getRuntime.availableProcessors() / 4),
      r => { val t = new Thread(r, "graft-exec"); t.setDaemon(true); t }))
}

/** Per-partition token bucket implementing `max_requests_per_second` for
  * real (quirk Q7: the reference documents but never implements it).
  * Submission-thread blocking keeps it simple and exerts backpressure on
  * the row iterator.
  */
final class RateLimiter(ratePerSecond: Double) {
  private val intervalNanos = (1e9 / ratePerSecond).toLong
  private var nextSlot = System.nanoTime()
  def acquire(): Unit = {
    val wakeAt = synchronized {
      val now = System.nanoTime()
      nextSlot = math.max(nextSlot + intervalNanos, now)
      nextSlot - intervalNanos
    }
    val sleepNanos = wakeAt - System.nanoTime()
    if (sleepNanos > 0) Thread.sleep(sleepNanos / 1000000, (sleepNanos % 1000000).toInt)
  }
}

/** The API-call operator: `Iterator[Row] => Iterator[Row]` run inside
  * `Dataset.mapPartitions` (no RDD hop — the explicit Encoder keeps the
  * bronze schema; SURVEY.md §2.A "RDD→DataFrame" row).
  *
  * Concurrency model (ref: src/orchestration/partition_executor.py:49-119,
  * docs/architecture.md:288-301): at most `maxConcurrentRequests` requests
  * in flight per partition; the [[RequestWindow]] is the bounded-queue
  * backpressure the reference documents but doesn't implement (quirk Q5) —
  * it pulls from the source iterator only while fewer than N requests are
  * pending, yields bronze rows in COMPLETION order, and holds at most N rows
  * in memory (vs the reference buffering the whole partition). A retried or
  * slow row never holds the window: its finished neighbours move on and
  * their slots refill. Row order within a task is therefore not a contract;
  * every consumer that needs an order sorts (every `e*` query orders its
  * output). No event loop: HttpClient.sendAsync is already non-blocking.
  */
object PartitionExecutor {

  /** `{{column}}` placeholder grammar shared by the orchestration terminal
    * and the DSv2 write path. Missing columns render as empty strings
    * (matching the ParamInjector's absent-value behavior).
    */
  val templatePattern: scala.util.matching.Regex =
    raw"\{\{\s*([A-Za-z_][A-Za-z0-9_]*)\s*\}\}".r
  def renderTemplate(template: String, row: Map[String, String]): String =
    templatePattern.replaceAllIn(template, m =>
      scala.util.matching.Regex.quoteReplacement(row.getOrElse(m.group(1), "")))

  /** Build the serializable partition function. Captures only config case
    * classes + the rpc_url string (serialization discipline, ref:
    * strategy.py:179). With a `leasePool`, each task holds one of that
    * pool's `num_partitions` leases from its first request until it
    * completes ([[WorkerResources.holdLease]]).
    */
  def makeFn(cfg: PipelineConfig, rpcUrl: Option[String],
      leasePool: Option[String] = None): Iterator[Row] => Iterator[Row] = {
    rows =>
      implicit val ec: ExecutionContext = WorkerResources.executionContext
      val engine = WorkerResources.engine(cfg.transport, cfg.endpoint.baseUrl)

      // Immutable per-partition chain (fixes quirk Q6), in reference order:
      // param injector prepended (partition_executor.py:68-69), user
      // middleware in config order, auth appended (orchestrator.py:186-190),
      // transport diagnostics appended (partition_executor.py:63-66).
      val paramMapping = cfg.tables.requestMapping
      val user: Seq[Middleware.Middleware] = cfg.middleware.map {
        case r: RetryConfig       => Interceptors.retry(r)
        case JsonBodyConfig       => Interceptors.jsonBody
        case LoggingConfig        => Injectors.logging
        case TimingConfig         => Injectors.timing
        case WorkerDiagConfig     => Injectors.workerIdentity()
        case StaticBearerConfig(t) =>
          Injectors.bearerToken(new graft.auth.TokenManager(new graft.auth.StaticTokenProvider(t)))
        case HeaderAuthConfig(u, p) => Injectors.headerAuth(u, p)
      }
      val chain0 =
        (if (paramMapping.nonEmpty) Seq(Injectors.paramInjector) else Seq.empty) ++
          user ++
          AuthStrategy.middlewares(cfg.auth, rpcUrl) ++
          (if (cfg.transport.diagnostics) Seq(Injectors.transportDiagnostics(engine)) else Seq.empty)

      // Terminal: context -> wire -> response mapped onto the exchange.
      // success = no transport error && status < 500 (ref: executor.py:45-67;
      // quirk Q11 layer semantics — json_body middleware may upgrade later).
      // request_template (quirk Q13: declared in the reference's endpoint
      // config as a "JSON request body template" but never wired through
      // factories.py:62-78 — implemented for real here): {{column}}
      // placeholders substitute row values, sent as a JSON body.
      import PartitionExecutor.{renderTemplate, templatePattern}
      val terminal: Middleware.Next = { ex =>
        val body = ex.context.requestTemplate.map(renderTemplate(_, ex.row))
        val req = TransportRequest(
          url = ex.context.url,
          method = ex.context.method,
          headers = ex.context.headers ++
            (if (body.isDefined && !ex.context.headers.contains("Content-Type"))
               Map("Content-Type" -> "application/json")
             else Map.empty),
          params = ex.context.params,
          body = body,
          timeoutSeconds = cfg.transport.baseTimeoutSeconds)
        engine.send(req).map { resp =>
          ex.copy(
            request = Some(req),
            response = Some(resp),
            success = Some(resp.error.isEmpty && resp.status.exists(_ < 500)),
            errorMessage = resp.error)
        }
      }
      val pipeline = Middleware.chain(chain0, terminal)

      val rateLimiter = cfg.execution.maxRequestsPerSecond.map(new RateLimiter(_))
      val redactHeaderSet = cfg.tables.sink.redactHeaders.toSet
      val neededCols = paramMapping.values.toSet ++
        cfg.endpoint.requestTemplate.toSeq.flatMap(t =>
          templatePattern.findAllMatchIn(t).map(_.group(1)))
      val baseContext = RequestContext(
        url = cfg.endpoint.resolvedUrl,
        method = cfg.endpoint.method,
        headers = cfg.endpoint.headers,
        params = cfg.endpoint.params,
        paramMapping = paramMapping,
        metadata = cfg.endpoint.vendor.map(v => Map("vendor" -> v)).getOrElse(Map.empty),
        requestTemplate = cfg.endpoint.requestTemplate)

      val window = new RequestWindow[Row](cfg.execution.maxConcurrentRequests,
        RequestWindow.deadline(cfg.transport.baseTimeoutSeconds,
          cfg.middleware.collect { case r: RetryConfig => r }))

      var leased = false
      def submit(row: Row): Unit = {
        if (!leased) {
          leased = true
          leasePool.foreach(WorkerResources.holdLease(_, cfg.execution.numPartitions))
        }
        rateLimiter.foreach(_.acquire())
        val requestId = String.valueOf(row.getAs[Any]("request_id"))
        val rowMap: Map[String, String] = neededCols.iterator.map { c =>
          c -> String.valueOf(row.getAs[Any](c))
        }.toMap
        window.submit(requestId, pipeline(RequestExchange(context = baseContext, row = rowMap))
          .map(ex => BronzeSchema.buildRow(requestId, ex, redactHeaderSet)))
      }

      new Iterator[Row] {
        private def fill(): Unit = while (!window.isFull && rows.hasNext) submit(rows.next())
        def hasNext: Boolean = { fill(); window.nonEmpty }
        def next(): Row = { fill(); window.take() }
      }
  }
}
