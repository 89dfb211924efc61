package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.sql.Timestamp
import java.util.SplittableRandom
import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Row, SparkSession}

import graft.auth.{AuthStrategy, RpcTokenProvider, StaticTokenProvider, TokenManager}
import graft.config.ConfigLoader
import graft.exec.{PartitionExecutor, WorkerResources}
import graft.middleware.{Injectors, Interceptors, Middleware}
import graft.model.{BronzeSchema, RequestContext, RequestExchange, TransportRequest, TransportResponse}
import graft.orchestration.{BatchHandler, BatchProcessor, PipelineOrchestrator, TableManager}

object Ingest {
  val sourceKeys = 150000
  val keysPerRun = 1500
  val route = "/api/remote"
  /** The upstream's fixed response delay. */
  val delayMs = 20L
  /** In-flight cap: nproc partitions × this many requests each. */
  val concurrency = 8
  val batchSize = 250L
  /** The first iterations run cold (JIT, codegen, connection pools) at up
    * to five times a warm one's wall; this many run before the timing. */
  val warmUps = 2

  private def shuffled(a: Array[Long], rnd: SplittableRandom): Array[Long] = {
    for (i <- a.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8)).map(b => f"${b & 0xff}%02x").mkString

  val sourceSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))
}

/** YAML → HTTP → bronze through `PipelineOrchestrator.runPipelineFromFile`:
  * a seeded slice of the keys, a 20 ms upstream with first-call 503s on a
  * seeded tenth, OAuth2 tokens every task fetches through the driver's
  * token RPC, several batches, and a seeded third already in the sink for
  * the anti-join resume to skip: waiting, not CPU, sets the wall. */
final class Ingest(spark: SparkSession, seed: Long, cpus: Int, work: String) extends Workload {
  import Ingest._
  private implicit val ec: ExecutionContext = WorkerResources.executionContext

  private val (keys, flaky, preloaded) = {
    val rnd = new SplittableRandom(seed)
    val keys = shuffled(Array.tabulate(sourceKeys)(_.toLong), rnd).take(keysPerRun).sorted
    val flaky = shuffled(keys.clone(), rnd).take(keys.length / 10).map(_.toString).toSet
    val pre = shuffled(keys.clone(), rnd).take(keys.length / 3).toSet
    (keys, flaky, pre)
  }

  // One event-loop thread serves every route (delays are scheduled, never
  // slept) and leaves the cores to the program. Tokens outlive a run: see
  // the README on why they do not expire inside an iteration.
  private val api = new MockApi(delayMs, tokenLifetimeS = 60, flaky.contains)

  // Seeded source rows: the program receives only these generated inputs.
  private val rows: Array[Row] = {
    val rnd = new SplittableRandom(seed ^ 0x5eedL)
    val statuses = Array("O", "F", "P")
    val prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    keys.map { k =>
      Row(k, rnd.nextLong(1L, 15001L), statuses(rnd.nextInt(3)),
        math.round(rnd.nextDouble(900.0, 500000.0) * 100) / 100.0,
        new Timestamp(694224000000L + rnd.nextLong(0L, 2500L) * 86400000L),
        prios(rnd.nextInt(5)))
    }
  }
  private val customer: Map[Long, Long] = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
  private def expectedBody(k: Long): String = MockApi.body(k.toString, customer(k).toString)
  private def expectedAttempts(k: Long): Int = if (flaky.contains(k.toString)) 2 else 1

  // The remote boundary itself must not stall: lone requests on the
  // zero-delay route have to stay far below the 40 ms delayed-ACK floor.
  private val loneRttP50 = Main.median(api.loneRttMs("/", 200).toSeq)
  require(loneRttP50 < 5.0, s"mock API lone-request RTT p50 $loneRttP50 ms: the upstream stalls")

  private def dir(i: Int) = s"$work/iter-$i"
  private def sinkName(i: Int) = s"bronze_$i"
  private def yamlPath(i: Int) = s"${dir(i)}/pipeline.yml"

  private def yaml(i: Int): String =
    s"""endpoint:
       |  name: bench_api
       |  base_url: "${api.baseUrl}"
       |  url_path: "$route"
       |  method: GET
       |transport:
       |  base_timeout: 30
       |  warmup_timeout: 10
       |auth:
       |  type: oauth2_client_credentials
       |  token_url: "${api.baseUrl}/token"
       |  client_id: bench
       |  client_secret: bench-secret
       |  refresh_margin: 1
       |middleware:
       |  - type: retry
       |    params: {max_attempts: 5, base_delay: 0.02, max_delay: 0.05}
       |  - type: json_body
       |tables:
       |  source:
       |    name: orders_$i
       |    namespace: src
       |    id_column: o_orderkey
       |    required_columns: [o_custkey]
       |  sink:
       |    name: ${sinkName(i)}
       |    namespace: bench
       |    mode: append
       |  column_mappings:
       |    - source_column: request_id
       |      endpoint_param: id
       |    - source_column: o_custkey
       |      endpoint_param: customer
       |execution:
       |  num_partitions: $cpus
       |  batch_size: $batchSize
       |  max_attempts: 3
       |  max_concurrent_requests: $concurrency
       |""".stripMargin

  /** A bronze row as a previous run would have committed it. */
  private def preloadedRow(k: Long): Row = {
    val body = expectedBody(k)
    Row(k.toString, sha256(body), api.baseUrl + route, "GET", null, null, null,
      200, null, body, true, null, 1, null, new Timestamp(System.currentTimeMillis()))
  }

  /** Source staging, pipeline YAML, config load and the sink pre-seeded
    * with the already-committed third. */
  private def setup(i: Int): Unit = {
    Files.createDirectories(Paths.get(dir(i)))
    spark.sql("CREATE DATABASE IF NOT EXISTS src")
    spark.createDataFrame(rows.toSeq.asJava, sourceSchema)
      .write.parquet(s"${dir(i)}/source")
    spark.sql(s"CREATE TABLE src.orders_$i USING parquet LOCATION '${dir(i)}/source'")
    Files.writeString(Paths.get(yamlPath(i)), yaml(i))
    val cfg = ConfigLoader.fromFile(yamlPath(i))
    new TableManager(spark).createTable(cfg.tables.sink)
    spark.createDataFrame(keys.filter(preloaded.contains).toSeq
      .map(preloadedRow).asJava, BronzeSchema.schema)
      .write.mode("append").insertInto(cfg.tables.sink.identifier)
    api.forgetFirstCalls()
  }

  /** The same public steps `runPipeline` takes, each as a span; the batch
    * handler is wrapped so every batch is a span of its own. */
  private def tracedRun(i: Int, t: Tracer): Map[String, Double] = {
    val (cfg, loadS) = Main.timed(t.span("config.load") { ConfigLoader.fromFile(yamlPath(i)) })
    val src = cfg.tables.source.get
    val source = t.span("orchestration.prepare_source") {
      PipelineOrchestrator.prepareSource(cfg, spark.table(src.identifier), src.idColumn)
    }
    val tables = new TableManager(spark)
    val (_, createS) = Main.timed(t.span("orchestration.create_table") {
      tables.createTable(cfg.tables.sink)
    })
    val ((rpcUrl, stop), startS) = Main.timed(t.span("auth.start_runtime") {
      AuthStrategy.startRuntime(cfg.auth, "127.0.0.1")
    })
    var batches = 0
    var handlerS = 0.0
    var firstHandler = 0L
    val p0 = System.nanoTime()
    try t.span("orchestration.process") {
      val handler = new BatchHandler(cfg, rpcUrl, cfg.tables.sink.identifier, tables.format)
      new BatchProcessor(spark, source, cfg.tables.sink.identifier, cfg.execution).process { df =>
        if (batches == 0) firstHandler = System.nanoTime()
        batches += 1
        val (_, s) = Main.timed(t.span("orchestration.handler") { handler.process(df) })
        handlerS += s
      }
    } finally t.span("auth.stop_runtime") { stop() }
    Map("config.load_ms" -> loadS * 1e3,
      "orchestration.create_table_s" -> createS,
      "orchestration.remaining_s" -> (if (batches > 0) (firstHandler - p0) / 1e9 else 0.0),
      "orchestration.batches" -> batches.toDouble,
      "orchestration.handler_s" -> handlerS,
      "auth.start_runtime_s" -> startS)
  }

  def warmUp(): Seq[Iter] = (1 to warmUps).map(w => iteration(1000 + w, None))

  def iteration(i: Int, tracer: Option[Tracer]): Iter = {
    val n = keys.length
    val remaining = n - preloaded.size
    val (_, setupS) = Main.timed(setup(i))
    tracer.foreach(_.resetCounters())
    val r0 = api.requests.get(); val e0 = api.status5xx.get(); val g0 = api.tokenGrants.get()
    val c0 = api.apiCalls.get()
    val (area0, _) = api.inflightSnapshot()
    val (traceLayers, wallS) = Main.timed {
      tracer match {
        case Some(t) => t.span("harness.iteration") { tracedRun(i, t) }
        case None =>
          PipelineOrchestrator.runPipelineFromFile(spark, yamlPath(i)); Map.empty[String, Double]
      }
    }
    val (area, inflightMax) = api.inflightSnapshot()
    val counters = tracer.map(_.counters())
    val apiLayers = Map(
      "api.requests" -> (api.requests.get() - r0).toDouble,
      "api.status_5xx" -> (api.status5xx.get() - e0).toDouble,
      "api.calls_per_row" -> (api.apiCalls.get() - c0).toDouble / remaining,
      "api.inflight_mean" -> (area - area0) / wallS,
      "api.inflight_max" -> inflightMax.toDouble,
      "auth.token_grants" -> (api.tokenGrants.get() - g0).toDouble)

    // Read the committed sink back (the consumer's read) and check it.
    val reads = (1 to Main.readsPerIteration).map(_ => Main.timed {
      spark.table(s"bench.${sinkName(i)}")
        .select("request_id", "success", "status_code", "row_hash", "attempts").collect()
    })
    val got = reads.head._1
    val seen = scala.collection.mutable.HashSet.empty[String]
    var bad = 0L
    got.foreach { r =>
      val id = r.getString(0)
      val k = scala.util.Try(id.toLong).toOption.filter(customer.contains)
      val ok = k.exists { k =>
        val pre = preloaded.contains(k)
        seen.add(id) && !r.isNullAt(1) && r.getBoolean(1) && !r.isNullAt(2) && r.getInt(2) == 200 &&
          r.getString(3) == sha256(expectedBody(k)) &&
          !r.isNullAt(4) && r.getInt(4) == (if (pre) 1 else expectedAttempts(k))
      }
      if (!ok) bad += 1
    }
    val check = Check(n.toLong, bad + (n - seen.size))

    val layers =
      if (tracer.isEmpty) Map.empty[String, Double]
      else {
        val t = tracer.get
        val tree = t.tree(t.lastRoot)
        val self = t.selfTimes(tree)
        val (files, bytes) = Main.treeSize(new File(s"$work/warehouse/bench.db/${sinkName(i)}"))
        traceLayers ++ apiLayers ++ Map(
          "orchestration.remaining_rows" -> (got.length - preloaded.size).toDouble,
          "sink.files" -> files.toDouble,
          "sink.mb" -> bytes / 1e6) ++
          Trace.engineLayers(t, counters.get, tree, wallS) ++ Trace.selfLayers(self, wallS)
      }
    cleanup(i)
    Iter(setupS, wallS, remaining, reads.map(_._2), check, layers)
  }

  private def cleanup(i: Int): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS bench.${sinkName(i)}")
    spark.sql(s"DROP TABLE IF EXISTS src.orders_$i")
    Main.rmTree(new File(s"$work/warehouse/bench.db/${sinkName(i)}"))
    Main.rmTree(new File(dir(i)))
  }

  // ---- per-layer probes: one module called directly, no Spark ----

  private lazy val cfg = {
    Files.createDirectories(Paths.get(dir(0)))
    Files.writeString(Paths.get(yamlPath(0)), yaml(0))
    ConfigLoader.fromFile(yamlPath(0))
  }

  private def probeRows(n: Int): Iterator[Row] = {
    val schema = StructType(Seq(StructField("request_id", StringType), StructField("o_custkey", LongType)))
    Iterator.tabulate(n)(j =>
      new GenericRowWithSchema(Array[Any](s"probe-$j", j.toLong), schema): Row)
  }

  private def userMiddleware: Seq[Middleware.Middleware] = Seq(Injectors.paramInjector,
    Interceptors.retry(graft.config.RetryConfig(5, Set(500, 502, 503, 504, 429), 0.02, 0.05)),
    Interceptors.jsonBody,
    Injectors.bearerToken(new TokenManager(new StaticTokenProvider("tok-probe"))))

  private val context = RequestContext(url = s"${api.baseUrl}$route",
    paramMapping = Map("id" -> "request_id", "customer" -> "o_custkey"))

  private def cannedExchange(j: Int): RequestExchange = {
    val body = MockApi.body(s"probe-$j", j.toString)
    RequestExchange(context, Map("request_id" -> s"probe-$j", "o_custkey" -> j.toString),
      request = Some(TransportRequest(context.url, "GET", Map("Accept" -> "application/json"),
        Map("id" -> s"probe-$j", "customer" -> j.toString))),
      response = Some(TransportResponse(Some(200), Map("content-type" -> "application/json"),
        body.getBytes(UTF_8))),
      bodyText = Some(body), success = Some(true))
  }

  /** Median over 5 rounds of the per-call cost of `f`, in µs. */
  private def perCallUs(calls: Int)(f: Int => Any): Double = Main.median((1 to 5).map { _ =>
    val (_, s) = Main.timed((0 until calls).foreach(f)); s * 1e6 / calls
  })

  def layerProbes(): Map[String, Double] = {
    val buildUs = perCallUs(20000)(j => BronzeSchema.buildRow(s"probe-$j", cannedExchange(j)))
    val chain = Middleware.chain(userMiddleware, ex => Future.successful(cannedExchange(0)
      .copy(context = ex.context, row = ex.row, attempts = ex.attempts, metadata = ex.metadata)))
    val chainUs = perCallUs(20000)(j => Await.result(chain(RequestExchange(context,
      Map("request_id" -> s"probe-$j", "o_custkey" -> j.toString))), 10.seconds))

    // transport: the program's engine, at the workload's whole in-flight cap
    val engine = WorkerResources.engine(cfg.transport, cfg.endpoint.baseUrl)
    val inflight = cpus * concurrency
    val sends = 2000
    val lat = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val errors = new java.util.concurrent.atomic.AtomicLong
    val window = new java.util.concurrent.Semaphore(inflight)
    (0 until sends).foreach { j =>
      window.acquire()
      val t0 = System.nanoTime()
      engine.send(TransportRequest(context.url, "GET", Map("Authorization" -> "Bearer tok-probe"),
        Map("id" -> s"probe-$j", "customer" -> j.toString), timeoutSeconds = 30)).onComplete { r =>
        lat.add((System.nanoTime() - t0) / 1e6)
        if (r.isFailure || r.toOption.exists(x => x.error.isDefined || x.status.forall(_ >= 500)))
          errors.incrementAndGet()
        window.release()
      }
    }
    window.acquire(inflight)
    val latencies = lat.asScala.toSeq

    // exec: one partition through PartitionExecutor.makeFn, no Spark
    val ((rpcUrl, stop), _) = Main.timed(AuthStrategy.startRuntime(cfg.auth, "127.0.0.1"))
    val (rpcMs, directS, directRows) = try {
      val rpc = rpcUrl.map { u =>
        val p = new RpcTokenProvider(u)
        Main.median((1 to 50).map(_ => Main.timed(Await.result(p.getToken(), 10.seconds))._2 * 1e3))
      }.getOrElse(0.0)
      val fn = PartitionExecutor.makeFn(cfg, rpcUrl)
      val (count, s) = Main.timed(fn(probeRows(500)).size)
      (rpc, s, count)
    } finally stop()

    Map(
      "model.build_row_us" -> buildUs,
      "middleware.chain_us_per_row" -> chainUs,
      "transport.send_p50_ms" -> Main.percentile(latencies, 0.5),
      "transport.send_p99_ms" -> Main.percentile(latencies, 0.99),
      "transport.errors" -> errors.get().toDouble,
      "exec.direct_rows_per_s" -> directRows / directS,
      "exec.direct_partition_s" -> directS,
      "auth.rpc_fetch_p50_ms" -> rpcMs,
      "api.rtt_p50_ms" -> loneRttP50)
  }

  def close(): Unit = api.stop()
}
