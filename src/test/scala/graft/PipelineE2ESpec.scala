package graft

import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.matchers.should.Matchers

import graft.config._
import graft.testkit.MockApiServer
import graft.orchestration.{BatchHandler, BatchProcessor, PipelineOrchestrator, TableManager}

/** End-to-end pipeline tests against real local-mode Spark + an in-JVM mock
  * API — the SURVEY.md §7.3 minimum slice plus the FIXTURES.md §5 scenarios.
  */
class PipelineE2ESpec extends SparkSpec with Matchers with BeforeAndAfterAll {
  private val server = new MockApiServer
  override def beforeAll(): Unit = server.start()
  override def afterAll(): Unit = server.stop()

  private def baseConfig(path: String, sink: String,
      middleware: Seq[MiddlewareConfig] = Seq(LoggingConfig, TimingConfig, JsonBodyConfig),
      auth: AuthConfig = NoAuth,
      mappings: Seq[ColumnMapping] = Seq(ColumnMapping("request_id", Some("id"))),
      exec: ExecutionConfig = ExecutionConfig(
        numPartitions = 4, batchSize = 100, maxAttempts = 3, maxConcurrentRequests = 8)) =
    PipelineConfig(
      endpoint = EndpointConfig("test", server.baseUrl, path, vendor = Some("test_vendor")),
      // mock API is idempotent per request — keep POST-with-body tests
      // immune to the keep-alive reuse race
      transport = TransportConfig(baseTimeoutSeconds = 10, warmupTimeoutSeconds = 5,
        retryNonIdempotent = true),
      auth = auth,
      middleware = middleware,
      tables = TablesConfig(None, SinkTableConfig(sink, "demo", mode = "overwrite"), mappings),
      execution = exec)

  private def ordersSource(n: Int = 200) =
    spark.read.parquet(s"$sfDir/orders.parquet").limit(n).select("o_orderkey", "o_custkey")

  test("minimum slice: noauth pipeline lands every row in bronze with valid JSON") {
    val cfg = baseConfig("/api/data", "e2e_noauth")
    PipelineOrchestrator.runPipeline(spark, cfg,
      sourceDf = Some(ordersSource()), sourceId = Some("o_orderkey"))
    val bronze = spark.table("demo.e2e_noauth").cache()
    bronze.count() shouldBe 200
    bronze.filter(col("status_code") === 200).count() shouldBe 200
    bronze.filter(col("success")).count() shouldBe 200
    bronze.filter(col("attempts") === 1).count() shouldBe 200
    bronze.select("request_id").distinct().count() shouldBe 200
    // body echoes the injected id param deterministically
    val row = bronze.filter(col("request_id") === bronze.select("request_id").first().getString(0))
      .select("body_text").first().getString(0)
    row should include(""""status":"ok"""")
    // response_metadata carries timing + logs + warmup diagnostics
    val meta = bronze.select("response_metadata").first().getString(0)
    meta should include("total_seconds")
    meta should include("connection_warmup")
    bronze.unpersist()
  }

  test("idempotency: second run anti-joins to 0 remaining, no duplicates (batch_processor.py:36-40)") {
    val cfg = baseConfig("/api/data", "e2e_idem").copy(
      tables = TablesConfig(None, SinkTableConfig("e2e_idem", "demo", mode = "append"),
        Seq(ColumnMapping("request_id", Some("id")))))
    val src = ordersSource(100)
    PipelineOrchestrator.runPipeline(spark, cfg, Some(src), Some("o_orderkey"))
    val before = server.totalRequests.get()
    spark.table("demo.e2e_idem").count() shouldBe 100
    PipelineOrchestrator.runPipeline(spark, cfg, Some(src), Some("o_orderkey"))
    spark.table("demo.e2e_idem").count() shouldBe 100 // no duplicates
    // warmup GETs may fire on fresh engines, but no /api/data rows re-run
    (server.totalRequests.get() - before) shouldBe 0
  }

  test("retry: flaky endpoint succeeds on attempt 2 (test_middleware_chain_integration.py:160-253)") {
    server.reset()
    val cfg = baseConfig("/api/flaky", "e2e_retry",
      middleware = Seq(RetryConfig(maxAttempts = 5, baseDelaySeconds = 0.01,
        maxDelaySeconds = 0.05), JsonBodyConfig))
    PipelineOrchestrator.runPipeline(spark, cfg, Some(ordersSource(50)), Some("o_orderkey"))
    val bronze = spark.table("demo.e2e_retry").cache()
    bronze.count() shouldBe 50
    bronze.filter(col("success") && col("status_code") === 200).count() shouldBe 50
    bronze.filter(col("attempts") === 2).count() shouldBe 50
    bronze.unpersist()
  }

  test("non-retryable failure: 500 rows land with success=false after exhaustion") {
    val cfg = baseConfig("/api/fail", "e2e_fail",
      middleware = Seq(RetryConfig(maxAttempts = 2, baseDelaySeconds = 0.01,
        maxDelaySeconds = 0.02), JsonBodyConfig),
      exec = ExecutionConfig(4, 100, maxAttempts = 1, maxConcurrentRequests = 8))
    PipelineOrchestrator.runPipeline(spark, cfg, Some(ordersSource(20)), Some("o_orderkey"))
    val bronze = spark.table("demo.e2e_fail").cache()
    bronze.count() shouldBe 20
    bronze.filter(!col("success")).count() shouldBe 20
    bronze.filter(col("attempts") === 2).count() shouldBe 20
    bronze.select("error_message").first().getString(0) should include("Retry attempts exhausted")
    bronze.unpersist()
  }

  test("4xx is success=true per layer semantics (quirk Q11) and not retried") {
    server.reset()
    val cfg = baseConfig("/api/notfound", "e2e_404")
    PipelineOrchestrator.runPipeline(spark, cfg, Some(ordersSource(10)), Some("o_orderkey"))
    val bronze = spark.table("demo.e2e_404").cache()
    bronze.filter(col("status_code") === 404).count() shouldBe 10
    bronze.filter(col("success")).count() shouldBe 10 // 404 < 500 at terminal
    bronze.unpersist()
  }

  test("basic auth header reaches the API (injectors.py:49-67)") {
    val cfg = baseConfig("/api/echo_auth", "e2e_basic", auth = BasicAuth("u1", "p1"))
    PipelineOrchestrator.runPipeline(spark, cfg, Some(ordersSource(10)), Some("o_orderkey"))
    val expected = "Basic " + java.util.Base64.getEncoder.encodeToString("u1:p1".getBytes)
    val bodies = spark.table("demo.e2e_basic").select("body_text").collect().map(_.getString(0))
    all(bodies) should include(s""""auth":"$expected"""")
  }

  test("static bearer auth (auth.py bearer variant)") {
    val cfg = baseConfig("/api/echo_auth", "e2e_bearer", auth = BearerAuth("tok123"))
    PipelineOrchestrator.runPipeline(spark, cfg, Some(ordersSource(10)), Some("o_orderkey"))
    val bodies = spark.table("demo.e2e_bearer").select("body_text").collect().map(_.getString(0))
    all(bodies) should include(""""auth":"Bearer tok123"""")
  }

  test("oauth2 client credentials: driver RPC serves workers a real token") {
    val cfg = baseConfig("/api/echo_auth", "e2e_oauth2",
      auth = OAuth2ClientCredentialsAuth(s"${server.baseUrl}/token", "cid", "csecret"))
    PipelineOrchestrator.runPipeline(spark, cfg, Some(ordersSource(20)), Some("o_orderkey"))
    val bronze = spark.table("demo.e2e_oauth2").cache()
    val bodies = bronze.select("body_text").collect().map(_.getString(0))
    all(bodies) should include(""""auth":"Bearer mock-token-client_credentials"""")
    // telemetry should show the RPC path served the token
    bronze.select("response_metadata").first().getString(0) should include(""""served_by":"primary"""")
    bronze.unpersist()
  }

  test("oauth2 password grant: RPC-served token from the password flow (strategy.py:145-212)") {
    val cfg = baseConfig("/api/echo_auth", "e2e_oauth2_pw",
      auth = OAuth2PasswordAuth(s"${server.baseUrl}/token", "cid", "csecret", "user", "pass"))
    PipelineOrchestrator.runPipeline(spark, cfg, Some(ordersSource(10)), Some("o_orderkey"))
    val bodies = spark.table("demo.e2e_oauth2_pw").select("body_text").collect().map(_.getString(0))
    all(bodies) should include(""""auth":"Bearer mock-token-password"""")
  }

  test("catalog schema validation flags drift (table_manager.py:141-195)") {
    import org.apache.spark.sql.types._
    val tables = new graft.orchestration.TableManager(spark)
    tables.createTable(SinkTableConfig("schema_probe", "demo", mode = "overwrite"))
    val (ok, errs, _) = tables.validateSchema("demo.schema_probe", graft.model.BronzeSchema.schema)
    withClue(errs.mkString("; ")) { ok shouldBe true }
    val drifted = StructType(graft.model.BronzeSchema.schema.fields.toSeq.map {
      case f if f.name == "status_code" => f.copy(dataType = StringType) // type drift
      case f => f
    } :+ StructField("brand_new", StringType)) // column the table lacks
    val (ok2, errs2, _) = tables.validateSchema("demo.schema_probe", drifted)
    ok2 shouldBe false
    errs2.exists(_.contains("brand_new")) shouldBe true
    errs2.exists(_.contains("Type mismatch for 'status_code'")) shouldBe true
  }

  test("param injection from mapped source column (injectors.py:70-87)") {
    val cfg = baseConfig("/api/data", "e2e_params",
      mappings = Seq(ColumnMapping("request_id", Some("id")), ColumnMapping("o_custkey", Some("customer"))))
    PipelineOrchestrator.runPipeline(spark, cfg, Some(ordersSource(30)), Some("o_orderkey"))
    val bronze = spark.table("demo.e2e_params")
    val rows = bronze.select("request_id", "body_text").collect()
    val custkeys = ordersSource(30).collect()
      .map(r => r.getLong(0).toString -> r.getLong(1).toString).toMap
    rows.foreach { r =>
      r.getString(1) should include(s""""customer":"${custkeys(r.getString(0))}"""")
    }
  }

  test("concurrency stays within max_concurrent_requests (test_partition_executor_integration.py:161-197)") {
    server.reset()
    val cfg = baseConfig("/api/data", "e2e_conc",
      exec = ExecutionConfig(numPartitions = 2, batchSize = 1000, maxAttempts = 1,
        maxConcurrentRequests = 3))
    PipelineOrchestrator.runPipeline(spark, cfg, Some(ordersSource(120)), Some("o_orderkey"))
    spark.table("demo.e2e_conc").count() shouldBe 120
    // 2 partitions × 3 in-flight (+1 slack for warmup overlap)
    server.maxInFlight.get() should be <= 7
  }

  private def batchThreads(): Set[String] =
    Thread.getAllStackTraces.keySet.asScala.map(_.getName).filter(_ == "graft-batch").toSet

  test("two batches in flight stay within num_partitions × max_concurrent_requests") {
    server.reset()
    // 2 partitions on the width-4 session, 4 batches of ~16 rows at 100 ms
    // a request: batch k+1's two tasks find free slots while batch k's
    // run. Without the per-run lease pool, four tasks would request at once.
    val cfg = baseConfig("/api/delay", "e2e_window_cap", middleware = Seq(JsonBodyConfig),
      exec = ExecutionConfig(numPartitions = 2, batchSize = 16, maxAttempts = 1,
        maxConcurrentRequests = 4))
    val src = spark.range(64).selectExpr("concat('100-', id) AS sid")
    PipelineOrchestrator.runPipeline(spark, cfg, Some(src), Some("sid"))
    spark.table("demo.e2e_window_cap").count() shouldBe 64
    info(s"mock API in-flight high-water: ${server.maxInFlight.get()}")
    server.maxInFlight.get() should be <= 2 * 4
    batchThreads() shouldBe empty
  }

  test("the handler is called one batch at a time, on the caller's thread") {
    // perfbench's traced path wraps each call in a span of a tracer that is
    // not thread-safe; the two-batch overlap must stay inside the handler
    val cfg = baseConfig("/api/data", "e2e_handler_calls",
      exec = ExecutionConfig(numPartitions = 4, batchSize = 50, maxAttempts = 1,
        maxConcurrentRequests = 8))
    val sink = cfg.tables.sink.identifier
    val tables = new TableManager(spark)
    tables.createTable(cfg.tables.sink)
    val src = PipelineOrchestrator.prepareSource(cfg, ordersSource(200), "o_orderkey")
    val handler = new BatchHandler(cfg, None, sink, tables.format)
    val threads = java.util.concurrent.ConcurrentHashMap.newKeySet[Thread]()
    val active = new AtomicInteger
    val overlap = new AtomicInteger
    var calls = 0
    new BatchProcessor(spark, src, sink, cfg.execution).process { df =>
      overlap.accumulateAndGet(active.incrementAndGet(), math.max)
      threads.add(Thread.currentThread())
      calls += 1
      try handler.process(df) finally active.decrementAndGet()
    }
    calls shouldBe 4
    threads.asScala.toSet shouldBe Set(Thread.currentThread())
    overlap.get() shouldBe 1
    // settled before process returned
    spark.table(sink).count() shouldBe 200
  }

  test("null source ids are counted, reported once and never sent") {
    import spark.implicits._
    val src = Seq(Some("a1"), Some("a2"), None).toDF("sid")
    val err = new java.io.ByteArrayOutputStream()
    val stderr = System.err
    System.setErr(new java.io.PrintStream(err, true))
    try PipelineOrchestrator.runPipeline(spark, baseConfig("/api/data", "e2e_null_ids"),
      Some(src), Some("sid"))
    finally System.setErr(stderr)
    // a null id never matches the anti-join: sent, it would land as a
    // "null" row on every attempt (max_attempts = 3) and every later run
    spark.table("demo.e2e_null_ids").select("request_id").as[String].collect().sorted shouldBe
      Array("a1", "a2")
    err.toString.linesIterator.filter(_.startsWith("[Pipeline] WARN")).toSeq shouldBe
      Seq("[Pipeline] WARN 1 source rows have a null id and are not sent")
  }

  test("a crash between a batch's staged write and its publish: no staged row shows, a re-run heals") {
    val exec = ExecutionConfig(numPartitions = 2, batchSize = 25, maxAttempts = 1,
      maxConcurrentRequests = 4)
    val cfg = baseConfig("/api/data", "e2e_crash", exec = exec)
    val resume = cfg.copy(tables = cfg.tables.copy(sink = cfg.tables.sink.copy(mode = "append")))
    val src = ordersSource(100)
    BatchHandler.testCrashPoint = 1
    val err =
      try intercept[IllegalStateException](
        PipelineOrchestrator.runPipeline(spark, cfg, Some(src), Some("o_orderkey")))
      finally BatchHandler.testCrashPoint = 0
    err.getMessage should include("testCrashPoint=1")
    batchThreads() shouldBe empty
    val location = new java.io.File(spark.sessionState.catalog
      .getTableMetadata(TableIdentifier("e2e_crash", Some("demo"))).location)
    val staging = new java.io.File(location, BatchHandler.stagingRoot)
    // the first two of the four batches ran and staged their rows; the
    // table shows none of them
    spark.read.parquet(s"${staging.getPath}/*").count() should be > 0L
    spark.catalog.refreshTable("demo.e2e_crash")
    spark.table("demo.e2e_crash").count() shouldBe 0
    PipelineOrchestrator.runPipeline(spark, resume, Some(src), Some("o_orderkey"))
    val ids = spark.table("demo.e2e_crash").select("request_id").collect().map(_.getString(0))
    ids.length shouldBe 100
    ids.distinct.length shouldBe 100
    staging.exists() shouldBe false
  }

  test("column mapping transform applies upper (quirk Q3 implemented)") {
    val src = spark.range(5).select(
      concat(lit("id"), col("id")).as("tid"), lit("abc").as("val"))
    val cfg = baseConfig("/api/data", "e2e_transform",
      mappings = Seq(ColumnMapping("request_id", Some("id")),
        ColumnMapping("val", Some("v"), transform = Some("upper"))))
    PipelineOrchestrator.runPipeline(spark, cfg, Some(src), Some("tid"))
    val params = spark.table("demo.e2e_transform").select("request_params").first().getString(0)
    params should include(""""v":"ABC"""")
  }

  test("rate limiter bounds throughput when configured (quirk Q7 implemented)") {
    server.reset()
    val cfg = baseConfig("/api/data", "e2e_rate",
      exec = ExecutionConfig(numPartitions = 1, batchSize = 1000, maxAttempts = 1,
        maxConcurrentRequests = 8, maxRequestsPerSecond = Some(50.0)))
    val t0 = System.nanoTime()
    PipelineOrchestrator.runPipeline(spark, cfg, Some(ordersSource(40)), Some("o_orderkey"))
    val elapsed = (System.nanoTime() - t0) / 1e9
    spark.table("demo.e2e_rate").count() shouldBe 40
    elapsed should be >= 0.6 // 40 req @ 50 rps ≈ 0.8 s minimum
  }

  test("POST request_template substitutes row values into the JSON body (quirk Q13 implemented)") {
    val cfg = baseConfig("/api/echo_body", "e2e_post").copy(
      endpoint = EndpointConfig("test", server.baseUrl, "/api/echo_body", method = "POST",
        requestTemplate = Some("""{"order":"{{request_id}}","cust":"{{o_custkey}}"}""")))
    PipelineOrchestrator.runPipeline(spark, cfg, Some(ordersSource(10)), Some("o_orderkey"))
    val rows = spark.table("demo.e2e_post").select("request_id", "body_text").collect()
    val custkeys = ordersSource(10).collect()
      .map(r => r.getLong(0).toString -> r.getLong(1).toString).toMap
    rows.foreach { r =>
      r.getString(1) shouldBe
        s"""{"content_type":"application/json","received":{"order":"${r.getString(0)}","cust":"${custkeys(r.getString(0))}"}}"""
    }
  }

  test("source XOR validation (orchestrator.py:140-155)") {
    val cfg = baseConfig("/api/data", "e2e_xor")
    a[ConfigValidationException] should be thrownBy
      PipelineOrchestrator.runPipeline(spark, cfg, None, None)
  }
}
