package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config._
import graft.orchestration.PipelineOrchestrator
import graft.queries.QueryDef.tbl
import graft.testkit.MockApiServer

/** End-to-end pipeline runs as oracle-checked queries: each query boots an
  * in-JVM mock API (deterministic bodies — a pure function of the request
  * params), runs the FULL pipeline (config → auth → batching → anti-join →
  * mapPartitions HTTP → bronze append), then returns the deterministic
  * bronze projection. The DuckDB oracle reconstructs the expected bronze
  * rows from the source table alone — so middleware, auth, retry, transport
  * and write semantics are all under the hash check.
  */
object E2EQueries {

  /** Strip the dynamic host:port, keep the path. */
  private def urlPath = regexp_replace(col("url"), "^http://[^/]+", "")

  private def runPipeline(
      s: SparkSession, d: String, sink: String, path: String,
      authFor: MockApiServer => AuthConfig, middleware: Seq[MiddlewareConfig],
      keyMod: Int): DataFrame = {
    val server = new MockApiServer().start()
    try {
      val source = tbl(s, d, "orders")
        .filter(col("o_orderkey") % keyMod === 0)
        .select("o_orderkey", "o_custkey")
      val cfg = PipelineConfig(
        endpoint = EndpointConfig("verify", server.baseUrl, path),
        // retryNonIdempotent: the mock API is idempotent per request_id, so
        // transparent stale-connection retry of POSTs is safe and keeps the
        // keep-alive race from surfacing as sporadic e2e transport errors.
        transport = TransportConfig(baseTimeoutSeconds = 30, warmupTimeoutSeconds = 5,
          retryNonIdempotent = true),
        auth = authFor(server),
        middleware = middleware,
        tables = TablesConfig(None,
          SinkTableConfig(sink, "graft_verify", mode = "overwrite"),
          Seq(ColumnMapping("request_id", Some("id")), ColumnMapping("o_custkey", Some("customer")))),
        execution = ExecutionConfig(
          numPartitions = s.sparkContext.defaultParallelism,
          batchSize = 100000L, maxAttempts = 2,
          // right-size total in-flight (~1024 across all partitions): the
          // loopback mock peaks at 32×32 = 1024 concurrent (7.1k rps);
          // 2048 collapses to 3.8k rps. A real remote API would warrant
          // the 20-64 per-partition default.
          maxConcurrentRequests = math.max(8, 1024 / s.sparkContext.defaultParallelism)))
      PipelineOrchestrator.runPipeline(s, cfg, Some(source), Some("o_orderkey"))
      s.table(s"graft_verify.$sink")
    } finally server.stop()
  }

  private val stdProjection = Seq(
    col("request_id"), urlPath.as("url_path"), col("method"),
    col("status_code"), col("success"), col("attempts"),
    col("body_text"), col("row_hash"), col("request_params"), col("request_headers"))

  val all: Seq[QueryDef] = Seq(

    // Full noauth pipeline (SURVEY.md §7.3 minimum slice) over every 5th
    // order: logging+timing+json middleware, param injection, bronze write.
    QueryDef("e01_pipeline_noauth",
      (s, d) => runPipeline(s, d, "e01_noauth", "/api/data", _ => NoAuth,
        Seq(LoggingConfig, TimingConfig, JsonBodyConfig), keyMod = 5)
        .select(stdProjection: _*).orderBy("request_id"),
      Some("""SELECT o_orderkey::VARCHAR AS request_id, '/api/data' AS url_path,
             |  'GET' AS method, 200 AS status_code, true AS success, 1 AS attempts,
             |  '{"id":"'||o_orderkey||'","customer":"'||o_custkey||'","status":"ok"}' AS body_text,
             |  sha256('{"id":"'||o_orderkey||'","customer":"'||o_custkey||'","status":"ok"}') AS row_hash,
             |  '{"id":"'||o_orderkey||'","customer":"'||o_custkey||'"}' AS request_params,
             |  '{}' AS request_headers
             |FROM orders WHERE o_orderkey % 5 = 0 ORDER BY request_id""".stripMargin)),

    // Idempotency: run the same pipeline twice with an append sink; the
    // anti-join checkpoint must yield zero re-runs and zero duplicates
    // (batch_processor.py:36-40,64-72).
    QueryDef("e02_pipeline_idempotent", (s, d) => {
      val server = new MockApiServer().start()
      try {
        val source = tbl(s, d, "orders").filter(col("o_orderkey") % 10 === 0)
          .select("o_orderkey", "o_custkey")
        val cfg = PipelineConfig(
          endpoint = EndpointConfig("verify", server.baseUrl, "/api/data"),
          auth = NoAuth, middleware = Seq(JsonBodyConfig),
          tables = TablesConfig(None,
            SinkTableConfig("e02_idem", "graft_verify", mode = "overwrite"), Nil),
          execution = ExecutionConfig(s.sparkContext.defaultParallelism, 100000L, 2,
            math.max(8, 1024 / s.sparkContext.defaultParallelism)))
        PipelineOrchestrator.runPipeline(s, cfg, Some(source), Some("o_orderkey"))
        // second run: same sink, append semantics via anti-join checkpoint
        val cfg2 = cfg.copy(tables = cfg.tables.copy(
          sink = cfg.tables.sink.copy(mode = "append")))
        PipelineOrchestrator.runPipeline(s, cfg2, Some(source), Some("o_orderkey"))
        s.table("graft_verify.e02_idem")
          .agg(count(lit(1)).as("total_rows"),
            countDistinct(col("request_id")).as("distinct_ids"))
      } finally server.stop()
    },
      Some("""SELECT count(*) AS total_rows, count(DISTINCT o_orderkey) AS distinct_ids
             |FROM orders WHERE o_orderkey % 10 = 0""".stripMargin)),

    // Retry middleware against a deterministically flaky endpoint: first
    // call per id → 503, second → 200. Bronze must show attempts = 2.
    QueryDef("e03_pipeline_retry",
      (s, d) => runPipeline(s, d, "e03_retry", "/api/flaky", _ => NoAuth,
        Seq(RetryConfig(maxAttempts = 5, baseDelaySeconds = 0.005, maxDelaySeconds = 0.02),
          JsonBodyConfig), keyMod = 30)
        .select(col("request_id"), col("status_code"), col("success"),
          col("attempts"), col("body_text"))
        .orderBy("request_id"),
      Some("""SELECT o_orderkey::VARCHAR AS request_id, 200 AS status_code,
             |  true AS success, 2 AS attempts,
             |  '{"id":"'||o_orderkey||'","served_attempt":2,"status":"ok"}' AS body_text
             |FROM orders WHERE o_orderkey % 30 = 0 ORDER BY request_id""".stripMargin)),

    // Basic auth: the echo endpoint reflects the Authorization header the
    // worker actually sent ("u1:p1" → base64 dTE6cDE=).
    QueryDef("e04_pipeline_basic_auth",
      (s, d) => runPipeline(s, d, "e04_basic", "/api/echo_auth",
        _ => BasicAuth("u1", "p1"), Seq(JsonBodyConfig), keyMod = 50)
        .select(col("request_id"), col("status_code"), col("success"),
          col("body_text"), col("request_headers"))
        .orderBy("request_id"),
      Some("""SELECT o_orderkey::VARCHAR AS request_id, 200 AS status_code, true AS success,
             |  '{"id":"'||o_orderkey||'","auth":"Basic dTE6cDE="}' AS body_text,
             |  '{"Authorization":"Basic dTE6cDE="}' AS request_headers
             |FROM orders WHERE o_orderkey % 50 = 0 ORDER BY request_id""".stripMargin)),

    // OAuth2 client credentials, end to end: driver token refresher + RPC
    // server, workers fetch via RPC, bearer header reaches the API.
    QueryDef("e05_pipeline_oauth2",
      (s, d) => runPipeline(s, d, "e05_oauth2", "/api/echo_auth",
        srv => OAuth2ClientCredentialsAuth(s"${srv.baseUrl}/token", "cid", "csecret"),
        Seq(JsonBodyConfig), keyMod = 50)
        .select(col("request_id"), col("status_code"), col("success"), col("body_text"))
        .orderBy("request_id"),
      Some("""SELECT o_orderkey::VARCHAR AS request_id, 200 AS status_code, true AS success,
             |  '{"id":"'||o_orderkey||'","auth":"Bearer mock-token-client_credentials"}' AS body_text
             |FROM orders WHERE o_orderkey % 50 = 0 ORDER BY request_id""".stripMargin)),

    // POST with a request_template JSON body (quirk Q13, implemented):
    // {{column}} placeholders substitute row values; the echo endpoint
    // returns exactly what arrived on the wire.
    QueryDef("e07_pipeline_post_template", (s, d) => {
      val server = new MockApiServer().start()
      try {
        val source = tbl(s, d, "orders").filter(col("o_orderkey") % 50 === 0)
          .select("o_orderkey", "o_custkey")
        val cfg = PipelineConfig(
          endpoint = EndpointConfig("verify", server.baseUrl, "/api/echo_body",
            method = "POST",
            requestTemplate = Some("""{"order":"{{request_id}}","customer":"{{o_custkey}}"}""")),
          // mock echo API is idempotent — allow transparent stale-connection
          // retry of these POSTs (see runPipeline's transport note)
          transport = TransportConfig(retryNonIdempotent = true),
          auth = NoAuth, middleware = Seq(JsonBodyConfig),
          tables = TablesConfig(None,
            SinkTableConfig("e07_post", "graft_verify", mode = "overwrite"), Nil),
          execution = ExecutionConfig(s.sparkContext.defaultParallelism, 100000L, 2,
            math.max(8, 1024 / s.sparkContext.defaultParallelism)))
        PipelineOrchestrator.runPipeline(s, cfg, Some(source), Some("o_orderkey"))
        s.table("graft_verify.e07_post")
          .select(col("request_id"), col("method"), col("status_code"),
            col("success"), col("body_text"))
          .orderBy("request_id")
      } finally server.stop()
    },
      Some("""SELECT o_orderkey::VARCHAR AS request_id, 'POST' AS method,
             |  200 AS status_code, true AS success,
             |  '{"content_type":"application/json","received":{"order":"'||o_orderkey||
             |    '","customer":"'||o_custkey||'"}}' AS body_text
             |FROM orders WHERE o_orderkey % 50 = 0 ORDER BY request_id""".stripMargin)),

    // Silver layer: bronze body_text projected through the endpoint's
    // response_schema (declared-but-dead in the reference, implemented for
    // real) into typed columns; oracle rebuilds them from the source.
    QueryDef("e08_silver_layer",
      (s, d) => {
        val bronze = runPipeline(s, d, "e08_silver", "/api/data", _ => NoAuth,
          Seq(JsonBodyConfig), keyMod = 40)
        graft.orchestration.SilverLayer
          .fromBronze(bronze, "id STRING, customer STRING, status STRING")
          .orderBy("request_id")
      },
      Some("""SELECT o_orderkey::VARCHAR AS request_id, true AS success,
             |  200 AS status_code, o_orderkey::VARCHAR AS id,
             |  o_custkey::VARCHAR AS customer, 'ok' AS status
             |FROM orders WHERE o_orderkey % 40 = 0 ORDER BY request_id""".stripMargin)),

    // Failure rows: always-500 endpoint, retry exhaustion → success=false
    // with the canonical error message; rows still land in bronze.
    QueryDef("e06_pipeline_failure",
      (s, d) => runPipeline(s, d, "e06_fail", "/api/fail", _ => NoAuth,
        Seq(RetryConfig(maxAttempts = 2, baseDelaySeconds = 0.005, maxDelaySeconds = 0.02),
          JsonBodyConfig), keyMod = 100)
        .select(col("request_id"), col("status_code"), col("success"),
          col("attempts"), col("error_message"), col("body_text"))
        .orderBy("request_id"),
      Some("""SELECT o_orderkey::VARCHAR AS request_id, 500 AS status_code, false AS success,
             |  2 AS attempts,
             |  'Retry attempts exhausted (HTTP 500) after 2 attempts' AS error_message,
             |  '{"error":"boom"}' AS body_text
             |FROM orders WHERE o_orderkey % 100 = 0 ORDER BY request_id""".stripMargin)),

    // DataSource V2 read path: the same ingestion capability as
    // spark.read.format("graft-http") — id-range partitions, bounded
    // per-partition concurrency, pruned bronze columns. localCheckpoint
    // materializes eagerly so the mock server can stop before the driver
    // consumes the result.
    QueryDef("e09_dsv2_http",
      (s, d) => {
        val server = new MockApiServer().start()
        try {
          s.read.format("graft-http")
            .option("url", s"${server.baseUrl}/api/data")
            .option("id_start", 1).option("id_end", 2001)
            .option("num_partitions", s.sparkContext.defaultParallelism)
            .option("concurrency", 16)
            .load()
            .select(col("request_id"), urlPath.as("url_path"), col("method"),
              col("status_code"), col("success"), col("attempts"), col("body_text"))
            .orderBy("request_id")
            .transform(graft.operators.ArtifactStore.eagerCheckpoint(_, "e09_read"))
        } finally server.stop()
      },
      Some("""SELECT i::VARCHAR AS request_id, '/api/data' AS url_path, 'GET' AS method,
             |  200 AS status_code, true AS success, 1 AS attempts,
             |  '{"id":"'||i||'","customer":"","status":"ok"}' AS body_text
             |FROM range(1, 2001) t(i) ORDER BY request_id""".stripMargin)),

    // Partitioned bronze sink: PARTITIONED BY (status_code) DDL + two
    // appends with different outcomes (200 vs 404) land in separate
    // partition directories; also pins the Q11 success layering — transport
    // sets success = status<500, json_body only UPGRADES (<400), so a 404
    // stays success=true exactly like the reference (executor.py:58-62,
    // interceptors.py:157-158).
    QueryDef("e10_partitioned_sink", (s, d) => {
      val server = new MockApiServer().start()
      try {
        def cfgFor(path: String, mode: String) = PipelineConfig(
          endpoint = EndpointConfig("verify", server.baseUrl, path),
          auth = NoAuth, middleware = Seq(JsonBodyConfig),
          tables = TablesConfig(None,
            SinkTableConfig("e10_part", "graft_verify", mode = mode,
              partitionBy = Seq("status_code")),
            Seq(ColumnMapping("request_id", Some("id")))),
          execution = ExecutionConfig(s.sparkContext.defaultParallelism, 100000L, 2,
            math.max(8, 512 / s.sparkContext.defaultParallelism)))
        val orders = tbl(s, d, "orders").select("o_orderkey", "o_custkey")
        PipelineOrchestrator.runPipeline(s,
          cfgFor("/api/data", "overwrite"),
          Some(orders.filter(col("o_orderkey") % 20 === 0)), Some("o_orderkey"))
        PipelineOrchestrator.runPipeline(s,
          cfgFor("/api/notfound", "append"),
          Some(orders.filter(col("o_orderkey") % 20 === 10)), Some("o_orderkey"))
        s.table("graft_verify.e10_part")
          .select(col("request_id"), urlPath.as("url_path"),
            col("status_code"), col("success"), col("body_text"))
          .orderBy("request_id")
      } finally server.stop()
    },
      Some("""SELECT o_orderkey::VARCHAR AS request_id, '/api/data' AS url_path,
             |  200 AS status_code, true AS success,
             |  '{"id":"'||o_orderkey||'","customer":"","status":"ok"}' AS body_text
             |FROM orders WHERE o_orderkey % 20 = 0
             |UNION ALL
             |SELECT o_orderkey::VARCHAR, '/api/notfound', 404, true, '{"error":"nope"}'
             |FROM orders WHERE o_orderkey % 20 = 10
             |ORDER BY request_id""".stripMargin)),

    // Bronze → curation bridge: exact dedup over an ingested bronze
    // table's body_text, closing the loop between the parity layer and the
    // training-data layer. The pipeline injects ONLY the customer as a
    // request param, so orders sharing a customer receive byte-identical
    // API bodies — real duplicate clusters in bronze (the content the
    // row_hash column anticipates, ref: src/core/bronze.py:24-30).
    // Dedup.exact groups them in one hash-groupBy shuffle; keeper =
    // lexicographic min request_id (request_id is a string column).
    QueryDef("x33_dedup_bronze", (s, d) => {
      val server = new MockApiServer().start()
      try {
        val source = tbl(s, d, "orders").filter(col("o_orderkey") % 25 === 0)
          .select("o_orderkey", "o_custkey")
        val cfg = PipelineConfig(
          endpoint = EndpointConfig("verify", server.baseUrl, "/api/data"),
          auth = NoAuth, middleware = Seq(JsonBodyConfig),
          tables = TablesConfig(None,
            SinkTableConfig("x33_bronze", "graft_verify", mode = "overwrite"),
            Seq(ColumnMapping("o_custkey", Some("customer")))),
          execution = ExecutionConfig(s.sparkContext.defaultParallelism, 100000L, 2,
            math.max(8, 1024 / s.sparkContext.defaultParallelism)))
        PipelineOrchestrator.runPipeline(s, cfg, Some(source), Some("o_orderkey"))
        graft.operators.Dedup.exact(s.table("graft_verify.x33_bronze"),
          "request_id", "body_text")
          .orderBy("content_hash")
      } finally server.stop()
    },
      Some("""WITH b AS (SELECT o_orderkey::VARCHAR AS request_id,
             |    '{"id":"","customer":"'||o_custkey||'","status":"ok"}' AS body_text
             |  FROM orders WHERE o_orderkey % 25 = 0)
             |SELECT md5(body_text) AS content_hash, min(request_id) AS keeper_id,
             |  count(*) AS dup_count
             |FROM b GROUP BY 1 ORDER BY content_hash""".stripMargin))
  )
}
