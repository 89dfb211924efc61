package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.scalatest.BeforeAndAfterAll
import org.scalatest.matchers.should.Matchers

import graft.config._
import graft.orchestration.{BatchHandler, BatchProcessor, PipelineOrchestrator, TableManager}
import graft.testkit.MockApiServer

/** Spark-job budget and cache hygiene for the batch ingest loop. The
  * remaining set is materialized once per attempt and every batch filters
  * it, so a batch is one job. A `persist`ed remaining set would be
  * re-cached by every sink append, re-running the anti-join and the
  * repartition shuffle on each batch. An attempt that commits every batch
  * is the last one.
  */
class IngestJobBudgetSpec extends SparkSpec with Matchers with BeforeAndAfterAll {
  private val server = new MockApiServer
  override def beforeAll(): Unit = server.start()
  override def afterAll(): Unit = server.stop()

  // 200 rows in batches of 50: 4 batches on attempt 1, which commits
  // cleanly and so is the only attempt
  private def config(sink: String) = PipelineConfig(
    endpoint = EndpointConfig("test", server.baseUrl, "/api/data"),
    transport = TransportConfig(baseTimeoutSeconds = 10, warmupTimeoutSeconds = 5),
    middleware = Seq(JsonBodyConfig),
    tables = TablesConfig(None, SinkTableConfig(sink, "demo", mode = "overwrite"),
      Seq(ColumnMapping("request_id", Some("id")))),
    execution = ExecutionConfig(numPartitions = 4, batchSize = 50, maxAttempts = 3,
      maxConcurrentRequests = 8))

  private lazy val source = spark.read.parquet(s"$sfDir/orders.parquet").limit(200)
    .select("o_orderkey", "o_custkey")

  test("a 4-batch ingest runs one Spark job per batch plus a fixed count per attempt") {
    // warm pass first (uncaptured): the first run pays one-time engine and
    // schema set-up that is not the per-batch cost pinned here
    PipelineOrchestrator.runPipeline(spark, config("budget_warm"), Some(source), Some("o_orderkey"))
    val rec = new Probe.JobRecorder
    spark.sparkContext.addSparkListener(rec)
    try {
      rec.capture = true
      PipelineOrchestrator.runPipeline(spark, config("budget_ingest"), Some(source), Some("o_orderkey"))
      rec.capture = false
      // let trailing listener events drain before reading the recorder
      Thread.sleep(500)
      spark.table("demo.budget_ingest").count() shouldBe 200
      val jobs = rec.jobs
      jobs.groupBy(_._1).foreach { case (site, js) => info(s"${js.size} × $site") }
      info(s"ingest ran ${jobs.size} Spark jobs")
      // measured on 4 cores: 8 = 4 batch writes + 1 attempt × 4 (the
      // checkpoint, its AQE stage jobs for the anti-join and the
      // repartition). A clean attempt ends the loop: there is no closing
      // attempt to find the remaining set empty. The pin allows one more
      // job per attempt; a batch that re-runs the anti-join costs several,
      // and a closing attempt costs another 4.
      val (batches, attempts, perAttempt) = (4, 1, 5)
      jobs.size should be <= batches + attempts * perAttempt
      // the per-attempt jobs run under the checkpoint's label; the batch
      // writes, started after it is restored, do not
      val labelled = jobs.count(_._1 == "g:ingest_remaining")
      labelled should (be >= 1 and be <= attempts * perAttempt)
      jobs.size - labelled shouldBe batches
    } finally spark.sparkContext.removeSparkListener(rec)
  }

  test("each attempt's checkpoint is released and no plan over the sink is cached") {
    val cfg = config("budget_cache")
    val sink = cfg.tables.sink.identifier
    val tables = new TableManager(spark)
    tables.createTable(cfg.tables.sink)
    val src = PipelineOrchestrator.prepareSource(cfg, source, "o_orderkey")
    val processor = new BatchProcessor(spark, src, sink, cfg.execution)
    // plans over the sink that the CacheManager would answer from memory
    def cachedOverSink(): Int =
      Seq(processor.remaining(), spark.table(sink)).map(_.queryExecution.withCachedData
        .collect { case r: InMemoryRelation => r }.size).sum
    // count only the persisted RDDs `process` creates: the context cleaner
    // unpersists any persisted RDD that has become garbage whenever a GC
    // runs, so a raw count moves by RDDs this spec did not make. Every job
    // start holds the RDDs then persisted, so an unreleased one cannot be
    // cleaned away before it is counted (RankLayoutSpec's release spec).
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    def created(): Int = (sc.getPersistentRDDs.keySet -- before).size
    val held = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]()
    val hold = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { held.add(sc.getPersistentRDDs); () }
    }
    val during = Seq.newBuilder[(Int, Int)]
    val handler = new BatchHandler(cfg, None, sink, tables.format)
    sc.addSparkListener(hold)
    try processor.process { df =>
      during += ((created(), cachedOverSink()))
      handler.process(df)
    } finally sc.removeSparkListener(hold)
    spark.table(sink).count() shouldBe 200
    // while the batches run, the remaining set is one checkpointed RDD and
    // nothing in the CacheManager, where sink appends would re-cache it
    during.result() should have size 4
    all(during.result()) shouldBe ((1, 0))
    // and the attempt releases it
    created() shouldBe 0
    cachedOverSink() shouldBe 0
    spark.catalog.isCached(sink) shouldBe false
  }
}
