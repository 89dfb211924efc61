package graft

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.matchers.should.Matchers

import graft.config._
import graft.exec.{PartitionExecutor, RequestWindow}
import graft.model.BronzeSchema
import graft.orchestration.PipelineOrchestrator
import graft.testkit.MockApiServer

/** The request window every HTTP path shares: completion order (a slow
  * request does not hold its finished neighbours) and the bounded wait (a
  * request whose future never completes fails the task at its deadline).
  */
class RequestWindowSpec extends SparkSpec with Matchers with BeforeAndAfterAll {
  private val server = new MockApiServer
  override def beforeAll(): Unit = server.start()
  override def afterAll(): Unit = server.stop()

  private def config(path: String, concurrency: Int, timeoutSeconds: Double = 10,
      sink: String = "window_unused") =
    PipelineConfig(
      endpoint = EndpointConfig("test", server.baseUrl, path),
      transport = TransportConfig(baseTimeoutSeconds = timeoutSeconds, warmupTimeoutSeconds = 5),
      tables = TablesConfig(None, SinkTableConfig(sink, "demo", mode = "overwrite"),
        Seq(ColumnMapping("request_id", Some("id")))),
      execution = ExecutionConfig(numPartitions = 1, batchSize = 1000, maxAttempts = 1,
        maxConcurrentRequests = concurrency))

  private val idSchema = StructType(Seq(StructField("request_id", StringType)))
  private def idRows(ids: Seq[String]): Iterator[Row] =
    ids.iterator.map(id => new GenericRowWithSchema(Array[Any](id), idSchema): Row)

  test("a slow request at the head of each round does not hold its finished neighbours") {
    val slowMs = 600
    // concurrency 4, 16 rows: the first id of every submission round is
    // slow. A submission-order window waits out each one in turn
    // (≈ 4 × slowMs); a completion-order window overlaps them (≈ slowMs).
    val ids = (0 until 16).map(k => if (k % 4 == 0) s"$slowMs-$k" else s"0-$k")
    val fn = PartitionExecutor.makeFn(config("/api/delay", concurrency = 4), None)
    fn(idRows(Seq("0-warm"))).size
    val t0 = System.nanoTime()
    val idIndex = BronzeSchema.schema.fieldIndex("request_id")
    val out = fn(idRows(ids)).map(_.getString(idIndex)).toVector
    val wallMs = (System.nanoTime() - t0) / 1e6
    info(f"partition wall $wallMs%.0f ms for 4 slow rows of $slowMs ms each")
    // a permutation of the input: every request_id exactly once
    out.sorted shouldBe ids.sorted
    // completion order: the 9 fast rows submitted beside the slow ones come
    // out first; the last 3 only get a slot once the first slow one is done
    all(out.take(9)) should startWith("0-")
    wallMs should be < 2.5 * slowMs
  }

  test("the deadline is every retry attempt at the transport timeout plus the backoff cap") {
    RequestWindow.deadline(30, Nil) shouldBe 30.seconds
    // default retry: 10 attempts; backoff min(2, 0.1 × 2^a) for a = 1..9
    // is 0.2 + 0.4 + 0.8 + 1.6 + 5 × 2 = 13 s
    RequestWindow.deadline(30, Seq(RetryConfig())).toMillis shouldBe 313000L
  }

  test("a response that never completes fails the pipeline at its deadline, naming the request") {
    val cfg = config("/api/hang", concurrency = 2, timeoutSeconds = 1, sink = "window_hang")
    val deadline = RequestWindow.deadline(cfg.transport.baseTimeoutSeconds, Nil)
    val source = spark.range(1).selectExpr("CAST(id + 42 AS STRING) AS request_id")
    // the same pipeline against a route that answers, so the timed run
    // below pays no first-run set-up
    PipelineOrchestrator.runPipeline(spark,
      cfg.copy(endpoint = cfg.endpoint.copy(urlPath = "/api/data")), Some(source), Some("request_id"))
    val t0 = System.nanoTime()
    val run = Future(PipelineOrchestrator.runPipeline(spark, cfg, Some(source), Some("request_id")))(
      ExecutionContext.global)
    // a window without a deadline never returns: bound the wait here so
    // such a run fails this test instead of hanging the suite
    try Await.ready(run, deadline + 60.seconds)
    finally spark.sparkContext.cancelAllJobs()
    val elapsed = (System.nanoTime() - t0).nanos
    val err = run.value.get.failed.get
    val chain = Iterator.iterate(err)(_.getCause).takeWhile(_ != null).map(_.toString).mkString("\n")
    info(s"failed after ${elapsed.toMillis} ms (deadline ${deadline.toMillis} ms)")
    chain should include("RequestDeadlineExceeded")
    chain should include("request '42'")
    elapsed should be >= deadline
    elapsed should be < deadline + 5.seconds
  }
}
