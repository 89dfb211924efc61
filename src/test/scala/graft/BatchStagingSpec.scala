package graft

import org.scalatest.matchers.should.Matchers

import graft.config.ExecutionConfig
import graft.orchestration.BatchProcessor

/** Proves the per-attempt staging in BatchProcessor.process: the source is
  * computed ONCE per attempt (the remaining set's checkpoint), not once per
  * batch. Without that staging, every batch's action re-executes the full
  * source∖sink anti-join — the reference's flaw
  * (ref: src/orchestration/batch_processor.py:56-57,76-81) that becomes a
  * scale-killer at 100 TB. The accumulator fires once per source row
  * computed, so recomputes are directly observable.
  */
class BatchStagingSpec extends SparkSpec with Matchers {

  test("staging: source computed once per attempt, not once per batch") {
    import spark.implicits._
    val acc = spark.sparkContext.longAccumulator("graft.sourceRowsComputed")
    val src = spark.range(0, 400, 1, 4)
      .map { i => acc.add(1); f"id_$i%04d" }
      .toDF("request_id")

    spark.sql("CREATE DATABASE IF NOT EXISTS demo")
    spark.sql("DROP TABLE IF EXISTS demo.stage_probe_sink")
    Seq.empty[String].toDF("request_id").write.saveAsTable("demo.stage_probe_sink")

    val exec = ExecutionConfig(
      numPartitions = 4, batchSize = 100, maxAttempts = 1, maxConcurrentRequests = 4)
    val bp = new BatchProcessor(spark, src, "demo.stage_probe_sink", exec)

    var batches = 0
    bp.process { df => batches += 1; df.count(); () }

    batches shouldBe 4 // 400 rows / batchSize 100
    // One full source computation for the whole attempt (the eager
    // checkpoint of the remaining set). Un-staged, this would be ~2000:
    // 400 (count) + 4 batches × 400 (anti-join recompute per action).
    acc.value.longValue shouldBe 400L
  }
}
