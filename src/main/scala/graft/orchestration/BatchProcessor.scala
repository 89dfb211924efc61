package graft.orchestration

import org.apache.spark.sql.{DataFrame, Encoders, Observation, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.config.{ExecutionConfig, PipelineConfig}
import graft.exec.PartitionExecutor
import graft.model.BronzeSchema

/** One batch through the API stage: mapPartitions → append to sink.
  * Ref: src/orchestration/batch_handler.py:21-47. Unlike the reference's
  * RDD hop (`rdd.mapPartitions` + `createDataFrame(rdd, schema)`), the
  * Dataset-level `mapPartitions` with an explicit Row encoder keeps the
  * bronze schema end-to-end and stays inside the same physical plan.
  */
final class BatchHandler(cfg: PipelineConfig, rpcUrl: Option[String], sinkIdentifier: String,
    format: String) {
  def process(batchDf: DataFrame): Unit = {
    val fn = PartitionExecutor.makeFn(cfg, rpcUrl)
    val bronze = batchDf.mapPartitions(fn)(Encoders.row(BronzeSchema.schema))
    // Sink mode is handled at table-create time (overwrite = CREATE OR
    // REPLACE); per-batch writes are always appends (batch_handler.py:47).
    // insertInto matches by POSITION, and a partitioned table's catalog
    // schema moves partition columns last — align to the table's own
    // column order so PARTITIONED BY sinks don't mis-bind columns.
    val tableOrder = batchDf.sparkSession.table(sinkIdentifier).schema.fieldNames
    bronze.select(tableOrder.map(col(_)).toSeq: _*)
      .write.format(format.toLowerCase).mode("append").insertInto(sinkIdentifier)
  }
}

/** Driver-side idempotent batch loop. Ref: src/orchestration/batch_processor.py.
  *
  * Per attempt (1..maxAttempts): remaining = source ⟕anti sink on request_id
  * (completed rows live in the sink — the sink IS the checkpoint); empty →
  * done; repartition to spread the slow HTTP stage (docstring
  * batch_processor.py:10-17: prevents AQE from collapsing the small batch
  * into too few partitions); batch k = the rows whose
  * `pmod(hash(request_id), numBatches)` is k (pmod fixes quirk Q8's negative
  * ids); hand each batch to the handler. Failures are logged and re-raised
  * only on the final attempt (batch_processor.py:87-96).
  *
  * The remaining set is materialized ONCE per attempt, by an eager
  * `localCheckpoint` to disk, and every batch filters that checkpoint (the
  * reference re-runs the anti-join per batch, batch_processor.py:56-57,76-81).
  * It is not `persist`ed: its plan reads the sink, and every sink append
  * makes Spark's CacheManager re-cache plans over the sink, so the next
  * batch would re-run the anti-join and the repartition shuffle against a
  * grown sink. A checkpoint is an RDD outside the CacheManager, so appends
  * cannot invalidate it. Its blocks are not recomputable: a lost block
  * fails the batch that reads it, and the next attempt's anti-join resumes
  * from the sink. The blocks are released when the attempt ends.
  *
  * Scale notes (100 TB): the anti-join shuffles source+sink on request_id —
  * Catalyst/AQE picks broadcast when the remaining side shrinks below the
  * threshold, and only `request_id` is projected from the sink before the
  * join, so the shuffle carries one column, not 15. Batch sizing bounds the
  * rows in flight per Spark job (memory guardrail, docs/architecture.md:28-35).
  * DISK_ONLY: the remaining set can be near-source-sized on attempt 1 and
  * must not evict executor heap.
  */
object BatchProcessor {
  import org.apache.spark.sql.Column

  /** Default batch assignment: murmur3 `hash()` — same function family the
    * reference's PySpark `hash()` uses (batch_processor.py:65-70), pmod for
    * quirk Q8's negative ids. */
  def batchId(requestId: Column, numBatches: Long): Column =
    pmod(hash(requestId), lit(numBatches))

  /** Portable batch assignment: first 56 bits of md5, reproducible outside
    * the JVM (DuckDB twin: `('0x'||substr(md5(s),1,14))::BIGINT % n`). Same
    * operator semantics, engine-checkable assignment — used by the p07
    * oracle and available for cross-engine reconciliation jobs. */
  def portableBatchId(requestId: Column, numBatches: Long): Column =
    pmod(conv(substring(md5(requestId.cast("string")), 1, 14), 16, 10).cast("long"),
      lit(numBatches))
}

final class BatchProcessor(
    spark: SparkSession,
    source: DataFrame,
    sinkIdentifier: String,
    exec: ExecutionConfig) {

  def remaining(): DataFrame =
    source.join(
      spark.table(sinkIdentifier).select("request_id"),
      Seq("request_id"), "left_anti")

  def process(handler: DataFrame => Unit): Unit = {
    var attempt = 1
    var done = false
    while (attempt <= exec.maxAttempts && !done) {
      // the row count rides the checkpoint job instead of costing its own
      val rows = Observation()
      val staged = remaining().repartition(exec.numPartitions)
        .observe(rows, count(lit(1)).as("n"))
        .localCheckpoint(eager = true, StorageLevel.DISK_ONLY)
      try {
        val total = Option(rows.get("n")).fold(0L)(_.asInstanceOf[Long])
        if (total == 0L) done = true
        else {
          val numBatches = math.max(1L, (total + exec.batchSize - 1) / exec.batchSize)
          // The reference enumerates ids with distinct().collect()
          // (batch_processor.py:79-81) — a full extra scan of the remaining
          // set per attempt. pmod already bounds ids to [0, numBatches), so
          // iterate the range directly; a hash-empty batch is a no-op write.
          (0L until numBatches).foreach { id =>
            try handler(staged.filter(BatchProcessor.batchId(col("request_id"), numBatches) === id))
            catch {
              case e: Exception if attempt < exec.maxAttempts =>
                System.err.println(s"[BatchProcessor] batch $id failed on attempt $attempt: ${e.getMessage}")
              case e: Exception => throw e
            }
          }
          attempt += 1
        }
      } finally checkpointedRdd(staged).unpersist(blocking = false)
    }
  }

  /** The RDD that holds a local checkpoint's blocks. `staged.rdd` would be a
    * fresh wrapper over it, whose unpersist frees nothing. */
  private def checkpointedRdd(staged: DataFrame) =
    staged.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }.get
}
