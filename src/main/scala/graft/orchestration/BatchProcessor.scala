package graft.orchestration

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoders, Observation, SparkSession}
import org.apache.spark.sql.catalyst.catalog.{CatalogTable, CatalogTablePartition}
import org.apache.spark.sql.execution.datasources.PartitioningUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.DriverThread
import org.apache.spark.storage.StorageLevel

import graft.config.{ExecutionConfig, PipelineConfig}
import graft.exec.{PartitionExecutor, WorkerResources}
import graft.model.BronzeSchema
import graft.operators.ArtifactStore

/** One batch through the API stage: mapPartitions → append to sink.
  * Ref: src/orchestration/batch_handler.py:21-47. Unlike the reference's
  * RDD hop (`rdd.mapPartitions` + `createDataFrame(rdd, schema)`), the
  * Dataset-level `mapPartitions` with an explicit Row encoder keeps the
  * bronze schema end-to-end and stays inside the same physical plan.
  *
  * Two-batch window. `process(batch k)` starts batch k's request+write job
  * on a driver thread ([[org.apache.spark.sql.graft.DriverThread]]), then
  * waits for batch k−1, publishes it, and returns. Batch k's requests thus
  * fill the slots that batch k−1's last tasks, its commit and the driver's
  * planning would leave idle, while at most two batch jobs (and two
  * batches' rows, the memory guardrail batch sizing exists for) are in
  * flight. The last batch stays pending until [[BatchHandler.settle]];
  * [[BatchProcessor]] settles before each anti-join and before it returns
  * or throws.
  *
  * Staging. A parquet batch writes into its own directory
  * `<sink location>/_graft_staging/<uuid>`, which every reader skips (a
  * `_` prefix). Two concurrent `insertInto` calls would share
  * FileOutputCommitter's `<location>/_temporary/0`, and either job's
  * commit deletes it. Batches are published one at a time, in order: the
  * staged files move into the location (partition directories included),
  * a PARTITIONED BY sink registers the partitions that received files, and
  * the table is refreshed. A batch that never publishes (a crash) leaves
  * only staged files; its rows are not in the sink, so the next anti-join
  * sends them again, and the next run deletes the leftover staging root
  * before its first batch. A Delta sink commits its own appends: its job
  * inserts directly.
  *
  * Single writer. One run writes to a sink at a time, as the sink-as-
  * checkpoint anti-join already requires: the pending batch is kept per
  * sink identifier, and a run deletes the sink's staging root.
  *
  * Request cap. The handler's tasks share one lease pool of
  * `num_partitions` permits ([[WorkerResources.holdLease]]): a task holds
  * one from its first request until it completes. Within one JVM, in-flight
  * requests stay within `num_partitions × max_concurrent_requests` however
  * many task slots the session has. Each executor JVM keeps its own pool,
  * so on a cluster the bound is at most 2 × `num_partitions` ×
  * `max_concurrent_requests`, reached only when two batches' tasks land on
  * different executors.
  */
final class BatchHandler(cfg: PipelineConfig, rpcUrl: Option[String], sinkIdentifier: String,
    format: String) {
  /** Names this handler's lease pool. */
  private val run = UUID.randomUUID().toString
  private var first = true

  def process(batchDf: DataFrame): Unit = {
    val spark = batchDf.sparkSession
    val bronze = batchDf.mapPartitions(PartitionExecutor.makeFn(cfg, rpcUrl, Some(run)))(
      Encoders.row(BronzeSchema.schema))
    // Sink mode is handled at table-create time (overwrite = CREATE OR
    // REPLACE); per-batch writes are always appends (batch_handler.py:47).
    val next =
      if (format.equalsIgnoreCase("parquet")) {
        val table = spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(sinkIdentifier))
        val location = new Path(table.location)
        val fs = location.getFileSystem(spark.sessionState.newHadoopConf())
        val root = new Path(location, BatchHandler.stagingRoot)
        if (first) fs.delete(root, true)
        val staging = new Path(root, UUID.randomUUID().toString)
        // the table's column order (a partitioned table's catalog schema
        // moves partition columns last) and types, as insertInto would
        val aligned = bronze.select(table.schema.fields.toSeq.map(f => col(f.name).cast(f.dataType)): _*)
        new BatchHandler.Batch(spark, sinkIdentifier, run, DriverThread.start(spark, "graft-batch") {
          aligned.write.partitionBy(table.partitionColumnNames: _*).parquet(staging.toString)
        }, Some((table, fs, staging)))
      } else {
        // insertInto matches by POSITION: align to the table's own order
        val tableOrder = spark.table(sinkIdentifier).schema.fieldNames.toSeq
        val aligned = bronze.select(tableOrder.map(col): _*)
        new BatchHandler.Batch(spark, sinkIdentifier, run, DriverThread.start(spark, "graft-batch") {
          aligned.write.format(format.toLowerCase).mode("append").insertInto(sinkIdentifier)
        }, None)
      }
    first = false
    Option(BatchHandler.pending.put(sinkIdentifier, next)).foreach(_.publish())
  }
}

object BatchHandler {
  /** Parent of a parquet sink's per-batch staging directories. */
  val stagingRoot = "_graft_staging"

  /** Test-only crash injection: 1 = every publish throws after its batch's
    * staged write, before any file moves. Specs reset it in a finally. */
  @volatile private[graft] var testCrashPoint: Int = 0

  private val pending = new ConcurrentHashMap[String, Batch]()

  /** Publish the sink's pending batch, if any: wait for its job, then make
    * its rows visible. Rethrows the job's or the publish's failure. */
  def settle(sinkIdentifier: String): Unit = Option(pending.remove(sinkIdentifier)).foreach { last =>
    try { last.publish(); last.dropStagingRoot() }
    finally WorkerResources.dropLeases(last.run)
  }

  /** A started batch job and, for a parquet sink, where it stages. */
  private final class Batch(spark: SparkSession, sinkIdentifier: String, val run: String,
      job: DriverThread[Unit], staged: Option[(CatalogTable, FileSystem, Path)]) {

    def publish(): Unit = {
      job.join()
      staged.foreach { case (table, fs, dir) =>
        if (testCrashPoint == 1)
          throw new IllegalStateException(s"testCrashPoint=1: crash before publishing $dir")
        val partitions = moveInto(fs, dir, new Path(table.location), "")
        fs.delete(dir, true)
        if (partitions.nonEmpty && table.tracksPartitionsInCatalog)
          spark.sessionState.catalog.createPartitions(table.identifier,
            partitions.map(p => CatalogTablePartition(PartitioningUtils.parsePathFragment(p),
              table.storage.copy(locationUri = None))),
            ignoreIfExists = true)
        spark.catalog.refreshTable(sinkIdentifier)
      }
    }

    def dropStagingRoot(): Unit = staged.foreach { case (_, fs, dir) => fs.delete(dir.getParent, true) }

    /** Move the data files under `from` to the same relative paths under
      * `to`; returns the relative partition directories that received
      * files. What readers skip (`_SUCCESS`, `_temporary`, `.` names)
      * stays behind. */
    private def moveInto(fs: FileSystem, from: Path, to: Path, rel: String): Seq[String] =
      fs.listStatus(from).toSeq.flatMap { st =>
        val name = st.getPath.getName
        val target = new Path(to, name)
        if ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".")) Nil
        else if (st.isDirectory) {
          fs.mkdirs(target)
          moveInto(fs, st.getPath, target, rel + name + "/")
        } else {
          if (!fs.rename(st.getPath, target))
            throw new java.io.IOException(s"could not move ${st.getPath} to $target")
          if (rel.isEmpty) Nil else Seq(rel.stripSuffix("/"))
        }
      }.distinct
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
  * The handler is called one batch at a time, on the caller's thread (the
  * overlap of two batches lives inside [[BatchHandler]]). The sink's pending
  * batch is settled ([[BatchHandler.settle]]) before each anti-join and
  * before `process` returns or throws; its publish failing counts as a
  * failed batch. An attempt whose every batch committed without an
  * exception ends the loop: `PartitionExecutor` lands failed requests as
  * `success = false` rows, so each input row has exactly one bronze row and
  * the next anti-join would be empty. A handler must keep that contract:
  * land every row it is given, or throw.
  *
  * Null ids are counted by the checkpoint's `Observation` (no extra job),
  * reported once as a `[Pipeline] WARN`, and left out of the batches: a
  * null id can never match the anti-join, so it would be sent on every
  * attempt and every later run.
  *
  * The remaining set is materialized ONCE per attempt, by an eager
  * checkpoint to disk (`ArtifactStore.eagerCheckpoint`, its jobs labelled
  * `g:ingest_remaining`), and every batch filters that checkpoint (the
  * reference re-runs the anti-join per batch, batch_processor.py:56-57,76-81).
  * It is not `persist`ed: its plan reads the sink, and every sink append
  * makes Spark's CacheManager re-cache plans over the sink, so the next
  * batch would re-run the anti-join and the repartition shuffle against a
  * grown sink. A checkpoint is an RDD outside the CacheManager, so appends
  * cannot invalidate it. In the default (local) checkpoint mode its blocks
  * are not recomputable: a lost block fails the batch that reads it, and
  * the next attempt's anti-join resumes from the sink. `ArtifactStore.release` frees it when the attempt ends.
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
      BatchHandler.settle(sinkIdentifier)
      // the row counts ride the checkpoint job instead of costing their own
      val rows = Observation()
      val staged = remaining().repartition(exec.numPartitions)
        .observe(rows, count(lit(1)).as("n"), count(when(col("request_id").isNull, 1)).as("nulls"))
        .where(col("request_id").isNotNull)
        .transform(ArtifactStore.eagerCheckpoint(_, "ingest_remaining", StorageLevel.DISK_ONLY))
      try {
        def observed(k: String) = Option(rows.get(k)).fold(0L)(_.asInstanceOf[Long])
        val nulls = observed("nulls")
        if (nulls > 0 && attempt == 1)
          System.err.println(s"[Pipeline] WARN $nulls source rows have a null id and are not sent")
        val total = observed("n") - nulls
        if (total == 0L) done = true
        else {
          val numBatches = math.max(1L, (total + exec.batchSize - 1) / exec.batchSize)
          var failed = false
          def step(body: => Unit): Unit =
            try body
            catch {
              case e: Exception if attempt < exec.maxAttempts =>
                failed = true
                System.err.println(s"[BatchProcessor] attempt $attempt: batch failed: ${e.getMessage}")
            }
          // The reference enumerates ids with distinct().collect()
          // (batch_processor.py:79-81) — a full extra scan of the remaining
          // set per attempt. pmod already bounds ids to [0, numBatches), so
          // iterate the range directly; a hash-empty batch is a no-op write.
          (0L until numBatches).foreach { id =>
            step(handler(staged.filter(BatchProcessor.batchId(col("request_id"), numBatches) === id)))
          }
          // the last batch reads this attempt's checkpoint: settle it first
          step(BatchHandler.settle(sinkIdentifier))
          done = !failed
          attempt += 1
        }
      } catch {
        case e: Throwable =>
          try BatchHandler.settle(sinkIdentifier) catch { case s: Throwable => e.addSuppressed(s) }
          throw e
      } finally ArtifactStore.release(staged)
    }
  }
}
