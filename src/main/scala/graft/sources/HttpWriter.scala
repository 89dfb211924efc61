package graft.sources

import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.ExecutionContext

import org.apache.spark.internal.Logging
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.Row
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType

import graft.config.TransportConfig
import graft.exec.{RequestWindow, WorkerResources}
import graft.model.TransportRequest
import graft.util.Json

/** Write-side of the `graft-http` source ("reverse ETL"): each input row
  * is POSTed to the configured endpoint as a JSON object keyed by the
  * DataFrame's column names. The same [[RequestWindow]] as the read path
  * keeps at most `concurrency` requests in flight per task, so
  * cluster-wide load ≈ partitions × concurrency.
  *
  * Delivery contract: AT-LEAST-ONCE. A failed/retried Spark task re-sends
  * its partition; make the remote endpoint idempotent (e.g. key on a row
  * id) exactly as the reference requires of its sinks. Transport failures
  * never throw (never-throw engine contract) — they are counted and, when
  * `fail_on_errors=true` (default), surfaced at task commit, failing the
  * job with the count rather than a mid-flight exception.
  */
final class HttpWrite(url: String, method: String, headers: Map[String, String],
    concurrency: Int, timeoutSeconds: Double, failOnErrors: Boolean,
    schema: StructType, requestTemplate: Option[String] = None)
    extends Write with BatchWrite with Serializable with Logging {
  require(concurrency > 0, s"graft-http write: concurrency must be > 0, got $concurrency")

  override def toBatch: BatchWrite = this
  override def description(): String = s"graft-http write $method $url"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new HttpWriterFactory(url, method, headers, concurrency, timeoutSeconds,
      failOnErrors, schema, requestTemplate)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val (sent, failed) = messages.foldLeft((0L, 0L)) {
      case ((s, f), HttpWriteCommit(ts, tf)) => (s + ts, f + tf)
      case (acc, _) => acc
    }
    logInfo(s"graft-http write committed: sent=$sent failed=$failed url=$url")
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private final case class HttpWriteCommit(sent: Long, failed: Long)
    extends WriterCommitMessage

private final class HttpWriterFactory(url: String, method: String,
    headers: Map[String, String], concurrency: Int, timeoutSeconds: Double,
    failOnErrors: Boolean, schema: StructType, requestTemplate: Option[String])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new HttpDataWriter(url, method, headers, concurrency, timeoutSeconds,
      failOnErrors, schema, requestTemplate)
}

private final class HttpDataWriter(url: String, method: String,
    headers: Map[String, String], concurrency: Int, timeoutSeconds: Double,
    failOnErrors: Boolean, schema: StructType, requestTemplate: Option[String])
    extends DataWriter[InternalRow] {

  private implicit val ec: ExecutionContext = WorkerResources.executionContext
  private val engine = WorkerResources.engine(
    TransportConfig(baseTimeoutSeconds = timeoutSeconds), url)
  private val toScala = CatalystTypeConverters.createToScalaConverter(schema)
  private val fieldNames = schema.fieldNames
  private val sent = new AtomicLong(0)
  private val failed = new AtomicLong(0)
  private val window =
    new RequestWindow[Unit](concurrency, RequestWindow.deadline(timeoutSeconds, Nil))
  private var rowIndex = 0L

  override def write(record: InternalRow): Unit = {
    // bounded window: once full, wait for whichever request finishes first
    if (window.isFull) window.take()
    val row = toScala(record.copy()).asInstanceOf[Row]
    val values: Map[String, Any] = fieldNames.zipWithIndex.map { case (n, i) =>
      n -> (row.get(i) match {
        case null => null
        case v: java.sql.Timestamp => v.toString
        case v: java.sql.Date => v.toString
        case v => v
      })
    }.toMap
    // request_template: {{column}} substitution (same grammar as the
    // orchestration path, quirk Q13); default = whole row as a JSON object
    val body = requestTemplate match {
      case Some(t) => graft.exec.PartitionExecutor.renderTemplate(
        t, values.map { case (k, v) => k -> String.valueOf(v) })
      case None => Json.write(values)
    }
    val fut = engine.send(TransportRequest(url, method,
        headers ++ Map("Content-Type" -> "application/json"),
        Map.empty, Some(body), timeoutSeconds))
      .map { resp =>
        sent.incrementAndGet()
        if (resp.error.isDefined || resp.status.forall(_ >= 400)) failed.incrementAndGet()
        ()
      }
    window.submit(s"write row $rowIndex", fut)
    rowIndex += 1
  }

  override def commit(): WriterCommitMessage = {
    while (window.nonEmpty) window.take()
    if (failOnErrors && failed.get() > 0)
      throw new java.io.IOException(
        s"graft-http write: ${failed.get()} of ${sent.get()} requests failed against $url")
    HttpWriteCommit(sent.get(), failed.get())
  }
  override def abort(): Unit = ()
  override def close(): Unit = ()
}
