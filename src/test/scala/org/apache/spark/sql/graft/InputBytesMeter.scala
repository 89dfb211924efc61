package org.apache.spark.sql.graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Task-level input meter for the read-pruning specs: sums
  * `taskMetrics.inputMetrics` (datasource/file reads — shuffle and
  * block-manager traffic excluded) across every task that completes
  * while `body` runs. Lives in a child package of `org.apache.spark`
  * because draining the listener bus before reading the counters
  * (`listenerBus.waitUntilEmpty`) is `private[spark]` — without the
  * drain, late task-end events would race the read and the spec would
  * under-count nondeterministically.
  */
object InputBytesMeter {

  /** (result, bytesRead, recordsRead). CAVEAT measured in-repo: on a
    * LOCAL filesystem the vectorized parquet reader's `bytesRead`
    * captures footer/metadata I/O but not the column-chunk payload (a
    * full aggregate over a 3.4 MB store registered 387 KB), so bytesRead
    * there tracks FILE COUNT more than data volume. `recordsRead` is
    * exact — the honest proxy for "how much of the store did this read
    * touch" on local runs; on HDFS/object stores bytesRead is the real
    * number.
    */
  def measureIO[T](sc: SparkContext)(body: => T): (T, Long, Long) = {
    val bytes = new AtomicLong(0L)
    val records = new AtomicLong(0L)
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          bytes.addAndGet(m.inputMetrics.bytesRead)
          records.addAndGet(m.inputMetrics.recordsRead)
          ()
        }
      }
    }
    sc.addSparkListener(listener)
    try {
      val result = body
      sc.listenerBus.waitUntilEmpty()
      (result, bytes.get(), records.get())
    } finally sc.removeSparkListener(listener)
  }
}
