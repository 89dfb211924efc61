package org.apache.spark.sql.graft

import java.util.concurrent.{CompletableFuture, ExecutionException, Executors}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.SQLExecution

/** Spark work on a driver thread of its own. `SQLExecution.withThreadLocalCaptured`
  * carries the caller's thread-local state onto the new thread: the active
  * session, the SparkContext local properties (execution id, job group and
  * description, streaming query id) and the job artifact state. A plain
  * `Future` would lose them, so a job started inside `foreachBatch` or under
  * a `g:<phase>` description would run unattributed, outside its parent
  * execution. This is the one way graft code submits Spark work from a
  * thread it starts.
  */
object DriverThread {

  /** Start `body` on a new daemon thread named `name`. The thread ends with
    * the body; `join` waits for both. */
  def start[T](spark: SparkSession, name: String)(body: => T): DriverThread[T] = {
    var thread: Thread = null
    val pool = Executors.newSingleThreadExecutor { r =>
      thread = new Thread(r, name); thread.setDaemon(true); thread
    }
    // the pool makes its one thread on this submit, before it returns
    try new DriverThread(
      SQLExecution.withThreadLocalCaptured(spark.asInstanceOf[classic.SparkSession], pool)(body), thread)
    finally pool.shutdown() // the submitted body still runs; the thread ends with it
  }
}

final class DriverThread[T] private (result: CompletableFuture[T], thread: Thread) {

  /** The body's result, or its exception rethrown, once its thread is gone. */
  def join(): T = {
    val outcome =
      try Right(result.get())
      catch { case e: ExecutionException if e.getCause != null => Left(e.getCause) }
    thread.join()
    outcome.fold(throw _, identity)
  }
}
