package graft.exec

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import scala.concurrent.duration._
import scala.concurrent.{ExecutionContext, Future}
import scala.util.Try

import graft.config.RetryConfig

/** A request that was still in flight when its deadline passed: its future
  * was lost (a stalled response body, a wedged continuation), not slow.
  * Fails the task instead of hanging the stage.
  */
final class RequestDeadlineExceeded(val requestId: String, val deadline: FiniteDuration)
    extends java.util.concurrent.TimeoutException(
      s"request '$requestId' still in flight after ${deadline.toMillis} ms")

/** The bounded request window shared by every HTTP path (the orchestration
  * terminal, the `graft-http` reader and writer): at most `capacity`
  * requests in flight, results handed on in COMPLETION order. A queue fed
  * by `onComplete` carries finished requests to the one consuming thread,
  * so a slow or retried request never holds its finished neighbours.
  *
  * Single-consumer: `submit`, `take`, `isFull` and `nonEmpty` run on the
  * task thread. The completion callbacks touch nothing but the queue, so
  * they run on whichever thread completes the future. `take` waits no
  * longer than the oldest in-flight request's deadline, then throws
  * [[RequestDeadlineExceeded]] naming it. A failed future's exception is
  * rethrown by the `take` that receives it.
  */
final class RequestWindow[A](capacity: Int, deadline: FiniteDuration) {
  require(capacity > 0, s"request window capacity must be > 0, got $capacity")

  // (seq, result) of each finished request, in completion order
  private val done = new LinkedBlockingQueue[(Long, Try[A])]()
  // seq -> (request id, due nanoTime), in submission order: the head is
  // always the first request to reach its deadline
  private val inFlight = new java.util.LinkedHashMap[Long, (String, Long)]()
  private var nextSeq = 0L

  def isFull: Boolean = inFlight.size >= capacity
  def nonEmpty: Boolean = !inFlight.isEmpty

  def submit(requestId: String, request: Future[A]): Unit = {
    val seq = nextSeq
    nextSeq += 1
    inFlight.put(seq, (requestId, System.nanoTime() + deadline.toNanos))
    request.onComplete(r => done.put((seq, r)))(ExecutionContext.parasitic)
  }

  /** The next request to finish, whichever that is. */
  def take(): A = {
    require(nonEmpty, "take() on an empty request window")
    @annotation.tailrec def await(): (Long, Try[A]) = {
      val (oldestId, due) = inFlight.values.iterator.next()
      val waitNanos = due - System.nanoTime()
      val d = done.poll(math.max(0L, waitNanos), TimeUnit.NANOSECONDS)
      if (d != null) d
      else if (waitNanos <= 0) throw new RequestDeadlineExceeded(oldestId, deadline)
      else await()
    }
    val (seq, result) = await()
    inFlight.remove(seq)
    result.get
  }
}

object RequestWindow {

  /** The longest a request can legitimately stay in flight: each attempt of
    * the retry middleware may run to the transport timeout, plus the
    * largest backoff it can sleep between attempts. Retry middlewares nest,
    * so their attempts multiply. Without one it is the transport timeout.
    */
  def deadline(timeoutSeconds: Double, retries: Seq[RetryConfig]): FiniteDuration = {
    val seconds = retries.foldLeft(timeoutSeconds) { (inner, r) =>
      val backoff = (1 until r.maxAttempts)
        .map(a => math.min(r.maxDelaySeconds, r.baseDelaySeconds * math.pow(2.0, a))).sum
      inner * r.maxAttempts + backoff
    }
    (seconds * 1e9).toLong.nanos
  }
}
