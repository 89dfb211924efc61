package perfbench

import java.io.PrintWriter
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span; times are epoch nanoseconds. Spark jobs become spans whose
  * parent is the deepest harness span open when they started. */
final case class Span(id: Int, name: String, parent: Int, start: Long, end: Long) {
  def layer: String = name.takeWhile(_ != '.')
}

/** Engine counters of one timed call (listener-fed). */
final case class Counters(tasks: Long, taskRunS: Double, taskCpuS: Double, gcS: Double,
    shuffleWriteMb: Double, outputMb: Double, planningS: Double, triggerMs: Seq[Double],
    addBatchMs: Double, queryPlanningMs: Double, walCommitMs: Double)

/** Spans recorded from the benchmark's own files around its calls into
  * each layer, plus the engine's own events through listeners registered on
  * the session. Kept in memory; written out once at the end of the run. */
final class Tracer(spark: SparkSession, val runId: String) {
  private val epochBase = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def now(): Long = epochBase + System.nanoTime()

  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String, Long)]
  private var nextId = 0

  /** Time `f` as a span named `<layer>.<what>` under the innermost open span. */
  def span[T](name: String)(f: => T): T = {
    val id = { nextId += 1; nextId }
    open = (id, name, now()) :: open
    try f
    finally {
      val (_, _, start) = open.head
      open = open.tail
      spans += Span(id, name, open.headOption.map(_._1).getOrElse(0), start, now())
    }
  }

  // ---- engine events (listener-bus thread) ----
  final case class Job(start: Long, end: Long)
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
  @volatile private var tasks = 0L
  @volatile private var taskRunMs = 0L
  @volatile private var taskCpuNs = 0L
  @volatile private var gcMs = 0L
  @volatile private var shuffleWriteBytes = 0L
  @volatile private var outputBytes = 0L
  @volatile private var planningMs = 0L
  private val triggerMs = ArrayBuffer.empty[Long]
  @volatile private var addBatchMs = 0L
  @volatile private var queryPlanningMs = 0L
  @volatile private var walCommitMs = 0L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.put(e.jobId, e.time * 1000000L)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach(s => jobs.add(Job(s, e.time * 1000000L)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      tasks += 1
      taskRunMs += m.executorRunTime
      taskCpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      outputBytes += m.outputMetrics.bytesWritten
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      planningMs += qe.tracker.phases.values.map(_.durationMs).sum
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      if (e.progress.numInputRows > 0) triggerMs.synchronized(triggerMs += ms("triggerExecution"))
      addBatchMs += ms("addBatch")
      queryPlanningMs += ms("queryPlanning")
      walCommitMs += ms("walCommit")
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Block until every engine event posted so far has been delivered. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.waitUntilEmpty(spark.sparkContext)

  /** Reset the per-iteration engine counters. */
  def resetCounters(): Unit = {
    drain()
    tasks = 0; taskRunMs = 0; taskCpuNs = 0; gcMs = 0
    shuffleWriteBytes = 0; outputBytes = 0; planningMs = 0
    triggerMs.synchronized(triggerMs.clear())
    addBatchMs = 0; queryPlanningMs = 0; walCommitMs = 0
  }

  /** The engine counters since the last reset, once every event posted so
    * far has been delivered. Taken right after the timed call, so that the
    * read-backs and the check that follow it are not counted. */
  def counters(): Counters = {
    drain()
    Counters(tasks, taskRunMs / 1e3, taskCpuNs / 1e9, gcMs / 1e3, shuffleWriteBytes / 1e6,
      outputBytes / 1e6, planningMs / 1e3, triggerMs.synchronized(triggerMs.toSeq.map(_.toDouble)),
      addBatchMs.toDouble, queryPlanningMs.toDouble, walCommitMs.toDouble)
  }

  /** The spans of the root span `root` and its descendants, with the
    * engine's jobs added under the deepest harness span that contains
    * each job's start. */
  def tree(root: Span): Seq[Span] = {
    drain()
    val mine = ArrayBuffer(root)
    var grew = true
    while (grew) {
      val more = spans.filter(s => !mine.exists(_.id == s.id) && mine.exists(_.id == s.parent))
      mine ++= more
      grew = more.nonEmpty
    }
    val harness = mine.toSeq
    val jobSpans = jobs.toArray(Array.empty[Job]).toSeq
      .filter(j => j.start >= root.start && j.start < root.end)
      .map { j =>
        val parent = harness.filter(s => s.start <= j.start && j.start < s.end)
          .maxBy(s => depth(s, harness))
        nextId += 1
        Span(nextId, "spark.job", parent.id, j.start, math.min(j.end, parent.end))
      }
    spans ++= jobSpans
    harness ++ jobSpans
  }

  private def depth(s: Span, all: Seq[Span]): Int =
    if (s.parent == 0) 0 else all.find(_.id == s.parent).map(depth(_, all) + 1).getOrElse(0)

  def lastRoot: Span = spans.last

  /** Exclusive time per layer: every instant of the root's interval goes
    * to the deepest span open at that instant, so the layers' self times
    * add up to the root's wall exactly. */
  def selfTimes(tree: Seq[Span]): Map[String, Double] = {
    val cuts = tree.flatMap(s => Seq(s.start, s.end)).distinct.sorted
    val depths = tree.map(s => s.id -> depth(s, tree)).toMap
    val out = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    cuts.sliding(2).foreach {
      case Seq(a, b) =>
        val active = tree.filter(s => s.start <= a && b <= s.end)
        if (active.nonEmpty) out(active.maxBy(s => depths(s.id)).layer) += (b - a) / 1e9
      case _ => ()
    }
    out.toMap
  }

  /** Engine-job wall inside `tree`: the union of its job intervals. */
  def jobWall(tree: Seq[Span]): Double = {
    val iv = tree.filter(_.name == "spark.job").map(s => (s.start, s.end)).sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1e9
  }

  def jobCount(tree: Seq[Span]): Int = tree.count(_.name == "spark.job")

  /** Write every span as one JSON line: name, start, end, parent, run id. */
  def write(path: String): Unit = {
    drain()
    val w = new PrintWriter(path)
    try spans.foreach { s =>
      w.println(s"""{"run":"$runId","id":${s.id},"name":"${s.name}",""" +
        s""""parent":${s.parent},"start_ns":${s.start},"end_ns":${s.end}}""")
    } finally w.close()
  }

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}

object Trace {
  /** Layers whose exclusive time a traced iteration reports, always all of
    * them (0 where a layer is not on the workload's path). */
  val selfLayerNames: Seq[String] =
    Seq("config", "orchestration", "auth", "spark", "streaming", "operators")

  def selfLayers(self: Map[String, Double], wallS: Double): Map[String, Double] =
    selfLayerNames.map(l => s"$l.self_s" -> self.getOrElse(l, 0.0)).toMap +
      ("trace.unattributed_frac" -> self.getOrElse("harness", 0.0) / wallS)

  /** Engine layers of one traced iteration: its jobs from the span tree,
    * the rest from the counters taken right after the call. */
  def engineLayers(t: Tracer, c: Counters, tree: Seq[Span], wallS: Double): Map[String, Double] = {
    val jobWall = t.jobWall(tree)
    Map(
      "spark.jobs" -> t.jobCount(tree).toDouble,
      "spark.tasks" -> c.tasks.toDouble,
      "spark.job_wall_s" -> jobWall,
      "spark.driver_nonjob_s" -> (wallS - jobWall),
      "spark.planning_s" -> c.planningS,
      "spark.task_run_s" -> c.taskRunS,
      "spark.task_cpu_s" -> c.taskCpuS,
      "spark.gc_s" -> c.gcS,
      "spark.shuffle_write_mb" -> c.shuffleWriteMb,
      "spark.output_mb" -> c.outputMb,
      "streaming.batches" -> c.triggerMs.size.toDouble,
      "streaming.trigger_ms_p50" -> Main.median(c.triggerMs),
      "streaming.add_batch_ms" -> c.addBatchMs,
      "streaming.query_planning_ms" -> c.queryPlanningMs,
      "streaming.wal_commit_ms" -> c.walCommitMs)
  }
}
