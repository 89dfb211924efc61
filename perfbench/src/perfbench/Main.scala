package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Output check of one iteration: rows (or docs) checked, and how many were
  * absent, duplicated or wrong. */
final case class Check(attempted: Long, failed: Long)

/** What one iteration measured. `layers` holds the traced iteration's
  * per-layer numbers (empty when untraced). */
final case class Iter(setupS: Double, wallS: Double, rows: Long, reads: Seq[Double],
    check: Check, layers: Map[String, Double], liveHeapMb: Double = 0.0) {
  def readS: Double = Main.median(reads)
}

/** A workload: a batch job the harness repeats in a closed loop. Each
  * iteration sets up fresh inputs, makes one timed call into the program,
  * reads the committed output back and checks it. */
trait Workload {
  def iteration(i: Int, tracer: Option[Tracer]): Iter
  /** Untimed first iterations (checked) that fill the JIT, codegen caches
    * and connection pools before anything is measured. */
  def warmUp(): Seq[Iter]
  /** Per-layer probes that call one module directly; traced runs only. */
  def layerProbes(): Map[String, Double]
  def close(): Unit
}

object Main {
  /** Reads of the committed output per iteration; `read_s` is the median
    * of all of them in a run. */
  val readsPerIteration = 10

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else { val s = xs.sorted; s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0)) }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  def rmTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
  }

  /** (files, bytes) under a directory tree. */
  def treeSize(f: File): (Long, Long) =
    if (f.isFile) (1L, f.length())
    else Option(f.listFiles()).toSeq.flatten.map(treeSize)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  /** Heap still in use after a full collection: what the program keeps
    * alive between calls. (The process RSS follows the collector's pacing
    * instead and spread by a third between runs of the same commit.) */
  def liveHeapMb(): Double = {
    // Collections free objects whose finalization (Spark's context cleaner)
    // frees more: collect until the reading settles.
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Double = { System.gc(); Thread.sleep(100); heap.getHeapMemoryUsage.getUsed / 1e6 }
    var prev = collect(); var cur = collect(); var n = 2
    while (n < 6 && math.abs(cur - prev) > 0.01 * prev) { prev = cur; cur = collect(); n += 1 }
    cur
  }

  private def report(i: Iter): Unit =
    System.err.println(f"iteration: setup ${i.setupS}%.3f s, wall ${i.wallS}%.3f s, " +
      f"read ${i.readS}%.3f s, rows ${i.rows}, failed ${i.check.failed}/${i.check.attempted}, " +
      f"live heap ${i.liveHeapMb}%.1f MB" +
      (if (i.layers.isEmpty) ""
       else Seq("spark.jobs", "spark.job_wall_s", "spark.driver_nonjob_s", "spark.gc_s",
         "spark.task_run_s", "streaming.add_batch_ms").map(k => f", $k ${i.layers(k)}%.3f").mkString))

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.files.maxPartitionBytes", "131072")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "65536")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = opts("work")
    val out = opts("out")
    val cpus = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(Paths.get(work))

    val spark = session(cpus, work)
    val w: Workload = workload match {
      case "ingest_remote" => new Ingest(spark, seed, cpus, work)
      case "label_drain"   => new LabelDrain(spark, seed, work)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val runId = s"$workload-$seed-${System.currentTimeMillis()}"
    val tracer = if (trace) Some(new Tracer(spark, runId)) else None
    val iters = mutable.ArrayBuffer.empty[Iter]
    val traced = mutable.ArrayBuffer.empty[Iter]
    var probes = Map.empty[String, Double]
    var warm = Seq.empty[Iter]
    try {
      warm = w.warmUp()
      warm.foreach(report)
      // Closed loop: iterations back to back until the measuring time is up,
      // and at least two untraced ones, so that a slower host does not
      // change how many samples the median takes. A traced run alternates
      // untraced and traced iterations, so its overhead is measured
      // against its own untraced median.
      val t0 = System.nanoTime()
      val minIters = if (trace) 1 else 2
      var n = 0
      while (n < minIters || (System.nanoTime() - t0) / 1e9 < seconds) {
        n += 1
        iters += w.iteration(2 * n - 1, None).copy(liveHeapMb = liveHeapMb())
        report(iters.last)
        if (trace) { traced += w.iteration(2 * n, tracer); report(traced.last) }
      }
      if (trace) probes = w.layerProbes()
    } finally {
      w.close()
      tracer.foreach { t => t.write(s"$work/spans.jsonl"); t.stop() }
    }

    val timedIters = iters.toSeq
    val all = warm ++ iters ++ traced
    val attempted = all.map(_.check.attempted).sum
    val failed = all.map(_.check.failed).sum
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", median(timedIters.map(_.setupS)), "s"),
        ("wall_s", median(timedIters.map(_.wallS)), "s"),
        ("rows_per_s", median(timedIters.map(i => i.rows / i.wallS)), "1/s"),
        ("read_s", median(timedIters.flatMap(_.reads)), "s"),
        ("live_heap_mb", median(timedIters.map(_.liveHeapMb)), "MB"))
      else {
        val keys = traced.toSeq.flatMap(_.layers.keys).distinct
        val perIter = keys.map(k => (k, median(traced.toSeq.map(_.layers.getOrElse(k, 0.0)))))
        val tracedWall = median(traced.toSeq.map(_.wallS))
        val untracedWall = median(timedIters.map(_.wallS))
        val got = (perIter ++ probes.toSeq ++ Seq(
          "check.failed_frac" -> failed.toDouble / math.max(1L, attempted),
          "trace.overhead_frac" -> (tracedWall / untracedWall - 1.0),
          "trace.wall_s" -> tracedWall)).toMap
        Layers.metrics.map { case (k, u) => (k, got.getOrElse(k, 0.0), u) }
      }
    val json = metrics.map { case (k, v, u) => s""""$k":{"value":$v,"unit":"$u"}""" }
      .mkString("{", ",", "}")
    val samples = s"""{"timed_iterations":${timedIters.size},"traced_iterations":${traced.size}}"""
    Files.writeString(Paths.get(out),
      s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
        s""""metrics":$json,"samples":$samples}""")
    spark.stop()
  }
}

/** Every per-layer metric a traced run reports, with its unit. A metric of
  * a layer the workload does not use reads 0. */
object Layers {
  val metrics: Seq[(String, String)] = Seq(
    "config.load_ms" -> "ms", "config.self_s" -> "s",
    "orchestration.create_table_s" -> "s", "orchestration.remaining_s" -> "s",
    "orchestration.remaining_rows" -> "count", "orchestration.batches" -> "count",
    "orchestration.handler_s" -> "s", "orchestration.self_s" -> "s",
    "exec.direct_rows_per_s" -> "1/s", "exec.direct_partition_s" -> "s",
    "middleware.chain_us_per_row" -> "us",
    "transport.send_p50_ms" -> "ms", "transport.send_p99_ms" -> "ms",
    "transport.errors" -> "count",
    "model.build_row_us" -> "us",
    "auth.start_runtime_s" -> "s", "auth.rpc_fetch_p50_ms" -> "ms",
    "auth.token_grants" -> "count", "auth.self_s" -> "s",
    "api.requests" -> "count", "api.calls_per_row" -> "calls/row",
    "api.inflight_mean" -> "requests", "api.inflight_max" -> "requests",
    "api.status_5xx" -> "count", "api.rtt_p50_ms" -> "ms",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.job_wall_s" -> "s",
    "spark.driver_nonjob_s" -> "s", "spark.planning_s" -> "s", "spark.task_run_s" -> "s",
    "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.shuffle_write_mb" -> "MB",
    "spark.output_mb" -> "MB", "spark.self_s" -> "s",
    "streaming.batches" -> "count", "streaming.trigger_ms_p50" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.self_s" -> "s",
    "operators.store_files" -> "count", "operators.files_added" -> "count",
    "operators.read_labels_s" -> "s", "operators.base_build_s" -> "s",
    "operators.self_s" -> "s",
    "sink.files" -> "count", "sink.mb" -> "MB",
    "check.failed_frac" -> "fraction",
    "trace.wall_s" -> "s", "trace.overhead_frac" -> "fraction",
    "trace.unattributed_frac" -> "fraction")
}
