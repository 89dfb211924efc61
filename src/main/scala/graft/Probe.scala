package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

import graft.queries.EvalQueries

/** Measurement probes behind one entry point, each on the session `Bench`
  * times (`GraftSession`):
  *
  *   runMain graft.Probe <mode> [args...]
  *
  *  - `jobs [absorb|drain|query:<name>]`: Spark jobs of one bench body,
  *    one line per labelled site (count, seconds, site) plus a total.
  *  - `time <query>... [-nN]`: N back-to-back `count()` runs per query;
  *    separates one-time cost (planning, codegen compile, footer reads)
  *    from steady-state execution.
  *  - `copy [n]`: the per-evaluation scratch staging (rmTree + copyTree of
  *    the two-geometry base) alone, n times.
  *  - `plan <q1,q2,...> [explainMode|executed] [outDir [suffix]]`: plans to
  *    stdout, or one `<outDir>/<query><suffix>.txt` each. `executed` runs
  *    the query and prints the post-AQE plan with its ReusedExchange count.
  *  - `show <query>`: the first 20 rows, plus the bronze error breakdown
  *    of an end-to-end query.
  *  - `smoke`: `SparkEntry.entry` on the user-path session (cwd
  *    warehouse); run it twice to exercise the cross-JVM leftover-location
  *    guard (TableManager.deleteLeftoverLocation).
  *  - `scale [maxMultiplier] [opPrefix,...]`: ScaleProbe's growth sweeps.
  *
  * `jobs`, `time`, `copy`, `plan` and `show` read the data dir from
  * SPARK_GRAFT_SF_DIR (e.g. the sf0.01 testdata dir; job counts are
  * SF-independent, so small data serves `jobs`).
  */
object Probe {
  type QueryFn = (SparkSession, String) => DataFrame

  private val usage = "usage: Probe jobs [absorb|drain|query:<q>] | time <q>... [-nN] | " +
    "copy [n] | plan <q,...> [mode] [outDir [suffix]] | show <q> | smoke | " +
    "scale [maxMult] [opPrefix,...]"

  def main(args: Array[String]): Unit = {
    val rest = args.toSeq.drop(1)
    lazy val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      fail("set SPARK_GRAFT_SF_DIR to the testdata dir to read (e.g. .../sf0.01)"))
    val body: SparkSession => Unit = args.headOption match {
      case Some("jobs")  => jobs(rest, sfDir)
      case Some("time")  => time(rest, sfDir)
      case Some("copy")  => copy(rest, sfDir)
      case Some("plan")  => plan(rest, sfDir)
      case Some("show")  => show(rest, sfDir)
      case Some("smoke") => smoke
      case Some("scale") => ScaleProbe.run(_, rest.toArray)
      case _ => fail(usage)
    }
    val spark = GraftSession(userPath = args.head == "smoke")
    try body(spark) finally spark.stop()
  }

  private def fail(msg: String): Nothing = {
    System.err.println(msg); sys.exit(1)
  }

  /** Resolves every name, or exits before a session starts naming each
    * unknown one. */
  private def lookup(names: Seq[String]): Seq[(String, QueryFn)] = {
    val qs = SparkEntry.queries
    val unknown = names.filterNot(qs.contains)
    if (unknown.nonEmpty) fail(s"unknown queries: ${unknown.mkString(", ")} ($usage)")
    names.map(n => n -> qs(n))
  }

  private def seconds(f: => Any): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Records each Spark job that starts while `capture` is set, with its
    * wall nanos, under the `g:<phase>` label `ArtifactStore.labeled` sets
    * (callSite under foreachBatch always points at the streaming start()
    * and cannot attribute operator-internal jobs), else its call site,
    * else its result stage's name (e.g. "parquet at Dedup.scala:544"),
    * which catches AQE stage-materialization jobs launched outside any
    * labelled phase. Read `jobs` after the listener bus has drained.
    */
  final class JobRecorder extends SparkListener {
    @volatile var capture = false
    private val starts = new ConcurrentHashMap[Int, (String, Long)]()
    private val done = new ConcurrentLinkedQueue[(String, Long)]()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (capture) {
        val p = Option(e.properties)
        val site = p.flatMap(x => Option(x.getProperty("spark.job.description"))
            .filter(_.startsWith("g:")))
          .orElse(p.flatMap(x => Option(x.getProperty("callSite.short"))))
          .orElse(e.stageInfos.lastOption.map(_.name))
          .getOrElse("?")
        starts.put(e.jobId, (site, System.nanoTime())); ()
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val st = starts.remove(e.jobId)
      if (st != null) { done.add((st._1, System.nanoTime() - st._2)); () }
    }

    def jobs: Seq[(String, Long)] = {
      import scala.jdk.CollectionConverters._
      done.asScala.toSeq
    }
  }

  /** The maintenance family's wall at bench scale is almost all FIXED
    * per-batch job count, not data volume, so this shows which actions
    * launch them. absorb = x152b's one absorb, drain = x158b's
    * three-micro-batch drain, query:<name> = one noop-sink run of any
    * declared query (eager mutation queries run their body while building
    * the frame, as the bench times them). One uncaptured warm run first,
    * as in the bench's converged-warm regime; staging runs outside the
    * capture window, as in the bench's untimed setup.
    */
  private def jobs(args: Seq[String], sfDir: String): SparkSession => Unit = {
    val mode = args.headOption.getOrElse("absorb")
    val query =
      if (mode.startsWith("query:")) lookup(Seq(mode.stripPrefix("query:"))).headOption.map(_._2)
      else None
    spark => {
      val (stage, run): (() => Unit, () => Unit) = (mode, query) match {
        case (_, Some(fn)) => (() => (), () =>
          fn(spark, sfDir).write.format("noop").mode("overwrite").save())
        case ("drain", _) => (() => EvalQueries.stageProdDrainScratch(spark, sfDir),
          () => { EvalQueries.prodDrainOnScratch(spark, sfDir).count(); () })
        case _ => (() => EvalQueries.stageProdAbsorbScratch(spark, sfDir),
          () => { EvalQueries.prodAbsorbOnScratch(spark, sfDir).count(); () })
      }
      val rec = new JobRecorder
      spark.sparkContext.addSparkListener(rec)
      stage(); run()
      stage()
      rec.capture = true
      val bodySec = seconds(run())
      rec.capture = false
      Thread.sleep(500) // let trailing listener events drain
      val all = rec.jobs
      all.groupBy(_._1).map { case (k, v) => (k, v.size, v.map(_._2).sum / 1e9) }
        .toSeq.sortBy(-_._3)
        .foreach { case (site, n, sec) => println(f"$n%4d  $sec%7.3f s  $site") }
      println(f"""{"mode":"$mode","total_jobs":${all.size},"body_sec":$bodySec%.3f,"sf":"$sfDir"}""")
    }
  }

  private def time(args: Seq[String], sfDir: String): SparkSession => Unit = {
    val n = args.find(_.startsWith("-n")).flatMap(_.drop(2).toIntOption).getOrElse(3)
    val qs = lookup(args.filterNot(_.startsWith("-")))
    spark => {
      spark.range(1000).selectExpr("sum(id)").collect()
      qs.foreach { case (name, fn) =>
        val times = (1 to n).map(_ => seconds(fn(spark, sfDir).count()))
        println(f"[perf] $name: ${times.map(t => f"$t%.3f").mkString(", ")} sec")
      }
    }
  }

  private def copy(args: Seq[String], sfDir: String): SparkSession => Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(5)
    spark => {
      // first call builds the base (untimed here, as in the bench)
      EvalQueries.stageProdAbsorbScratch(spark, sfDir)
      val root = new java.io.File(EvalQueries.stageProdAbsorbScratchRootForProbe)
      def countFiles(f: java.io.File): Int =
        if (f.isDirectory) Option(f.listFiles()).map(_.map(countFiles).sum).getOrElse(0)
        else 1
      println(s"staged files: ${countFiles(root)}")
      val ts = (1 to n).map(_ => seconds(EvalQueries.stageProdAbsorbScratch(spark, sfDir)))
      println(ts.map(t => f"$t%.3f").mkString("stage secs: ", " ", ""))
      println(f"""{"metric":"stage_min","value":${ts.min}%.3f,"files":${countFiles(root)}}""")
    }
  }

  private def plan(args: Seq[String], sfDir: String): SparkSession => Unit = {
    val qs = lookup(args.headOption.toSeq.flatMap(_.split(",").map(_.trim).filter(_.nonEmpty)))
    val mode = args.lift(1).getOrElse("formatted")
    val outDir = args.lift(2)
    val suffix = args.lift(3).getOrElse("")
    spark => {
      def render(fn: QueryFn): String = {
        val df = fn(spark, sfDir)
        if (mode == "executed") {
          df.collect()
          val s = df.queryExecution.executedPlan.toString
          s + "\n[plandump] ReusedExchange count: " + "ReusedExchange".r.findAllIn(s).length
        } else df.queryExecution.explainString(ExplainMode.fromString(mode))
      }
      outDir.foreach(d => Files.createDirectories(Paths.get(d)))
      qs.foreach { case (name, fn) =>
        outDir match {
          case None => println(render(fn))
          case Some(d) =>
            try {
              Files.writeString(Paths.get(d, s"$name$suffix.txt"), render(fn))
              println(s"[plandumpall] wrote $name$suffix.txt")
            } catch {
              case e: Throwable =>
                println(s"[plandumpall] FAILED $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
            }
        }
      }
    }
  }

  private def show(args: Seq[String], sfDir: String): SparkSession => Unit = {
    val (_, fn) = lookup(args.take(1)).headOption.getOrElse(fail(usage))
    spark => {
      fn(spark, sfDir).show(20, false)
      // if this was an e2e query, surface the full bronze error detail
      if (spark.catalog.databaseExists("graft_verify"))
        spark.catalog.listTables("graft_verify").collect().foreach { t =>
          println(s"--- bronze table ${t.name}")
          spark.table(s"graft_verify.${t.name}")
            .groupBy("status_code", "success", "error_message").count().show(10, false)
        }
    }
  }

  private def smoke(spark: SparkSession): Unit = {
    val n = SparkEntry.entry(spark).count()
    println(s"""{"entry_rows":$n}""")
    require(n > 0, "entry produced no rows")
  }
}
