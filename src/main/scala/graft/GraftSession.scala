package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built: `Bench`, `Verify`, every
  * `Probe` mode, `RunPipelineCli` and the spec suite all run under this
  * conf set, so the oracle and the job-budget pins check the same physical
  * configuration the bench times.
  *
  * Two inputs vary by caller:
  *  - `width`: local worker threads, also the shuffle partition count.
  *    Defaults to SPARK_GRAFT_CPUS, else the machine's core count.
  *  - `userPath`: the production shape (`RunPipelineCli`, `Probe smoke`):
  *    master from SPARK_MASTER, the cwd `spark-warehouse`, and Spark's own
  *    split sizing. Otherwise the session is the harness shape: a local
  *    master, a throwaway warehouse and the SF-matched split sizing.
  */
object GraftSession {

  def defaultWidth: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Bucket-store pruned reads pass O(hundreds) of explicit dir paths;
    * above this threshold Spark lists them via a DISTRIBUTED JOB per read
    * (closure-clean + job schedule per pruned read per micro-batch —
    * measured ~0.1-0.2 s each on the drain path). Driver-side listing wins
    * up to a few thousand dirs on any FS with fast metadata; at
    * object-store scale with 10k+ dirs this is the number to lower.
    */
  val ListThreshold = 4096

  /** Every conf the session sets, in order. Pure, so specs can read the
    * user-path set without building a second session in the suite's JVM.
    */
  private[graft] def confs(width: Int, userPath: Boolean): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> width.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.driver.host" -> "127.0.0.1",
    "spark.ui.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> ListThreshold.toString,
    "spark.sql.extensions" -> "graft.functions.GraftExtensions"
  ) ++ (if (userPath) Nil else Seq(
    // Partition sizing for the test SFs (the knob a 100 TB deploy
    // retunes): sf0.1 files are sub-MB, but the text/dedup operators do
    // heavy per-row CPU (tokenize + md5 per token), so Spark's bytes-based
    // split sizing leaves whole pipelines on ONE task. 128 KB splits /
    // 64 KB coalesce floor spread those stages across the threads; at
    // production scale with 100 MB+ files Spark's defaults (128 MB / 1 MB)
    // are the right sizing, which is why the user path leaves them unset.
    "spark.sql.files.maxPartitionBytes" -> "131072",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "65536"))

  def apply(width: Int = defaultWidth, userPath: Boolean = false): SparkSession = {
    val local = s"local[$width]"
    val b = SparkSession.builder()
      .master(if (userPath) sys.env.getOrElse("SPARK_MASTER", local) else local)
    confs(width, userPath).foreach { case (k, v) => b.config(k, v) }
    if (!userPath) b.config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
