package graft

import org.apache.spark.sql.internal.SQLConf

/** Pins the claim in GraftSession's split-sizing comment: the two knobs
  * the harness retunes for sub-MB test files (maxPartitionBytes=128 KB,
  * coalesce minPartitionSize=64 KB) default to 128 MB / 1 MB in Spark, and
  * the user-path session leaves both unset, so a production deploy gets
  * the documented sizing. If a Spark upgrade moves these defaults, this
  * spec fails and the GraftSession comment must be re-verified.
  */
class BenchSizingSpec extends SparkSpec {
  private val sizingKeys = Seq(
    SQLConf.FILES_MAX_PARTITION_BYTES.key,
    SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE.key)

  test("unconfigured split sizing defaults to 128 MB splits / 1 MB coalesce floor") {
    assert(SQLConf.FILES_MAX_PARTITION_BYTES.defaultValue === Some(128L * 1024 * 1024))
    assert(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE.defaultValue === Some(1024L * 1024))
    val user = GraftSession.confs(4, userPath = true).map(_._1)
    sizingKeys.foreach(k => assert(!user.contains(k), s"user path sets $k"))
  }

  test("the suite's session runs under the harness split sizing") {
    val conf = spark.sessionState.conf
    assert(conf.filesMaxPartitionBytes === 128L * 1024)
    assert(conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE) === 64L * 1024)
    assert(conf.getConfString("spark.sql.sources.parallelPartitionDiscovery.threshold") ===
      GraftSession.ListThreshold.toString)
  }

  /** One file name per match of `re` in a src/main Scala file. */
  private def hitsInMain(re: scala.util.matching.Regex): Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala")).iterator
      .asScala.filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val n = re.findAllIn(java.nio.file.Files.readString(p)).length
        Seq.fill(n)(p.getFileName.toString)
      }.toSeq
  }

  // Harness decisions that live in exactly one file of src/main: the
  // session builder (GraftSession), the blocking await of the bounded
  // streaming drains (StreamOps.drain), the store's byte count
  // (ArtifactStore.dirBytes), the driver thread that carries the
  // caller's Spark thread-locals (DriverThread.start), the one listener
  // that records jobs (Probe.JobRecorder), the one read of a finished
  // drain's progress (StreamOps.runAppendDrain), the pinned partition
  // count ahead of a partitioned store write, which keeps AQE from
  // coalescing it onto one task (ArtifactStore.writeRepartition), and the
  // local and reliable checkpoint calls behind the one eager
  // materialization (ArtifactStore.eagerCheckpoint). Row:
  // (pattern, the one file allowed to contain it once, what the pattern
  // does).
  private val oneSite = Seq(
    ("SparkSession.builder", "GraftSession.scala", "builds a SparkSession"),
    ("awaitTermination(", "StreamOps.scala", "blocks on a streaming query"),
    (".getContentSummary(", "ArtifactStore.scala", "counts bytes under a path"),
    ("withThreadLocalCaptured(", "DriverThread.scala", "submits Spark work from a driver thread"),
    ("addSparkListener(", "Probe.scala", "attaches a Spark listener"),
    ("recentProgress", "StreamOps.scala", "reads a streaming query's progress"),
    ("numShufflePartitions", "ArtifactStore.scala", "pins a store write's partition count"),
    ("localCheckpoint(", "ArtifactStore.scala", "checkpoints a frame locally"),
    (".checkpoint(", "ArtifactStore.scala", "checkpoints a frame reliably"))

  for ((pattern, file, what) <- oneSite)
    test(s"src/main $what in exactly one place, ${file.stripSuffix(".scala")}") {
      assert(hitsInMain(java.util.regex.Pattern.quote(pattern).r) === Seq(file))
    }

  // A store's meta is written only by the one root writer
  // (ArtifactStore.writeRoot), which stages the root, writes the meta,
  // marks and swaps it, then seeds the meta cache.
  test("src/main writes an artifact meta only in ArtifactStore") {
    assert(hitsInMain("""write\b.*/meta"\)""".r).distinct === Seq("ArtifactStore.scala"))
  }

  // Every artifact mutation runs in place on its family's one store
  // layout; a caller that must keep the base copies the roots first (x152).
  test("src/main offers no out-of-place artifact mutation") {
    assert(hitsInMain("outLabelsPath|outIndexPath".r) === Seq.empty)
  }

  // Hadoop's located listings (`listLocatedStatus`, and `listFiles(path,
  // recursive)` — java.io.File's listFiles takes at most a filter) build
  // a LocatedFileStatus per file; on the local FS without libhadoop each
  // one forks a shell for the file's permission and owner.
  test("src/main builds no Hadoop located listing") {
    val located = """listLocatedStatus\(|\.listFiles\((?:[^()]|\([^()]*\))*,""".r
    assert(hitsInMain(located) === Seq.empty)
  }
}
