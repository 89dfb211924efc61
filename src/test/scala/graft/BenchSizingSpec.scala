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

  test("src/main builds a SparkSession in exactly one place, GraftSession") {
    import scala.jdk.CollectionConverters._
    val builds = java.util.regex.Pattern.quote("SparkSession.builder").r
    val hits = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala")).iterator
      .asScala.filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val n = builds.findAllIn(java.nio.file.Files.readString(p)).length
        Seq.fill(n)(p.getFileName.toString)
      }.toSeq
    assert(hits === Seq("GraftSession.scala"))
  }
}
