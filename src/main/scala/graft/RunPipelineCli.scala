package graft

import org.apache.spark.sql.SparkSession

import graft.orchestration.PipelineOrchestrator

/** User-facing CLI: run a declarative pipeline from a YAML/JSON config
  * against a file source — the Scala twin of the reference's
  * `run_pipeline(spark, config_path, source_df, source_id)` entry
  * (ref: dags/scripts/run_demo_pipeline.py:69-110).
  *
  * Usage: runMain graft.RunPipelineCli <config.(yml|json)> [sourceFile idColumn]
  * The source format is inferred from the extension: .parquet (default),
  * .csv (header + inferSchema), .json / .jsonl (JSON lines), .orc.
  * Without a source argument the config must declare tables.source.
  */
object RunPipelineCli {
  private[graft] def readSource(spark: SparkSession, path: String) = {
    val lower = path.toLowerCase
    if (lower.endsWith(".csv"))
      spark.read.option("header", "true").option("inferSchema", "true").csv(path)
    else if (lower.endsWith(".json") || lower.endsWith(".jsonl"))
      spark.read.json(path)
    else if (lower.endsWith(".orc")) spark.read.orc(path)
    else spark.read.parquet(path)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: RunPipelineCli <config> [sourceFile idColumn]")
    val spark = GraftSession(userPath = true)
    val (sourceDf, sourceId) = args.toSeq match {
      case Seq(_, src, id) => (Some(readSource(spark, src)), Some(id))
      case _               => (None, None)
    }
    PipelineOrchestrator.runPipelineFromFile(spark, args(0), sourceDf, sourceId)
    println("""{"pipeline":"completed"}""")
    spark.stop()
  }
}
