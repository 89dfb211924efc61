package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Reaches the program's multi-batch stream staging, which it keeps
  * package-private: the drain's input is staged exactly as the program's
  * own drains stage theirs. */
object Staging {
  def streamDirChunks(spark: SparkSession, df: DataFrame, prefix: String, chunks: Int): String =
    graft.streaming.StreamOps.stageStreamDirChunksDf(spark, df, prefix, chunks)
}
