package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for the suite (one JVM-wide session — Spark
  * sessions are expensive; tests share it like the reference shares its
  * FakeSparkSession fixture, except ours is real local-mode Spark). Built
  * by GraftSession, so the specs run under the confs the bench times.
  */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession(width = 4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkTestSession.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  def sfDir: String = "/root/testdata/sf0.001"
}
