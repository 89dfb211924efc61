package graft

import java.nio.file.Files

import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.scalatest.matchers.should.Matchers

import graft.streaming.StreamOps

/** Streaming state is bounded by the watermark or the join horizon, not
  * by how long the stream runs. Each shape below is the stateful core of
  * a production drain — the windowed aggregate of
  * `hotKeyWindowLogWithState`, the dedup→window chain of
  * `streamingDailyActivesAppendWithState`, the horizon join of
  * `streamStreamLeftSemi` — drained through `StreamOps.drain` over a
  * time-ordered directory of day files, one file per micro-batch, so the
  * watermark advances between batches and eviction is observable (a
  * single-batch drain holds everything until its last commit).
  *
  * The stream is 4× `BaseDays` days long. Its first `BaseDays`
  * micro-batches are exactly the drain of the 1× stream (same files, same
  * order, same watermark), so the peak state rows over those batches is
  * the 1× peak; the peak over the whole drain, the 4× peak, must not be
  * larger. State rows are summed across a query's stateful operators. The
  * lag is shorter than the production drains' so that two days already
  * reach the steady state.
  */
class StreamStatePeakSpec extends SparkSpec with Matchers {
  private val Users = 20L
  private val PerDay = 120L
  private val DayUs = 86400000000L
  private val BaseDays = 2
  // event-time lag of the watermark; the state each shape holds is bounded
  // by it (plus the open window or the join horizon)
  private val Lag = "1 hour"

  /** One parquet file per day, in day order both by name and by
    * modification time (the file source's order). */
  private lazy val dayDir: String = {
    val root = Files.createTempDirectory("graft-stream-days")
    val days = 4 * BaseDays
    spark.range(days * PerDay).select(
        expr(s"id div $PerDay").as("day"),
        (col("id") % Users).as("user_id"),
        col("id").as("event_id"),
        expr(s"timestamp_micros(id * ${DayUs / PerDay}L)").as("ts"),
        element_at(array(lit("view"), lit("click"), lit("purchase")),
          (col("id") % 3 + 1).cast("int")).as("event_type"))
      .repartition(col("day"))
      .write.partitionBy("day").parquet(s"$root/staged")
    val dir = Files.createDirectory(root.resolve("days"))
    val t0 = System.currentTimeMillis() - days * 1000L
    (0 until days).foreach { d =>
      val parts = new java.io.File(s"$root/staged/day=$d").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      parts.length shouldBe 1
      val dest = dir.resolve(f"day-$d%04d.parquet")
      Files.move(parts.head.toPath, dest)
      dest.toFile.setLastModified(t0 + d * 1000L) shouldBe true
    }
    dir.toString
  }

  private def stream(): DataFrame =
    spark.readStream.schema(spark.read.parquet(dayDir).schema)
      .option("maxFilesPerTrigger", "1").parquet(dayDir)

  private def windowed(): DataFrame = stream()
    .withWatermark("ts", Lag)
    .groupBy(window(col("ts"), "1 day").as("w"), col("user_id"))
    .agg(count(lit(1)).as("cnt"))

  private def dedupThenWindow(): DataFrame = stream()
    .withWatermark("ts", Lag)
    .select(col("ts"), col("user_id"),
      window(col("ts"), "1 day").getField("start").as("day"))
    .dropDuplicatesWithinWatermark("user_id", "day")
    .groupBy(window(col("ts"), "1 day").as("w"))
    .agg(count(lit(1)).as("actives"))

  private def horizonJoin(): DataFrame = {
    val views = stream().filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("v_event"))
      .withWatermark("v_ts", Lag)
    val purchases = stream().filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", Lag)
    views.join(purchases,
        col("p_user") === col("v_user") && col("p_ts") >= col("v_ts") &&
          col("p_ts") <= col("v_ts") + expr("INTERVAL 6 HOURS"),
        "left_semi")
      .select(col("v_user"), col("v_event"))
  }

  private val shapes = Seq[(String, () => DataFrame)](
    ("windowed aggregate", windowed),
    ("dedup then window", dedupThenWindow),
    ("stream-stream join within a horizon", horizonJoin))

  /** Per shape: (rows emitted, progress of every micro-batch), or the
    * drain's failure. The three drains run at once: each is a chain of
    * tiny micro-batches whose wall is mostly per-batch latency. */
  private lazy val drained: Map[String, Try[(Long, Seq[StreamingQueryProgress])]] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    dayDir // staged once, before the drains start
    val runs = shapes.map { case (name, shape) =>
      val query = s"peak_${name.takeWhile(_.isLetter)}"
      name -> Future {
        val q = StreamOps.drain(shape(), query, "append", StreamOps.ToMemory)
        try (spark.table(query).count(), q.recentProgress.toSeq)
        finally spark.catalog.dropTempView(query)
      }
    }
    runs.map { case (name, run) => name -> Await.ready(run, 10.minutes).value.get }.toMap
  }

  for ((name, _) <- shapes)
    test(s"$name: peak state rows at 4× the days are no more than at 1×") {
      val (emitted, progress) = drained(name).get
      // one micro-batch per day, every one still in the retained progress
      progress.count(_.numInputRows > 0) shouldBe 4 * BaseDays
      progress.size should be < spark.sessionState.conf.streamingProgressRetention
      val state = progress.map(_.stateOperators.map(_.numRowsTotal).sum)
      val (peak1, peak4) = (state.take(BaseDays).max, state.max)
      info(s"state rows per micro-batch: ${state.mkString(" ")}")
      peak1 should be > 0L
      peak4 should be <= peak1
      emitted should be > 0L
    }
}
