package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery, Trigger}

/** Structured Streaming extension (SURVEY.md §7.5): the reference is
  * batch-only; this adds the streaming ingestion path — file stream →
  * event-time windowed aggregation with a watermark → sink. Semantics are
  * batch-equivalent, so the DuckDB oracle checks the streaming result
  * against plain SQL over the same parquet.
  */
object StreamOps {

  /** FileStreamSource requires a directory; stage a symlink to a single
    * input file in a temp dir (read-only testdata stays untouched).
    */
  private def stageStreamDir(eventsPath: String, prefix: String): String = {
    val src = java.nio.file.Paths.get(eventsPath)
    if (java.nio.file.Files.isDirectory(src)) eventsPath
    else {
      val dir = java.nio.file.Files.createTempDirectory(prefix)
      java.nio.file.Files.createSymbolicLink(dir.resolve(src.getFileName), src)
      dir.toString
    }
  }

  /** Normalize the event-time column across the testdata generations'
    * parquet physical types (same contract as QueryDef.events):
    * TIMESTAMP(NANOS) arrives as LongType under the nanosAsLong legacy
    * conf (`div` keeps the arithmetic exact; ns epoch values overflow
    * double precision); TIMESTAMP(MICROS, isAdjustedToUTC=false) arrives
    * as TIMESTAMP_NTZ and casts to the session-tz TIMESTAMP (sessions run
    * UTC, so the instant matches DuckDB's naive reading).
    */
  private def normalizeTs(df: DataFrame, schema: org.apache.spark.sql.types.StructType): DataFrame =
    if (!schema.fieldNames.contains("ts")) df
    else schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  /** How `openStream` presents its input to the file source. */
  private sealed trait Staging
  /** Read the directory as it is (the caller staged it). */
  private case object AsIs extends Staging
  /** A directory as it is, a single file through a symlink dir
    * (`stageStreamDir`). */
  private final case class Link(prefix: String) extends Staging
  /** Symlinks plus the far-future sentinel row
    * (`stageStreamDirWithSentinel`) — for append-mode drains. */
  private final case class Sentinel(prefix: String) extends Staging

  /** The one source opener: read the batch schema once, stage `path`,
    * and return a factory of ts-normalized file streams over the staged
    * dir (`maxFilesPerTrigger=1` when `oneFilePerBatch`). Single-source
    * drains call the factory once; stream-stream joins call it once per
    * leg, so each leg is its own file source over the same staging.
    */
  private def openStream(spark: SparkSession, path: String,
      staging: Staging = AsIs,
      oneFilePerBatch: Boolean = false): () => DataFrame = {
    val schema = spark.read.parquet(path).schema
    val dir = staging match {
      case AsIs => path
      case Link(prefix) => stageStreamDir(path, prefix)
      case Sentinel(prefix) =>
        stageStreamDirWithSentinel(spark, path, prefix, schema)
    }
    () => {
      val reader = spark.readStream.schema(schema)
      normalizeTs((if (oneFilePerBatch) reader.option("maxFilesPerTrigger", "1")
        else reader).parquet(dir), schema)
    }
  }

  /** Where a drain writes: an in-memory table named after the query, a
    * checkpointed parquet dir, or a `foreachBatch` body. */
  private[graft] sealed trait Sink
  private[graft] case object ToMemory extends Sink
  private[graft] final case class ToParquet(path: String,
      checkpoint: String) extends Sink
  private[graft] final case class ToBatches(checkpoint: Option[String],
      body: (DataFrame, Long) => Unit) extends Sink

  /** The one bounded-drain skeleton every blocking streaming query runs
    * through: start `df` under the AvailableNow trigger (process the
    * backlog present at start, then stop), wait for it, and return the
    * finished query so callers can read its progress. A checkpointed
    * sink resumes where the last drain stopped, which is what makes each
    * drain re-runnable as more input lands.
    */
  private[graft] def drain(df: DataFrame, name: String, mode: String,
      sink: Sink): StreamingQuery = {
    val w = df.writeStream.queryName(name).outputMode(mode)
      .trigger(Trigger.AvailableNow())
    val q = (sink match {
      case ToMemory => w.format("memory")
      case ToParquet(path, ckpt) =>
        w.format("parquet").option("path", path)
          .option("checkpointLocation", ckpt)
      case ToBatches(ckpt, body) =>
        ckpt.foldLeft(w.foreachBatch(body))(_.option("checkpointLocation", _))
    }).start()
    q.awaitTermination()
    q
  }

  /** `drain` into the memory sink, returning the drained table. */
  private def drainToTable(df: DataFrame, name: String,
      mode: String): DataFrame = {
    drain(df, name, mode, ToMemory)
    df.sparkSession.table(name)
  }

  /** The artifact-drain shape: one micro-batch per file under
    * `streamDir`, each handed to `body`, resuming from `checkpointDir`. */
  private def fileDrain(spark: SparkSession, streamDir: String,
      checkpointDir: String, name: String)(body: DataFrame => Unit): Unit =
    drain(openStream(spark, streamDir, oneFilePerBatch = true)(), name,
      "append", ToBatches(Some(checkpointDir), (batch, _) => body(batch)))

  /** Event-time tumbling-window aggregation over the events table, run as a
    * real streaming query (AvailableNow trigger — processes the backlog,
    * then stops). NOTE on modes: this drain uses `complete` output into a
    * memory sink, and under complete mode the watermark does NOT evict
    * window state — every window ever seen stays in the store, which is
    * fine for a bounded backlog drain and wrong for a long-running query.
    * The continuous 100 TB path is `windowedEventAggAppend` below — the
    * same aggregation in `append` mode with a parquet sink, where the
    * watermark DOES finalize and evict windows older than the lag bound
    * (state bounded by the open-window set; `StreamingPipelineSpec`
    * asserts the eviction).
    *
    * Output: (event_type, window_start, events, sum_cents) — integers only;
    * cents are floored *per event* (floor(v*100+0.5)) so the sum is exact
    * integer arithmetic in any engine.
    */
  def windowedEventAgg(spark: SparkSession, eventsPath: String,
      queryName: String = "graft_stream_agg"): DataFrame = {
    val agg = openStream(spark, eventsPath, Link("graft-stream"))()
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("events"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("sum_cents"))
    drainToTable(agg, queryName, "complete")
      .select(col("event_type"),
        date_format(col("w.start"), "yyyy-MM-dd").as("window_start"),
        col("events"), col("sum_cents"))
  }

  /** Streaming OHLC candles — the real-time twin of TimeSeries.ohlc: per
    * (1-day event-time window, key) open/high/low/close/count/sum as a
    * watermarked streaming aggregation. min_by/max_by on the
    * (unix_micros(ts), event_id) tie-break are declarative aggregates, so
    * the whole candle updates incrementally in state — no per-window
    * buffering of raw ticks. Mode caveat (same as windowedEventAgg): this
    * AvailableNow drain runs in `complete` mode, where the watermark does
    * NOT evict window state — suitable only for bounded backlog drains.
    * The live-dashboard path at scale is `streamingOhlcAppend` below:
    * identical aggregation in `append` mode with a parquet sink, where
    * the watermark finalizes and drops closed (day, key) windows so
    * state stays bounded by the open-window set.
    */
  def streamingOhlc(spark: SparkSession, eventsPath: String,
      queryName: String = "graft_stream_ohlc"): DataFrame = {
    val stream = openStream(spark, eventsPath, Link("graft-stream-ohlc"))()
    val ord = struct(expr("unix_micros(ts)"), col("event_id"))
    val cents = floor(col("value") * 100 + 0.5).cast("long")
    val agg = stream
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"), col("user_id"))
      .agg(min_by(cents, ord).as("open"), max(cents).as("high"),
        min(cents).as("low"), max_by(cents, ord).as("close"),
        count(lit(1)).as("n"), sum(cents).as("sum_cents"))
    drainToTable(agg, queryName, "complete")
      .select(col("user_id"),
        expr("div(unix_micros(w.start), 86400000000)").as("bucket"),
        col("open"), col("high"), col("low"), col("close"),
        col("n"), col("sum_cents"))
  }

  /** Stage a stream dir like `stageStreamDir`, then drop in ONE
    * far-future sentinel row (ts = 2100-01-01, every other column null)
    * as a late-arriving file. Under APPEND output mode a windowed
    * aggregation only emits a window once the watermark passes its end —
    * a drain without the sentinel would withhold the trailing windows
    * forever (the watermark never passes the newest data). The sentinel
    * pushes the watermark beyond every real window, so the drain emits
    * and EVICTS all of them; the sentinel's own window (null keys, year
    * 2100) is the only state left behind and is never emitted. This is
    * exactly how a production append-mode pipeline behaves: windows
    * finalize as later event-time arrives; a bounded drain just needs
    * that "later" injected explicitly.
    */
  private def stageStreamDirWithSentinel(spark: SparkSession,
      eventsPath: String, prefix: String,
      schema: org.apache.spark.sql.types.StructType): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    val src = java.nio.file.Paths.get(eventsPath)
    val files =
      if (java.nio.file.Files.isDirectory(src)) {
        val entries = src.toFile.listFiles().toSeq
          .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
        // the symlink staging flattens ONE level — a nested (partitioned)
        // layout would be silently truncated to its top-level files, so
        // refuse it loudly instead
        val subdirs = entries.filter(_.isDirectory)
        require(subdirs.isEmpty,
          s"stageStreamDirWithSentinel: $eventsPath contains nested " +
            s"directories (${subdirs.take(3).map(_.getName).mkString(", ")}) " +
            "— partitioned layouts are not supported by the flat sentinel " +
            "staging; point at a flat file directory or a single file")
        entries.filter(_.isFile).map(_.toPath)
      } else Seq(src)
    files.foreach(f =>
      java.nio.file.Files.createSymbolicLink(dir.resolve(f.getFileName), f))
    // Every sentinel field is NON-NULL: a downstream inner join pushes
    // `isnotnull(<key>)` below the watermark operator, and an all-null
    // sentinel would be filtered at the scan — never reaching the
    // event-time tracker, never advancing the watermark, silently
    // withholding the last real window (observed on the dim-join drain).
    // Typed sentinel values (-1 / "__sentinel" / 0.0) survive any such
    // pushdown; join/group keys either drop out (no dim match) or form
    // one never-emitted state row.
    val vals: Array[Any] = schema.fields.map { f =>
      (f.dataType match {
        case org.apache.spark.sql.types.LongType => -1L
        case org.apache.spark.sql.types.IntegerType => -1
        case org.apache.spark.sql.types.StringType => "__sentinel"
        case org.apache.spark.sql.types.DoubleType => 0.0
        case org.apache.spark.sql.types.FloatType => 0.0f
        case _ => null
      }): Any
    }
    vals(schema.fieldIndex("ts")) = schema("ts").dataType match {
      // epoch nanos under the nanosAsLong legacy read of TIMESTAMP(NANOS)
      case org.apache.spark.sql.types.LongType => 4102444800000000000L
      case org.apache.spark.sql.types.TimestampNTZType =>
        java.time.LocalDateTime.of(2100, 1, 1, 0, 0)
      case _ =>
        java.sql.Timestamp.from(java.time.Instant.parse("2100-01-01T00:00:00Z"))
    }
    val sentDir = java.nio.file.Files.createTempDirectory(s"$prefix-sent")
    spark.createDataFrame(
        java.util.Arrays.asList(org.apache.spark.sql.Row(vals: _*)), schema)
      .coalesce(1).write.mode("overwrite").parquet(sentDir.toString)
    val part = sentDir.toFile.listFiles()
      .find(f => f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, dir.resolve("zz-sentinel.parquet"))
    dir.toString
  }

  /** Run an append-mode windowed aggregation to a parquet sink with a
    * fresh checkpoint and return (result, final state rows). Shared body
    * of the two append-mode drains; the state-row count comes from the
    * query's final progress and lets specs assert the watermark actually
    * evicted (complete mode's state holds EVERY window ever seen; here
    * only the sentinel's unfinalized window may remain).
    */
  private def runAppendDrain(agg: DataFrame,
      prefix: String): (DataFrame, Long) = {
    val outDir = java.nio.file.Files.createTempDirectory(s"$prefix-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory(s"$prefix-ckpt").toString
    val q = drain(agg, prefix, "append", ToParquet(outDir, ckpt))
    // sum over the LAST progress entry that actually reports state
    // operators: a chained-stateful drain (x149's dedup + agg) reports one
    // entry per operator, and the eviction claim is about their combined
    // residue. A trailing no-data commit can report an EMPTY stateOperators
    // array — summing that entry would read 0 and let a "state < N"
    // assertion pass vacuously, so such entries are skipped (and -1 is
    // returned when no entry measured state at all).
    val stateRows = q.recentProgress.toSeq.reverse
      .find(_.stateOperators.nonEmpty)
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
    (agg.sparkSession.read.parquet(outDir), stateRows)
  }

  /** APPEND-MODE twin of `windowedEventAgg` — the shape that runs forever
    * at 100 TB: the watermark FINALIZES each (day, event_type) window once
    * event time passes window end + 1 day, the finalized row is appended
    * to a parquet sink exactly once, and the window's state is EVICTED —
    * state is bounded by the open-window set instead of growing one row
    * per window forever (complete mode's failure shape). Checkpointed, so
    * a restarted drain resumes without re-emitting. Same output contract
    * and oracle as `windowedEventAgg`; the far-future sentinel that
    * flushes the trailing windows (see `stageStreamDirWithSentinel`)
    * never appears in the output — its window never finalizes.
    */
  def windowedEventAggAppend(spark: SparkSession, eventsPath: String): DataFrame =
    windowedEventAggAppendWithState(spark, eventsPath)._1

  private[graft] def windowedEventAggAppendWithState(
      spark: SparkSession, eventsPath: String): (DataFrame, Long) = {
    val stream = openStream(spark, eventsPath, Sentinel("graft-stream-appagg"))()
    val agg = stream
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("events"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("sum_cents"))
    val (out, stateRows) = runAppendDrain(agg, "graft-stream-appagg")
    (out.select(col("event_type"),
        date_format(col("w.start"), "yyyy-MM-dd").as("window_start"),
        col("events"), col("sum_cents")),
      stateRows)
  }

  /** APPEND-MODE twin of `streamingOhlc`: per-(day, user) candles
    * finalize when the watermark passes the window, append to the sink
    * exactly once, and leave the state store — the live-dashboard shape
    * whose state stays bounded by the open-window set at any stream
    * length. Same output contract and oracle as `streamingOhlc`.
    */
  def streamingOhlcAppend(spark: SparkSession, eventsPath: String): DataFrame =
    streamingOhlcAppendWithState(spark, eventsPath)._1

  private[graft] def streamingOhlcAppendWithState(
      spark: SparkSession, eventsPath: String): (DataFrame, Long) = {
    val stream = openStream(spark, eventsPath, Sentinel("graft-stream-appohlc"))()
    val ord = struct(expr("unix_micros(ts)"), col("event_id"))
    val cents = floor(col("value") * 100 + 0.5).cast("long")
    val agg = stream
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"), col("user_id"))
      .agg(min_by(cents, ord).as("open"), max(cents).as("high"),
        min(cents).as("low"), max_by(cents, ord).as("close"),
        count(lit(1)).as("n"), sum(cents).as("sum_cents"))
    val (out, stateRows) = runAppendDrain(agg, "graft-stream-appohlc")
    (out.select(col("user_id"),
        expr("div(unix_micros(w.start), 86400000000)").as("bucket"),
        col("open"), col("high"), col("low"), col("close"),
        col("n"), col("sum_cents")),
      stateRows)
  }

  /** WINDOWED append-mode hot-key monitor — the unbounded-safe variant of
    * `streamingHotKeys`: per-(day, key) counts finalize and EVICT at the
    * watermark into a parquet sink, so state is bounded by the
    * open-window key set instead of one counter per key forever (the
    * global count's failure shape on an unbounded key domain). The
    * top-`k` cut per day runs batch-side over the appended log — ranking
    * is not incrementally maintainable in append mode, and doesn't need
    * to be: finalized windows are immutable, so the dashboard ranks the
    * closed days it reads. Returns (bucket, key, cnt, rank), rank ≤ k
    * per bucket.
    */
  def streamingHotKeysWindowedAppend(spark: SparkSession, eventsPath: String,
      keyCol: String, k: Int): DataFrame = {
    require(k > 0, "streamingHotKeysWindowedAppend: k must be positive")
    val (log, _) = hotKeyWindowLogWithState(spark, eventsPath, keyCol)
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket").orderBy(col("cnt").desc, col("key"))
    log.withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= k)
  }

  /** The shared windowed hot-key drain: per-(day, key) counts finalized at
    * the watermark into an append log — (bucket, key, cnt) plus the final
    * state-row count so specs can assert eviction actually happened.
    */
  private[graft] def hotKeyWindowLogWithState(spark: SparkSession,
      eventsPath: String, keyCol: String): (DataFrame, Long) = {
    val stream = openStream(spark, eventsPath, Sentinel("graft-stream-hotw"))()
    val agg = stream
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"), col(keyCol).as("key"))
      .agg(count(lit(1)).as("cnt"))
    val (out, stateRows) = runAppendDrain(agg, "graft-stream-hotw")
    (out.select(expr("div(unix_micros(w.start), 86400000000)").as("bucket"),
      col("key"), col("cnt")), stateRows)
  }

  /** Streaming DAILY ACTIVES — distinct users per day maintained live, in
    * append mode, with TWO CHAINED STATEFUL OPERATORS: event-time
    * dedup on (user, day) inside the watermark
    * (`dropDuplicatesWithinWatermark` — state is one row per distinct
    * (user, day) still inside the horizon, evicted as the watermark
    * passes), feeding a watermarked per-day count that finalizes and
    * appends each closed day exactly once. This is the shape a "daily
    * active users" dashboard runs forever: both operators' state is
    * bounded by the watermark, and COUNT-DISTINCT — not incrementally
    * maintainable as a windowed aggregate on raw events — decomposes
    * into dedup-then-count exactly. Exactness caveat: the decomposition
    * equals batch count(DISTINCT) when duplicate (user, day) events
    * arrive within the watermark delay of each other
    * (dropDuplicatesWithinWatermark's contract) — a duplicate arriving
    * after its twin's dedup row was evicted but before the day window
    * closes would double-count. Ordered / bounded-lateness streams (and
    * the staged drains here) satisfy this; size the delay to the
    * duplicate horizon, not just the lateness horizon, when they differ.
    *
    * The sentinel advances the watermark to flush trailing days and
    * never reaches the output (its own day never finalizes). Returns
    * (bucket, actives), one row per closed day.
    */
  def streamingDailyActivesAppend(spark: SparkSession,
      eventsPath: String): DataFrame =
    streamingDailyActivesAppendWithState(spark, eventsPath)._1

  private[graft] def streamingDailyActivesAppendWithState(
      spark: SparkSession, eventsPath: String): (DataFrame, Long) = {
    val stream = openStream(spark, eventsPath, Sentinel("graft-stream-dau"))()
    val agg = stream
      .withWatermark("ts", "1 day")
      .select(col("ts"), col("user_id"),
        window(col("ts"), "1 day").getField("start").as("day"))
      .dropDuplicatesWithinWatermark("user_id", "day")
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("actives"))
    val (out, stateRows) = runAppendDrain(agg, "graft-stream-dau")
    (out.select(expr("div(unix_micros(w.start), 86400000000)").as("bucket"),
      col("actives")), stateRows)
  }

  /** GLOBAL top-`k` hot keys computed THROUGH the windowed append drain —
    * the scale-safe replacement for `streamingHotKeys`' complete-mode
    * global count: the streaming side holds only open (day, key) windows
    * (evicted at the watermark), the appended per-day log is immutable,
    * and the global count per key is the batch-side SUM of its day counts
    * — exact, because count is decomposable over a partition of the
    * stream by day. Same output contract as `streamingHotKeys`:
    * (key, cnt), top k by (cnt desc, key).
    */
  def streamingHotKeysGlobalTopK(spark: SparkSession, eventsPath: String,
      keyCol: String, k: Int): DataFrame = {
    require(k > 0, "streamingHotKeysGlobalTopK: k must be positive")
    val (log, _) = hotKeyWindowLogWithState(spark, eventsPath, keyCol)
    log.groupBy("key").agg(sum(col("cnt")).as("cnt"))
      .orderBy(col("cnt").desc, col("key")).limit(k)
  }

  /** WINDOWED append-mode stream-static enrichment — the unbounded-safe
    * variant of `streamStaticEnrich`: the dim join stays stateless and
    * broadcast per micro-batch, but the aggregate is per (day, attribute)
    * under a watermark in append mode, so each day's rollup finalizes,
    * appends to the sink exactly once, and leaves the store — instead of
    * complete mode's forever-growing global re-emit. The sentinel row
    * advances the watermark and is then dropped by the inner dim join, so
    * it leaves no state at all. Returns (bucket, groupCol, events,
    * sum_cents).
    */
  def streamStaticEnrichWindowedAppend(spark: SparkSession, eventsPath: String,
      dim: DataFrame, streamKey: String, dimKey: String, groupCol: String,
      valueCol: String = "value"): DataFrame =
    streamStaticEnrichWindowedAppendWithState(spark, eventsPath, dim,
      streamKey, dimKey, groupCol, valueCol)._1

  private[graft] def streamStaticEnrichWindowedAppendWithState(
      spark: SparkSession, eventsPath: String, dim: DataFrame,
      streamKey: String, dimKey: String, groupCol: String,
      valueCol: String = "value"): (DataFrame, Long) = {
    val stream = openStream(spark, eventsPath, Sentinel("graft-stream-ssew"))()
    val agg = stream
      .withWatermark("ts", "1 day")
      .join(broadcast(dim), col(streamKey) === col(dimKey))
      .groupBy(window(col("ts"), "1 day").as("w"), col(groupCol))
      .agg(count(lit(1)).as("events"),
        sum(floor(col(valueCol) * 100 + 0.5).cast("long")).as("sum_cents"))
    val (out, stateRows) = runAppendDrain(agg, "graft-stream-ssew")
    (out.select(expr("div(unix_micros(w.start), 86400000000)").as("bucket"),
      col(groupCol), col("events"), col("sum_cents")), stateRows)
  }

  /** Stream-static enrichment TOTALS computed through the windowed append
    * drain — the scale-safe replacement for `streamStaticEnrich`'s
    * complete-mode global rollup: the per-(day, group) windows finalize
    * and evict at the watermark, and the global per-group totals are the
    * batch-side SUM over the appended day rollups — exact, because count
    * and sum both decompose over the day partition. Same output contract
    * as `streamStaticEnrich`: (groupCol, events, sum_cents).
    */
  def streamStaticEnrichAppendTotals(spark: SparkSession, eventsPath: String,
      dim: DataFrame, streamKey: String, dimKey: String, groupCol: String,
      valueCol: String = "value"): DataFrame = {
    val (log, _) = streamStaticEnrichWindowedAppendWithState(spark,
      eventsPath, dim, streamKey, dimKey, groupCol, valueCol)
    log.groupBy(groupCol)
      .agg(sum(col("events")).as("events"), sum(col("sum_cents")).as("sum_cents"))
  }

  /** Streaming hot-key monitor — Skew.hotKeys' real-time twin: per-key
    * counts maintained incrementally in streaming state (complete mode),
    * cut to the top `k` on read. At scale this is the live skew dashboard
    * that tells you a key is going hot BEFORE the batch join that would
    * have hot-spotted on it. State note: this is a GLOBAL (un-windowed)
    * count, so state is one counter per distinct key for the lifetime of
    * the query in ANY mode — bound the key domain upstream (hash-bucket
    * raw keys if unbounded), or use `streamingHotKeysWindowedAppend` /
    * `streamingHotKeysGlobalTopK` above, where per-(day, key) windows
    * finalize and age out of the store at the watermark. Since round 9
    * this complete-mode shape is a documented BOUNDED-DRAIN utility only
    * (finite drains over key domains that fit in state); no oracle-gated
    * query routes through it — x89 consumes the append drain.
    */
  def streamingHotKeys(spark: SparkSession, eventsPath: String,
      keyCol: String, k: Int,
      queryName: String = "graft_stream_hotkeys"): DataFrame = {
    require(k > 0, "streamingHotKeys: k must be positive")
    val agg = openStream(spark, eventsPath, Link("graft-stream-hotkeys"))()
      .groupBy(col(keyCol).as("key")).agg(count(lit(1)).as("cnt"))
    drainToTable(agg, queryName, "complete")
      .orderBy(col("cnt").desc, col("key")).limit(k)
  }

  /** Gap-based sessionization via the native session_window operator: a
    * session extends while consecutive events arrive within `gap`; the
    * window start is the session's first event time. One shuffle on the
    * grouping key; state size at stream scale is bounded by the watermark.
    * (Batch form here — same operator runs under readStream+watermark; the
    * micro-batch variants are exercised by windowedEventAgg/statefulUserCounts.)
    */
  def sessionize(spark: SparkSession, events: DataFrame, gap: String = "4 hours"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("events"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("sum_cents"))
      .select(col("user_id"),
        date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("events"), col("sum_cents"))

  /** Streaming deduplication: dropDuplicates on a key within a watermark —
    * the streaming twin of the batch exact-dedup operator. State holds one
    * entry per distinct key seen inside the watermark horizon; keys older
    * than the watermark are evicted, which is what makes the operator safe
    * on an unbounded stream (without the watermark, state grows forever).
    * Output is append-mode (each key emitted exactly once), projected to
    * the key columns so the result is deterministic regardless of which
    * physical row survived.
    */
  def streamingDedup(spark: SparkSession, eventsPath: String,
      keyCols: Seq[String], queryName: String): DataFrame = {
    val deduped = openStream(spark, eventsPath, Link("graft-stream-dedup"))()
      .withWatermark("ts", "30 days")
      .dropDuplicatesWithinWatermark(keyCols)
      .select(keyCols.map(col): _*)
    drainToTable(deduped, queryName, "append")
  }

  /** Streaming curation — the continuous-ingest shape of the x35–x40
    * batch family: documents arrive as files (a crawl drop folder), each
    * micro-batch is PII-scrubbed (Curation.redactPii) and quality-gated on
    * the REDACTED text (scrub first, then gate — placeholder tokens count
    * like words, matching how the batch pipeline orders the two). Pure
    * map-only projections: append output mode, NO state, NO watermark —
    * the stream that runs forever at any rate because nothing accumulates.
    * A doc passes the gate when chars >= minChars and words >= minWords.
    */
  def streamingCuration(spark: SparkSession, docsPath: String,
      queryName: String, minChars: Int = 60, minWords: Int = 8): DataFrame = {
    import graft.functions.Portable.tokens
    val stream = openStream(spark, docsPath, Link("graft-stream-curation"))()
    val red = graft.operators.Curation.redactPii(
      stream.select(col("doc_id"), col("text")), "doc_id", "text")
    val gated = red.select(col("doc_id"), col("emails"), col("ips"), col("phones"),
        length(col("redacted")).as("chars"),
        size(tokens(col("redacted"))).as("words"))
      .filter(col("chars") >= minChars && col("words") >= minWords)
    drainToTable(gated, queryName, "append")
  }

  /** Watermarked stream-stream inner join — purchases joined to the views
    * that preceded them within a bounded interval, BOTH sides unbounded
    * streams (the attribution-join shape: ad views → purchases, log
    * correlation, feature joins between event streams).
    *
    * The time-range condition plus watermarks on both sides are what make
    * this runnable forever: Spark buffers each side's join state only
    * within watermark + interval bound and evicts older rows, so state ≈
    * arrival rate × horizon instead of the whole history. AvailableNow
    * trigger here (single-batch over the staged file, so the batch oracle
    * matches exactly); the 100 TB path is the same query on a continuous
    * trigger.
    */
  def streamStreamJoin(spark: SparkSession, eventsPath: String,
      maxLag: String, queryName: String): DataFrame = {
    val src = openStream(spark, eventsPath, Link("graft-stream-ssj"))
    val purchases = src().filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_event"))
      .withWatermark("p_ts", "1 day")
    val views = src().filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("v_event"))
      .withWatermark("v_ts", "1 day")
    val joined = purchases.join(views,
      col("p_user") === col("v_user") &&
        col("v_ts") >= col("p_ts") - expr(s"INTERVAL $maxLag") &&
        col("v_ts") <= col("p_ts"))
    drainToTable(joined, queryName, "append")
  }

  /** Watermarked stream-stream LEFT SEMI join — "which views CONVERTED
    * within the horizon", each view emitted AT MOST ONCE however many
    * purchases follow it. This is the third point of the stream-stream
    * join matrix (inner = `streamStreamJoin`, left outer =
    * `streamStreamLeftOuter`): semi is the one to reach for when the
    * downstream only needs the left event — it never multiplies output
    * by the match count (an inner join + dropDuplicates would shuffle
    * the multiplied rows first), and Spark's symmetric-hash semi join
    * tracks a matched flag per buffered left row so a match emits
    * eagerly when either side's row arrives.
    *
    * Unmatched views never emit (that report is the left-OUTER join), so
    * no sentinel staging is needed: matched rows do not wait on the
    * watermark, which here only bounds both buffers (state ≈ rate ×
    * horizon). Output: (v_user, v_event, v_t_us).
    */
  def streamStreamLeftSemi(spark: SparkSession, eventsPath: String,
      horizon: String, queryName: String): DataFrame = {
    val src = openStream(spark, eventsPath, Link("graft-stream-ssls"))
    val views = src().filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("v_event"))
      .withWatermark("v_ts", "1 minute")
    val purchases = src().filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_event"))
      .withWatermark("p_ts", "1 minute")
    val joined = views.join(purchases,
        col("p_user") === col("v_user") &&
          col("p_ts") >= col("v_ts") &&
          col("p_ts") <= col("v_ts") + expr(s"INTERVAL $horizon"),
        "left_semi")
      .select(col("v_user"), col("v_event"),
        expr("unix_micros(v_ts)").as("v_t_us"))
    drainToTable(joined, queryName, "append")
  }

  /** Watermarked stream-stream LEFT OUTER join — the attribution shape
    * with the rows the inner join cannot produce: views that led to NO
    * purchase within the horizon (the "lost lead" report). Outer
    * semantics are the genuinely stateful part: a view's match might
    * still arrive, so Spark WITHHOLDS the null-extended row until the
    * purchase-side watermark passes view_ts + horizon — only then is
    * "no match" provable and the row emitted with nulls. Both sides
    * carry watermarks and the join carries the time-range bound, so
    * state stays within watermark + horizon (evicted after), and the
    * bounded drain needs the far-future sentinel (as a row in BOTH
    * filtered legs — `isin(type, "__sentinel")`, since each leg's
    * watermark tracks only what that leg sees) to push the watermark
    * past every real view; sentinel rows drop post-join on their -1
    * user key. Matched rows emit incrementally; unmatched emit on the
    * watermark crossing — the union is exactly the batch left join.
    *
    * Output: (v_user, v_event, v_t_us, p_event?, lag_us?) — null
    * purchase columns mean "no purchase within horizon".
    */
  def streamStreamLeftOuter(spark: SparkSession, eventsPath: String,
      horizon: String, queryName: String): DataFrame = {
    val src = openStream(spark, eventsPath, Sentinel("graft-stream-sslo"))
    val views = src().filter(col("event_type").isin("view", "__sentinel"))
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("v_event"))
      .withWatermark("v_ts", "1 minute")
    val purchases = src().filter(col("event_type").isin("purchase", "__sentinel"))
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_event"))
      .withWatermark("p_ts", "1 minute")
    // The sentinel rows are filtered AFTER the sink, not in the streaming
    // plan: an in-plan `v_user =!= -1` pushes below the LEFT watermark
    // node, and constraint propagation through the `p_user === v_user`
    // equi-join infers `p_user =!= -1` and pushes it below the RIGHT one
    // too — both legs lose their sentinel, the watermark stalls at the
    // last real purchase, and every trailing view's null-extension is
    // silently withheld (measured: 7 rows missing at sf0.01). The same
    // class of bug as the all-null sentinel (see
    // stageStreamDirWithSentinel), one level subtler.
    val joined = views.join(purchases,
        col("p_user") === col("v_user") &&
          col("p_ts") >= col("v_ts") &&
          col("p_ts") <= col("v_ts") + expr(s"INTERVAL $horizon"),
        "left_outer")
      .select(col("v_user"), col("v_event"),
        expr("unix_micros(v_ts)").as("v_t_us"), col("p_event"),
        (expr("unix_micros(p_ts)") - expr("unix_micros(v_ts)")).as("lag_us"))
    drainToTable(joined, queryName, "append").filter(col("v_user") =!= -1L)
  }

  /** Watermarked stream-stream FULL OUTER join — the complete attribution
    * reconciliation: matched view→purchase pairs, views with no purchase
    * in the horizon (left extension), AND purchases with no view starting
    * the horizon (right extension — the "untracked conversion" leg the
    * left-outer report misses). Both extension kinds are
    * watermark-withheld: a view's "no purchase" is provable when the
    * purchase watermark passes v_ts + horizon, a purchase's "no view"
    * when the view watermark passes p_ts (the condition bounds v_ts to
    * [p_ts − horizon, p_ts]), so the far-future sentinel must ride BOTH
    * legs (stageStreamDirWithSentinel) and is dropped post-sink on
    * either key — never in-plan, where constraint propagation through
    * the equi-join would push the filter below both watermark nodes and
    * stall eviction (the x133 lesson; null-safe `<=>` here because
    * extension rows carry a null on the unmatched side).
    *
    * Output: (v_user?, v_event?, v_t_us?, p_user?, p_event?, p_t_us?) —
    * null view columns mean an unattributed purchase, null purchase
    * columns a lost lead. State stays within watermark + horizon on
    * both sides, exactly as the inner join.
    */
  def streamStreamFullOuter(spark: SparkSession, eventsPath: String,
      horizon: String, queryName: String): DataFrame = {
    val src = openStream(spark, eventsPath, Sentinel("graft-stream-ssfo"))
    val views = src().filter(col("event_type").isin("view", "__sentinel"))
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("v_event"))
      .withWatermark("v_ts", "1 minute")
    val purchases = src().filter(col("event_type").isin("purchase", "__sentinel"))
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_event"))
      .withWatermark("p_ts", "1 minute")
    val joined = views.join(purchases,
        col("p_user") === col("v_user") &&
          col("p_ts") >= col("v_ts") &&
          col("p_ts") <= col("v_ts") + expr(s"INTERVAL $horizon"),
        "full_outer")
      .select(col("v_user"), col("v_event"),
        expr("unix_micros(v_ts)").as("v_t_us"),
        col("p_user"), col("p_event"),
        expr("unix_micros(p_ts)").as("p_t_us"))
    drainToTable(joined, queryName, "append")
      .filter(!(col("v_user") <=> -1L) && !(col("p_user") <=> -1L))
  }

  /** Stream-static enrichment — the standard "join the event stream onto a
    * dimension snapshot" shape: stateless per micro-batch (no watermark, no
    * join state — each batch probes the CURRENT dim snapshot), aggregated
    * per dim attribute in complete mode. The dim side is broadcast here
    * (dims are small next to a 100 TB stream); an oversized dim falls back
    * to a per-batch shuffle join with the same semantics. The
    * unbounded-safe shape is `streamStaticEnrichWindowedAppend` /
    * `streamStaticEnrichAppendTotals` above — the same join with a
    * watermarked per-day rollup that finalizes and evicts instead of
    * re-emitting a growing global aggregate. Since round 9 this
    * complete-mode shape is a documented BOUNDED-DRAIN utility only; no
    * oracle-gated query routes through it — x53 consumes the append
    * drain.
    */
  def streamStaticEnrich(spark: SparkSession, eventsPath: String,
      dim: DataFrame, streamKey: String, dimKey: String, groupCol: String,
      queryName: String, valueCol: String = "value"): DataFrame = {
    val agg = openStream(spark, eventsPath, Link("graft-stream-sse"))()
      .join(broadcast(dim), col(streamKey) === col(dimKey))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("events"),
        sum(floor(col(valueCol) * 100 + 0.5).cast("long")).as("sum_cents"))
    drainToTable(agg, queryName, "complete")
  }

  /** Streaming CDC apply — fold a change stream into a keyed snapshot:
    * per micro-batch, collapse to the latest change per key (row_number
    * over `orderDescCols` DESC — a deterministic within-batch
    * last-writer-wins), then `Merge.upsertByKey` into the current
    * snapshot. Snapshots are versioned directories (`<root>/v<batchId>`) —
    * the overwrite-while-reading hazard of an in-place parquet rewrite is
    * sidestepped the way a commit-log table format does it, by writing a
    * new version and flipping the pointer (here: max version wins, and
    * `latestSnapshot` is the read path). With a checkpoint the stream
    * resumes exactly where it stopped, so each change file is folded in
    * once — restart-safe upserts without Delta.
    *
    * Restart safety is version-arithmetic, not luck: a replayed batch (crash
    * between the v<batchId> write and the checkpoint commit) merges against
    * versions STRICTLY BELOW its own batchId, so it never reads the
    * partially/fully written directory it is about to overwrite, and a
    * version directory only counts as a snapshot once its `_SUCCESS` marker
    * exists (a crashed mid-write dir has none). Replay therefore recomputes
    * the same merge from the same base and idempotently overwrites.
    *
    * Scale: per batch, ONE shuffle of the (small) change set for the
    * per-key collapse and one key shuffle for the anti-join against the
    * snapshot; the snapshot rewrite is a blind columnar write. At 100 TB
    * the snapshot side partitions by key range (bucketed layout) so the
    * anti-join co-locates; the operator's plan is unchanged.
    */
  def cdcApply(spark: SparkSession, changesPath: String, snapshotRoot: String,
      key: String, orderDescCols: Seq[String], queryName: String,
      checkpointDir: Option[String] = None): Unit =
    drain(openStream(spark, changesPath, Link("graft-cdc"))(), queryName,
      "append", ToBatches(checkpointDir, (batch, batchId) =>
        applyCdcBatch(batch, batchId, snapshotRoot, key, orderDescCols)))

  /** Streaming dedup ingestion — the production corpus-ingest loop: a
    * document stream arrives in micro-batches; each batch is fingerprinted,
    * deduped against the PERSISTED fingerprint index (everything ingested
    * by earlier batches), deduped within itself (min id per fingerprint),
    * and the novel survivors are appended to a new index version. Uses the
    * same versioned-snapshot + strictly-below-batchId + _SUCCESS machinery
    * as `cdcApply`, so a crash between the version write and the
    * checkpoint commit replays idempotently.
    *
    * Keeper semantics: the FIRST batch that sees a fingerprint owns it
    * (min id within that batch) — streaming semantics, not global-min.
    * With a single micro-batch this equals the batch `fingerprint`
    * operator exactly, which is what the oracle checks; cross-batch
    * precedence is pinned by `CdcApplySpec`-style direct-body tests.
    *
    * Scale: per batch, one fingerprint anti-join against an index that
    * reads ONLY (fingerprint) — at 100 TB the index is a bucketed
    * fingerprint table and the probe co-locates; swap the anti-join for
    * `Dedup.bloomProbeNew` when the batch is large enough for the sketch
    * to pay (same result by construction).
    */
  def streamDedupIngest(spark: SparkSession, docsPath: String,
      indexRoot: String, idCol: String, textCol: String, queryName: String,
      checkpointDir: Option[String] = None): Unit =
    drain(openStream(spark, docsPath, Link("graft-dedup-ingest"))(),
      queryName, "append", ToBatches(checkpointDir, (batch, batchId) =>
        ingestDedupBatch(batch, batchId, indexRoot, idCol, textCol)))

  /** Streaming label maintenance — `Dedup.absorbIntoLabels` wired into a
    * foreachBatch drain: the crawl-firehose shape that keeps the
    * write-once canonical-label artifact (and its LSH index) live
    * CONTINUOUSLY instead of per hand-invoked batch. New doc files
    * landing under `streamDir` become micro-batches
    * (`maxFilesPerTrigger=1` — one file, one absorb), each absorbed
    * in place; re-invoking the drain with the same checkpoint picks up
    * only files not yet committed, so the drain is re-runnable as the
    * crawl appends (the heavyHittersMgDrain contract).
    *
    * REPLAY SAFETY is the interesting part: a restarted micro-batch
    * re-enters foreachBatch with rows the previous attempt may have
    * fully or partially absorbed, and the absorb's index append is not
    * idempotent against a COMPLETED absorb (the batch's docs are then
    * in the labels, violating the id-disjointness contract). The
    * per-batch body therefore anti-joins the batch against the STORED
    * labels' doc set first — the reference pipeline's own anti-join
    * idempotency pattern (ref: src/orchestration/batch_processor.py:36-40)
    * — so fully-absorbed docs are skipped exactly, while a batch that
    * crashed MID-absorb (docs in the index but not yet in the labels)
    * re-enters through `absorbIntoLabels`' own retry-recovery contract.
    * Both replay classes are spec-pinned (`StreamAbsorbRestartSpec`).
    */
  def labelAbsorbDrain(spark: SparkSession, streamDir: String,
      checkpointDir: String, labelsPath: String, indexPath: String,
      idCol: String, textCol: String, shingleSize: Int = 3,
      numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5): Unit =
    fileDrain(spark, streamDir, checkpointDir, "graft_label_absorb") {
      absorbLabelBatch(_, labelsPath, indexPath, idCol, textCol,
        shingleSize, numHashes, bands, threshold)
    }

  /** One micro-batch of the label-absorb drain (the foreachBatch body,
    * exposed for direct replay tests): drop the docs the stored labels
    * already contain, absorb the rest in place. Calling this twice with
    * the same batch (= a replayed micro-batch after a crash) is a no-op
    * the second time.
    */
  def absorbLabelBatch(batch: DataFrame, labelsPath: String,
      indexPath: String, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5): Unit = {
    val s = batch.sparkSession
    // ONE observed job (round 16): the batch's distinct ids checkpoint
    // with their count and label-bucket ids riding the action —
    // previously the guard paid a separate distinct-collect for the
    // bucket ids, a broadcast build, and a limit(1).count() fresh test
    // per micro-batch (drain_replay_guard 6 jobs + drain_fresh_check 3
    // measured at N = 512).
    val (ids, nIds, bk) = graft.operators.Dedup.batchIdsForLabels(
      s, labelsPath, batch, idCol)
    // BUCKET-PRUNED point lookup (round-12 verdict #2): the replay
    // guard reads only the label buckets the batch ids hash into —
    // O(touched buckets) bytes per micro-batch instead of a full labels
    // scan per drained file. The (tiny) present set broadcasts back;
    // the checkpoint materializes the read BEFORE the absorb mutates
    // the labels store it came from. Its observed count doubles as the
    // fresh test: the anti-join is non-empty iff nIds > nPresent
    // (labels hold one row per doc, so the count is per-doc exact).
    val pObs = org.apache.spark.sql.Observation(
      "drain_present_" + java.util.UUID.randomUUID().toString.take(8))
    val present = graft.operators.ArtifactStore.labeled(s, "drain_replay_guard") {
      graft.operators.Dedup.readLabelsForDocs(s, labelsPath, ids, Some(bk))
        .join(broadcast(ids), Seq("doc"), "left_semi")
        .select("doc")
        // distinct BEFORE the observed count (round-16 advisory): the
        // nIds > nPresent fresh test is per-doc exact only if present
        // is per-doc unique — the store invariant says it is, but a
        // crash-corrupted append could leave duplicate doc rows, and an
        // inflated nPresent here would silently skip genuinely fresh
        // docs. One narrow extra stage inside the same checkpoint job.
        .distinct()
        .observe(pObs, count(lit(1)).as("__n"))
        .transform(graft.operators.ArtifactStore.eagerCheckpoint)
    }
    val nPresent = Option(pObs.get("__n"))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    if (nIds > nPresent) {
      if (nPresent == 0L)
        // all-novel micro-batch (the production path): the batch IS the
        // fresh set, and the ids checkpoint stands in for the absorb's
        // own batch-id distinct (batchIdsPre) — no anti-join, no second
        // distinct, no final store read (the drain discards the handle)
        graft.operators.Dedup.absorbIntoLabelsNoRead(batch, idCol,
          textCol, labelsPath, indexPath, shingleSize, numHashes, bands,
          threshold, batchIdsPre = Some((ids, nIds)))
      else {
        // replayed/partial micro-batch: drop the committed docs first
        val fresh = batch.join(
          broadcast(present.select(col("doc").as(idCol))), Seq(idCol),
          "left_anti")
        graft.operators.Dedup.absorbIntoLabelsNoRead(fresh, idCol,
          textCol, labelsPath, indexPath, shingleSize, numHashes, bands,
          threshold)
      }
    }
  }

  /** Streaming RETRACTION — `labelAbsorbDrain`'s deletion dual: a
    * takedown feed (files of doc ids landing under `streamDir`) drains
    * one micro-batch per file through `Dedup.retractFromLabels`,
    * keeping the label artifact live for deletions exactly as the
    * absorb drain keeps it live for additions. Unlike the absorb
    * drain, NO extra replay guard is needed: retraction is idempotent
    * by construction — a replayed micro-batch's ids are already absent
    * from the labels (so no component is touched) and already in the
    * tombstone store (so the append's anti-join skips them); the
    * spec pins the double-retract no-op. Re-runnable as more takedown
    * files land.
    */
  def labelRetractDrain(spark: SparkSession, streamDir: String,
      checkpointDir: String, labelsPath: String, indexPath: String,
      idCol: String, threshold: Double = 0.5): Unit =
    fileDrain(spark, streamDir, checkpointDir, "graft_label_retract") {
      graft.operators.Dedup.retractFromLabels(_, idCol, labelsPath,
        indexPath, threshold)
    }

  /** Streaming IVF-index maintenance — the embedding-firehose symmetry
    * of `labelAbsorbDrain` (round-11 verdict #3): vector files landing
    * under `streamDir` absorb one micro-batch per file into the
    * persisted IVF index (`VectorIndex.absorbIntoIvfIndex`, frozen
    * codebook). Replay safety is CHEAPER here than for labels because
    * the index mutation is a pure idempotent append (no swap): a
    * replayed micro-batch's vectors are skipped row-exactly by
    * `appendMissing`'s per-store anti-join even mid-batch. The guard
    * below still anti-joins the batch against the stored vector ids
    * first so a FULLY absorbed replay skips the cell-assignment work
    * (and the tombstone clash guard) entirely — the same stored-state
    * anti-join idempotency pattern as the label drain
    * (ref: src/orchestration/batch_processor.py:36-40).
    */
  def vectorAbsorbDrain(spark: SparkSession, streamDir: String,
      checkpointDir: String, indexPath: String, idCol: String,
      vecCol: String): Unit =
    fileDrain(spark, streamDir, checkpointDir, "graft_vector_absorb") {
      absorbVectorBatch(_, indexPath, idCol, vecCol)
    }

  /** One micro-batch of the vector-absorb drain (the foreachBatch body,
    * exposed for direct replay tests): drop the vectors the stored
    * index already holds, absorb the rest. Calling this twice with the
    * same batch is a no-op the second time.
    */
  def absorbVectorBatch(batch: DataFrame, indexPath: String,
      idCol: String, vecCol: String): Unit = {
    val s = batch.sparkSession
    // TOMBSTONE-FILTERED presence (round-12 advisory): a raw read of
    // $indexPath/vectors still physically holds retracted ids before
    // compaction, so a genuinely new vector re-using a tombstoned id
    // would read as "already present" and be SILENTLY dropped — the
    // exact silently-inconsistent state absorbIntoIvfIndex's clash
    // guard fails loud on. Reading through the store's anti-join lets
    // the re-ingest reach the batch API and trip that guard instead.
    // CELL-PRUNED since round 13 (searchablePresentIds): the frozen
    // codebook makes the batch ids' possible home cells computable
    // batch-side, so the per-micro-batch presence read is O(touched
    // cells), not a corpus scan — the vector twin of the label drain's
    // readLabelsForDocs guard.
    val present = graft.operators.VectorIndex
      .searchablePresentIds(batch, idCol, vecCol, indexPath)
      .select(col("vec_id").as(idCol))
      .transform(graft.operators.ArtifactStore.eagerCheckpoint)
    val fresh = batch.join(broadcast(present), Seq(idCol), "left_anti")
    if (fresh.limit(1).count() > 0) {
      graft.operators.VectorIndex.absorbIntoIvfIndex(fresh, idCol,
        vecCol, indexPath)
    }
  }

  /** Streaming vector RETRACTION — `vectorAbsorbDrain`'s deletion dual
    * (a takedown feed of vec_ids, one micro-batch per file through
    * `VectorIndex.retractFromIvfIndex`). No replay guard at all:
    * retraction is a tombstone append whose anti-join skips
    * already-present ids, so a replayed micro-batch appends nothing.
    * Interleaves with `compactIvfIndex` exactly like the label drain
    * (the x168 entry folds mid-stream).
    */
  def vectorRetractDrain(spark: SparkSession, streamDir: String,
      checkpointDir: String, indexPath: String, idCol: String): Unit =
    fileDrain(spark, streamDir, checkpointDir, "graft_vector_retract") {
      graft.operators.VectorIndex.retractFromIvfIndex(_, idCol, indexPath)
    }

  /** Streaming HISTOGRAM maintenance — the fourth artifact family's
    * drain, completing the per-family symmetry (labels x158/x159,
    * vectors x167/x168): shard files (nightly feeds, crawl segments)
    * land under `streamDir` and fold one micro-batch per file through
    * `Profile.absorbIntoHistogram`. No extra replay guard: the
    * `absorbed` shard LEDGER makes a replayed shard a no-op even after
    * a compact erased its rows' identity. FILE-BOUNDARY CONTRACT: each
    * staged file must hold WHOLE shards (`stageStreamDirByKey`) — a
    * shard split across files would half-absorb in one micro-batch and
    * the ledger would block the remainder.
    */
  def histogramAbsorbDrain(spark: SparkSession, streamDir: String,
      checkpointDir: String, path: String, shardCol: String,
      cents: org.apache.spark.sql.Column): Unit =
    fileDrain(spark, streamDir, checkpointDir, "graft_histogram_absorb") {
      graft.operators.Profile.absorbIntoHistogram(_, shardCol, cents, path)
    }

  /** One dedup-ingest micro-batch (the foreachBatch body, exposed for
    * direct replay tests): fingerprint the batch, keep min-id-per-novel-
    * fingerprint against the committed index below `batchId`, write the
    * UNION as v<batchId>. Index rows are (fingerprint, keeper_id).
    */
  def ingestDedupBatch(batch: DataFrame, batchId: Long, indexRoot: String,
      idCol: String, textCol: String): Unit = {
    require(idCol != "fingerprint",
      "ingestDedupBatch: id column collides with the reserved index column 'fingerprint'")
    val s = batch.sparkSession
    val fp = batch.select(col(idCol).cast("long").as("keeper_id"),
      md5(trim(regexp_replace(lower(col(textCol)), "\\s+", " "))).as("fingerprint"))
    val current = latestSnapshot(s, indexRoot, maxExclusive = Some(batchId))
    val novel = current match {
      case Some(idx) =>
        fp.join(idx.select("fingerprint"), Seq("fingerprint"), "left_anti")
      case None => fp
    }
    val collapsed = novel.groupBy("fingerprint")
      .agg(min(col("keeper_id")).as("keeper_id"))
    val merged = current match {
      case Some(idx) => idx.select("fingerprint", "keeper_id").unionByName(collapsed)
      case None => collapsed
    }
    merged.write.mode("overwrite").parquet(s"$indexRoot/v$batchId")
  }

  /** One CDC micro-batch fold (the foreachBatch body, exposed so restart
    * replay is directly testable): collapse `batch` to its latest change
    * per key, merge onto the newest committed snapshot with version <
    * `batchId`, write v<batchId>. Calling this twice with the same batchId
    * (= checkpoint-less replay after a crash) reproduces the same output.
    */
  def applyCdcBatch(batch: DataFrame, batchId: Long, snapshotRoot: String,
      key: String, orderDescCols: Seq[String]): Unit = {
    val s = batch.sparkSession
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(key).orderBy(orderDescCols.map(col(_).desc): _*)
    val latest = batch.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val merged = latestSnapshot(s, snapshotRoot, maxExclusive = Some(batchId)) match {
      case Some(current) =>
        graft.operators.Merge.upsertByKey(
          current.select(latest.columns.toIndexedSeq.map(col): _*), latest, key,
          validateUniqueKeys = false) // latest is unique per key by construction
      case None => latest
    }
    merged.write.mode("overwrite").parquet(s"$snapshotRoot/v$batchId")
  }

  /** Highest COMMITTED snapshot under `root` (None before the first batch).
    * A version directory counts only if its parquet `_SUCCESS` marker
    * exists — a dir from a crashed mid-write is invisible. `maxExclusive`
    * restricts to versions strictly below it: a replayed batch passes its
    * own batchId so it never resolves the very directory it is about to
    * overwrite (the restart-safety contract in `cdcApply`'s doc).
    */
  def latestSnapshot(spark: SparkSession, root: String,
      maxExclusive: Option[Long] = None): Option[DataFrame] = {
    val dir = new java.io.File(root)
    Option(dir.listFiles())
      .map(_.filter { f =>
        f.isDirectory && f.getName.matches("v\\d+") &&
          new java.io.File(f, "_SUCCESS").isFile &&
          maxExclusive.forall(f.getName.drop(1).toLong < _)
      }.toSeq)
      .filter(_.nonEmpty)
      .map(_.maxBy(_.getName.drop(1).toLong))
      .map(f => spark.read.parquet(f.toString))
  }

  /** Retention for the versioned snapshot stores (`cdcApply`,
    * `streamDedupIngest`): delete committed versions older than the
    * newest `keepLast`, never touching uncommitted (no `_SUCCESS`) dirs
    * newer than the newest committed version — those may be a write in
    * flight. The vacuum a production deploy schedules so the store
    * doesn't grow one full snapshot per batch forever. Returns the
    * deleted version numbers (ascending).
    */
  def pruneSnapshots(root: String, keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, "must keep at least the latest snapshot")
    val dir = new java.io.File(root)
    val versioned = Option(dir.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      .map(f => f.getName.drop(1).toLong -> f)
      .sortBy(_._1)
    val committed = versioned.filter { case (_, f) =>
      new java.io.File(f, "_SUCCESS").isFile
    }
    if (committed.isEmpty) return Seq.empty
    val keepFrom = committed.takeRight(keepLast).head._1
    val doomed = versioned.filter { case (v, f) =>
      v < keepFrom // old committed AND old crashed partials; in-flight dirs are newer
    }
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    doomed.foreach { case (_, f) => rm(f) }
    doomed.map(_._1)
  }

  /** Custom streaming state via KeyValueGroupedDataset.mapGroupsWithState:
    * a running per-user event counter (the canonical "custom state machine"
    * shape — anything not expressible as a windowed agg goes here). Update
    * output mode; the memory sink's latest update per user is the running
    * total. State is one Long per user — O(users) executor state,
    * checkpointable, watermark-evictable with a timeout at scale.
    */
  def statefulUserCounts(spark: SparkSession, eventsPath: String,
      queryName: String): DataFrame = {
    import spark.implicits._
    val users = openStream(spark, eventsPath, Link("graft-stream-state"))()
      .select(col("user_id")).as[Long]
    val counted = users.groupByKey(identity)
      .mapGroupsWithState[Long, (Long, Long)](GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[Long], state: GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + batch.size
          state.update(total)
          (user, total)
      }
      .toDF("user_id", "events")
    // the latest (= max, counts are monotonic) update per user is the total
    drainToTable(counted, queryName, "update").groupBy("user_id")
      .agg(max(col("events")).as("events"))
  }

  /** The alert stream itself (shared by the memory-sink query path and
    * the checkpointed parquet path): Append-mode flatMapGroupsWithState —
    * alerts are emitted exactly when crossed and never revised, so the
    * operator composes with append-only sinks and checkpoint recovery.
    */
  private def thresholdAlertStream(events: DataFrame,
      thresholdCents: Long): DataFrame = {
    import events.sparkSession.implicits._
    val spend = events
      .select(col("user_id"),
        when(col("value") > 0, floor(col("value") * 100 + 0.5).cast("long"))
          .otherwise(0L).as("cents"))
      .as[(Long, Long)]
    spend.groupByKey(_._1)
      .flatMapGroupsWithState[Long, (Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[(Long, Long)], state: GroupState[Long]) =>
          val old = state.getOption.getOrElse(0L)
          val total = old + batch.map(_._2).sum
          state.update(total)
          ((old / thresholdCents + 1) to (total / thresholdCents))
            .iterator.map(user -> _)
      }
      .toDF("user_id", "alert_idx")
  }

  /** Threshold alerting via flatMapGroupsWithState — the 0..n-rows-per-
    * group state machine mapGroupsWithState can't express: per user,
    * accumulate positive spend (cents) in state and EMIT one alert row
    * for every `thresholdCents` level the running total crosses within a
    * batch (a quiet batch emits nothing, a big one emits several — the
    * real-time budget/abuse alarm). Alert ordinals are cumulative across
    * batches (div(old,T)+1 .. div(new,T)), so replays from a checkpoint
    * continue the sequence instead of restarting it. State is one Long
    * per user; Update output mode.
    */
  def streamingThresholdAlerts(spark: SparkSession, eventsPath: String,
      thresholdCents: Long, queryName: String): DataFrame = {
    require(thresholdCents > 0, "streamingThresholdAlerts: threshold must be positive")
    drainToTable(thresholdAlertStream(
        openStream(spark, eventsPath, Link("graft-stream-alerts"))(),
        thresholdCents), queryName, "append")
  }

  /** Checkpointed variant: drain whatever is new in `streamDir` into a
    * parquet alert log at `outDir`, resuming group state from
    * `checkpointDir` — run it again after more files arrive and the alert
    * ordinals CONTINUE (the restart guarantee the scaladoc claims,
    * exercised by StreamAlertsRestartSpec).
    */
  def thresholdAlertsToDir(spark: SparkSession, streamDir: String,
      outDir: String, checkpointDir: String, thresholdCents: Long): Unit = {
    require(thresholdCents > 0, "thresholdAlertsToDir: threshold must be positive")
    drain(thresholdAlertStream(openStream(spark, streamDir)(), thresholdCents),
      "graft_threshold_alerts", "append", ToParquet(outDir, checkpointDir))
  }

  /** Input/output rows of the `transformWithState` discovery drain. */
  final case class DiscoveryEvent(user_id: Long, event_type: String,
      t_us: Long, event_id: Long)
  final case class Discovery(user_id: Long, event_type: String,
      first_t_us: Long, first_event_id: Long, types_so_far: Long)

  /** Per-user event-type discovery on the Spark 4 state-v2 API
    * (`transformWithState` + `StatefulProcessor`): emit one row the FIRST
    * time a (user, event_type) pair is seen, carrying the running count
    * of distinct types that user has shown. Composite state the v1
    * `flatMapGroupsWithState` single-value `GroupState` cannot express
    * natively: a `MapState[type → first-seen ts]` (point lookups and
    * per-entry updates against the store — the seen-set never
    * materializes in executor memory, which is the difference at 100 TB
    * between O(types-per-user-in-batch) and O(all-types-per-user) heap)
    * plus a `ValueState` distinct-type counter. State v2 requires the
    * RocksDB state store (set here for the query's session, restored
    * after) — the provider built for state that exceeds heap.
    *
    * Determinism contract: within a batch each user's rows are folded in
    * (t_us, event_id) order; across batches first-sight-wins. When the
    * backlog drains in one AvailableNow pass (the gated workload — file
    * sources default to reading the full listing), the output is exactly
    * the batch oracle: rank first occurrences per user by (ts, event_id).
    */
  private final class TypeDiscoveryProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, DiscoveryEvent, Discovery] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{MapState, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var seen: MapState[String, Long] = _
    @transient private var nTypes: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      seen = getHandle.getMapState[String, Long]("seen",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
      nTypes = getHandle.getValueState[Long]("n_types",
        Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[DiscoveryEvent],
        timerValues: TimerValues): Iterator[Discovery] = {
      val sorted = rows.toArray.sortBy(e => (e.t_us, e.event_id))
      var n = if (nTypes.exists()) nTypes.get() else 0L
      val out = Array.newBuilder[Discovery]
      sorted.foreach { e =>
        if (!seen.containsKey(e.event_type)) {
          n += 1
          seen.updateValue(e.event_type, e.t_us)
          out += Discovery(key, e.event_type, e.t_us, e.event_id, n)
        }
      }
      nTypes.update(n)
      out.result().iterator
    }
  }

  /** Output rows of the timer-based sessionizer. */
  final case class SessionOut(user_id: Long, session_start_us: Long,
      session_end_us: Long, events: Long, cents_sum: Long)

  /** Gap-based sessionization via state-v2 EVENT-TIME TIMERS — the same
    * semantics as `sessionize` (the native session_window operator) and
    * `Sequence.sessionizeBatch`, through the third mechanism: a
    * `StatefulProcessor` that buffers each user's events in ListState and
    * registers an event-time timer at (latest event + gap). When the
    * watermark passes the timer, `handleExpiredTimer` fires: the buffer
    * is sorted, split at gaps, every session provably closed (last event
    * + gap ≤ watermark) emits and leaves state, and the open tail
    * re-arms a timer. This is the canonical timer use — "do something
    * when a key goes QUIET" — which neither session_window (aggregation
    * only) nor mapGroupsWithState timeouts (processing-time or one
    * conflated event-time timeout) expresses as directly; state v2 gives
    * per-key timer REGISTRIES (any number, explicit delete) plus
    * composite state alongside.
    *
    * Determinism: session boundaries depend only on event times, and
    * every real session eventually closes (the staged sentinel pushes
    * the watermark), so the emitted set equals the batch gap-split
    * regardless of how files batch. The sentinel's own single-event
    * session is the one state row that never closes; its -1 user is
    * filtered from the drained table (post-sink — an in-plan filter
    * would push below the watermark node and stall it, the x133
    * lesson).
    */
  private final class SessionTimerProcessor(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long), SessionOut] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, TTLConfig, TimeMode, TimerValues}
    @transient private var buf: ListState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle.getListState[(Long, Long)]("buf",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, Long)],
        timerValues: TimerValues): Iterator[SessionOut] = {
      var minT = Long.MaxValue
      rows.foreach { case (_, t, cents) =>
        buf.appendValue((t, cents)); if (t < minT) minT = t
      }
      // arm at the EARLIEST possible close point of this batch's events
      // (oldest event + gap) so an old session emits as soon as the
      // watermark proves it closed, not when the key goes fully quiet;
      // the expiry handler re-arms at the oldest OPEN session's close
      // point. Ceiling to ms: a truncated-down timer could fire one
      // watermark step early and re-arm forever.
      if (minT != Long.MaxValue)
        getHandle.registerTimer((minT + gapUs + 999L) / 1000L)
      Iterator.empty
    }
    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionOut] = {
      val events = buf.get().toArray.sortBy(_._1)
      if (events.isEmpty) return Iterator.empty
      val wmUs = timerValues.getCurrentWatermarkInMs() * 1000L
      // split at gaps, emit sessions provably closed by the watermark
      val out = Array.newBuilder[SessionOut]
      val open = Array.newBuilder[(Long, Long)]
      var start = events.head._1; var end = start
      var n = 0L; var cents = 0L; var cur = Array.newBuilder[(Long, Long)]
      def flush(lastEnd: Long): Unit =
        if (n > 0) {
          if (lastEnd + gapUs <= wmUs)
            out += SessionOut(key, start, lastEnd, n, cents)
          else open ++= cur.result()
        }
      events.foreach { case (t, c) =>
        if (n > 0 && t - end > gapUs) {
          flush(end); n = 0L; cents = 0L; start = t; cur = Array.newBuilder
        }
        if (n == 0) start = t
        end = t; n += 1; cents += c; cur += ((t, c))
      }
      flush(end)
      val remaining = open.result()
      buf.clear()
      if (remaining.nonEmpty) {
        remaining.foreach(buf.appendValue)
        // the oldest open session's last event decides the next provable
        // close point — sessions split at gaps, so that is the max t of
        // the first remaining session, but min-t + gap is a safe earlier
        // bound (an early fire just re-arms)
        getHandle.registerTimer(
          (remaining.map(_._1).min + gapUs + 999L) / 1000L)
      }
      out.result().iterator
    }
  }

  /** The timer-based sessionizer over an events stream (state v2 on
    * RocksDB, event-time mode): one row per closed session —
    * (user_id, session_start_us, session_end_us, events, cents_sum).
    */
  private def sessionTimerStream(events: DataFrame,
      gap: java.time.Duration): DataFrame = {
    import events.sparkSession.implicits._
    val gapUs = gap.toNanos / 1000L
    events
      .withWatermark("ts", "1 minute")
      .select(col("user_id"), expr("unix_micros(ts)").as("t_us"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new SessionTimerProcessor(gapUs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
      .toDF()
  }

  def streamingSessionTimers(spark: SparkSession, eventsPath: String,
      gap: java.time.Duration, queryName: String): DataFrame =
    withRocksDbStore(spark) {
      drainToTable(sessionTimerStream(openStream(spark, eventsPath,
          Sentinel("graft-stream-sessions"))(), gap), queryName, "append")
        .filter(col("user_id") =!= -1L)
    }

  /** Checkpointed variant of the timer sessionizer: drain whatever is new
    * in `streamDir` into a parquet session log, resuming the ListState
    * buffers and armed timers from `checkpointDir` — run again after more
    * files arrive and (a) a session whose events SPAN the restart still
    * merges into one row, (b) already-emitted sessions are not re-emitted
    * (StreamSessionRestartSpec exercises both; no sentinel staging —
    * callers control the event horizon with their own late rows).
    */
  def sessionTimersToDir(spark: SparkSession, streamDir: String,
      outDir: String, checkpointDir: String,
      gap: java.time.Duration): Unit = withRocksDbStore(spark) {
    drain(sessionTimerStream(openStream(spark, streamDir)(), gap),
      "graft_session_timers", "append", ToParquet(outDir, checkpointDir))
  }

  /** Read the sessionizer's LIVE per-user event buffer out of a
    * checkpoint (statestore source over the "buf" ListState) — the
    * mid-stream introspection the MG monitor already has
    * (`heavyHittersFromState`): one row per BUFFERED event,
    * (user_id, t_us, cents). The buffer holds exactly the events of
    * sessions the watermark has not yet proven closed, so an operator
    * dashboard can see which sessions are open — and how much each is
    * holding — without touching the running query. ListState surfaces
    * through the source as one row per list element (`list_element._N`
    * for tuple fields; the grouping key rides `key.value`).
    */
  def sessionBufferFromState(spark: SparkSession,
      checkpointDir: String): DataFrame =
    spark.read.format("statestore")
      .option("stateVarName", "buf")
      .load(checkpointDir)
      .selectExpr("key.value AS user_id", "list_element._1 AS t_us",
        "list_element._2 AS cents")

  /** Progress row of the streaming MG monitor (one per shard per batch —
    * the observable the sink keeps; the real product is the state).
    */
  final case class MgTick(shard: Int, candidates: Long)

  /** Per-shard Misra–Gries maintenance in state-v2 MapState: each shard
    * key owns a ≤cap-entry counter map. A batch loads the counters into
    * heap (bounded by cap — loading the WHOLE state is the algorithm's
    * point, not a leak), folds the batch's tokens through classic MG,
    * and writes the set back. Folding batch-by-batch is literally
    * sequential MG over the shard's whole arrival stream, so the
    * guarantee (every token above shardTotal/k survives) holds across
    * any number of micro-batches and restarts.
    */
  private final class MgShardProcessor(cap: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Int, (Int, String), MgTick] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{MapState, TTLConfig, TimeMode, TimerValues}
    @transient private var counters: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counters = getHandle.getMapState[String, Long]("mg",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Int, rows: Iterator[(Int, String)],
        timerValues: TimerValues): Iterator[MgTick] = {
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      counters.iterator().foreach { case (t, w) => m.update(t, w) }
      rows.foreach { case (_, tok) =>
        m.get(tok) match {
          case Some(c) => m.update(tok, c + 1)
          case None if m.size < cap => m.update(tok, 1L)
          case None =>
            m.keys.toArray.foreach { kk =>
              val c = m(kk)
              if (c == 1L) { m.remove(kk); () } else m.update(kk, c - 1L)
            }
        }
      }
      counters.clear()
      m.foreach { case (t, w) => counters.updateValue(t, w) }
      Iterator.single(MgTick(key, m.size.toLong))
    }
  }

  /** Streaming heavy hitters — the continuous-vocabulary monitor: tokens
    * arrive as files (a crawl drop folder, staged here in `chunks`
    * micro-batches via maxFilesPerTrigger=1), each shard's Misra–Gries
    * counter set lives in MapState (bounded: shards × (k−1) entries
    * TOTAL, whatever the vocabulary does), and the candidate sets are
    * read back OUT OF THE CHECKPOINT with Spark 4's statestore data
    * source — the operational "what is this query holding" tool, used
    * here as the snapshot API a monitoring job would poll.
    *
    * Sharding by token hash preserves the MG guarantee: a token above
    * total/k globally is above shardTotal/k in its own shard (all its
    * occurrences live there and shardTotal ≤ total), so the union of
    * shard candidates contains every global heavy hitter after ANY
    * batching. The final exact recount + strict threshold then makes
    * the OUTPUT independent of sharding, batching, and restart points —
    * identical to the batch two-pass `Skew.heavyHitters`, which is what
    * the oracle checks.
    */
  def streamingHeavyHitters(spark: SparkSession, docsPath: String, k: Int,
      shards: Int, chunks: Int): DataFrame = {
    require(chunks > 0, "streamingHeavyHitters: chunks > 0")
    val streamDir = stageStreamDirChunksDf(spark, spark.read.parquet(docsPath),
      "graft-stream-mg", chunks)
    val root = java.nio.file.Files
      .createTempDirectory("graft-stream-mg-ckpt")
    heavyHittersMgDrain(spark, streamDir, s"$root/ckpt", s"$root/ticks",
      k, shards)
    heavyHittersFromState(spark, s"$root/ckpt",
      spark.read.parquet(docsPath), k)
  }

  /** Drain whatever is new under `streamDir` into the per-shard MG state
    * at `checkpointDir` (one micro-batch per file), appending per-batch
    * candidate-count ticks to the parquet log at `outDir` (a parquet
    * sink, because the memory sink refuses checkpoint RECOVERY and this
    * drain is built to resume) — re-runnable as more files land; the
    * counters resume and keep folding, which is what
    * `StreamMgRestartSpec` pins across a restart.
    */
  def heavyHittersMgDrain(spark: SparkSession, streamDir: String,
      checkpointDir: String, outDir: String, k: Int,
      shards: Int): Unit = withRocksDbStore(spark) {
    import spark.implicits._
    require(k >= 2 && shards > 0,
      "heavyHittersMgDrain: k >= 2, shards > 0")
    val toks = openStream(spark, streamDir, oneFilePerBatch = true)()
      .select(explode(graft.functions.Portable.tokens(col("text"))).as("token"))
      .select(pmod(xxhash64(col("token")), lit(shards)).cast("int").as("shard"),
        col("token"))
      .as[(Int, String)]
    drain(toks.groupByKey(_._1)
        .transformWithState(new MgShardProcessor(k - 1),
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Append()).toDF(),
      "graft_heavy_hitters_mg", "append", ToParquet(outDir, checkpointDir))
  }

  /** Snapshot the MG candidate union out of the checkpoint (statestore
    * data source) and resolve it against `corpus` with an exact recount
    * + the strict threshold — the output is therefore independent of
    * sharding, batching, and restart points.
    */
  def heavyHittersFromState(spark: SparkSession, checkpointDir: String,
      corpus: DataFrame, k: Int): DataFrame = {
    val candidates = spark.read.format("statestore")
      .option("stateVarName", "mg")
      .load(checkpointDir)
      .selectExpr("user_map_key.value AS token")
      .distinct()
    val all = corpus
      .select(explode(graft.functions.Portable.tokens(col("text"))).as("token"))
    val total = all.agg(count(lit(1)).as("total"))
    all.join(broadcast(candidates), Seq("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") * k > col("total"))
      .select(col("token"), col("cnt"),
        expr("div(10000 * cnt, total)").as("pct_x10000"))
  }

  /** Stage a frame as `chunks` separate parquet part files in a fresh
    * directory, so a maxFilesPerTrigger=1 file stream drains it in
    * `chunks` micro-batches (the multi-batch twin of stageStreamDir's
    * single-symlink staging).
    */
  private[graft] def stageStreamDirChunksDf(spark: SparkSession,
      df: DataFrame, prefix: String, chunks: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    val tmp = java.nio.file.Files.createTempDirectory(s"$prefix-w")
    df.repartition(chunks)
      .write.mode("overwrite").parquet(tmp.toString)
    val parts = tmp.toFile.listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    // repartition(chunks) only GUARANTEES `chunks` part files when every
    // partition is non-empty; a tiny input can write fewer. The multi-batch
    // restart/continuity specs count on draining exactly `chunks`
    // micro-batches — fail loudly rather than let a silently smaller batch
    // count masquerade as multi-batch coverage.
    require(parts.length == chunks,
      s"stageStreamDirChunksDf: input staged ${parts.length} non-empty " +
        s"chunks but $chunks were requested — input too small for the " +
        "requested micro-batch count")
    parts.zipWithIndex.foreach { case (f, i) =>
      java.nio.file.Files.move(f.toPath,
        dir.resolve(f"chunk-$i%04d.parquet"))
    }
    dir.toString
  }

  /** Stage one parquet file PER DISTINCT KEY VALUE (key order) — for
    * drains whose absorb idempotency is keyed on a unit larger than a
    * row (the histogram family's shard ledger): a key split across
    * files would half-absorb in one micro-batch and the ledger would
    * block the remainder forever, so file boundaries must align with
    * key boundaries. Key count is collected driver-side — callers
    * stage feed-sized key sets (days, sources), never a corpus.
    */
  private[graft] def stageStreamDirByKey(spark: SparkSession,
      df: DataFrame, prefix: String, keyCol: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    val keys = df.select(keyCol).distinct().orderBy(keyCol).collect()
      .map(_.get(0))
    require(keys.nonEmpty, "stageStreamDirByKey: no keys to stage")
    // a null key would never match the `=== k` filter below — its rows
    // would silently vanish while an empty chunk file staged in their
    // place (round-13 advisory). Fail loud: a shard feed with a null
    // shard id is an upstream bug, not a drainable unit.
    require(!keys.contains(null),
      s"stageStreamDirByKey: null value in key column '$keyCol' — " +
        "null keys cannot name a shard; fix the feed or filter it out")
    keys.zipWithIndex.foreach { case (k, i) =>
      val tmp = java.nio.file.Files.createTempDirectory(s"$prefix-w$i")
      df.filter(col(keyCol) === k).coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles()
        .filter(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
      require(part.length == 1,
        s"stageStreamDirByKey: key $k staged ${part.length} part files")
      java.nio.file.Files.move(part.head.toPath,
        dir.resolve(f"chunk-$i%04d.parquet"))
      ()
    }
    dir.toString
  }

  /** Run `body` with the RocksDB state store provider set (state v2
    * requires it), restoring the prior provider after.
    */
  private def withRocksDbStore[A](spark: SparkSession)(body: => A): A = {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prior match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  private def typeDiscoveryStream(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("t_us"), col("event_id"))
      .as[DiscoveryEvent]
      .groupByKey(_.user_id)
      .transformWithState(new TypeDiscoveryProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
      .toDF()
  }

  /** Drain `eventsPath` through the state-v2 discovery processor into a
    * memory sink (AvailableNow). See `TypeDiscoveryProcessor` for the
    * semantics and the state-store requirement.
    */
  def streamingTypeDiscovery(spark: SparkSession, eventsPath: String,
      queryName: String): DataFrame = withRocksDbStore(spark) {
    drainToTable(typeDiscoveryStream(openStream(spark, eventsPath,
      Link("graft-stream-discovery"))()), queryName, "append")
  }

  /** Checkpointed variant: drain whatever is new in `streamDir` into a
    * parquet discovery log at `outDir`, resuming the MapState seen-sets
    * and ValueState counters from `checkpointDir` — run again after more
    * files arrive and (a) already-discovered types are NOT re-emitted,
    * (b) `types_so_far` CONTINUES from the restored counter
    * (StreamDiscoveryRestartSpec exercises both).
    */
  def typeDiscoveryToDir(spark: SparkSession, streamDir: String,
      outDir: String, checkpointDir: String): Unit = withRocksDbStore(spark) {
    drain(typeDiscoveryStream(openStream(spark, streamDir)()),
      "graft_type_discovery", "append", ToParquet(outDir, checkpointDir))
  }

  // ---- statestore readback: "what is this stream holding right now" ----
  // Every stateful operator on the query surface has its state readable
  // through the statestore source; the typed consumers below plus
  // sessionBufferFromState/heavyHittersFromState cover the custom
  // state-v2 processors, and `stateStoreRows` is the uniform entry for
  // the BUILT-IN stateful operators (windowed aggregates, streaming
  // dedup, stream-stream joins), whose state the source exposes without
  // a stateVarName — joins additionally take the side, chained stateful
  // queries the operator id. README carries the full op → state →
  // consumer table; StreamStateReadbackSpec pins one live checkpoint
  // per machinery class.

  /** Uniform statestore read over any operator's checkpoint: built-in
    * stateful operators need no `stateVar`; `joinSide` ("left"/"right")
    * selects a stream-stream join's buffer; `operatorId` disambiguates
    * queries chaining several stateful operators. Identify which id is
    * which by the KEY SCHEMA, not by assuming an order — in the
    * dedup→window-agg chain the aggregate surfaced as id 0 and the
    * dedup as id 1 (schema-dumped against a live checkpoint;
    * StreamStateReadbackSpec does the schema-based dispatch).
    */
  def stateStoreRows(spark: SparkSession, checkpointDir: String,
      stateVar: Option[String] = None, joinSide: Option[String] = None,
      operatorId: Option[Long] = None): DataFrame = {
    var r = spark.read.format("statestore")
    stateVar.foreach(v => r = r.option("stateVarName", v))
    joinSide.foreach(v => r = r.option("joinSide", v))
    operatorId.foreach(v => r = r.option("operatorId", v))
    r.load(checkpointDir)
  }

  /** x129 discovery readback, MapState "seen": one row per (user,
    * discovered type) with its first-seen event time — the full
    * discovery memory, straight from the checkpoint.
    */
  def discoverySeenFromState(spark: SparkSession,
      checkpointDir: String): DataFrame =
    stateStoreRows(spark, checkpointDir, stateVar = Some("seen"))
      .selectExpr("key.value AS user_id",
        "user_map_key.value AS event_type",
        // MapState VALUES ride `user_map_value` (the plain `value`
        // column belongs to ValueState/ListState reads)
        "user_map_value.value AS first_t_us")

  /** x129 discovery readback, ValueState "n_types": the per-user
    * distinct-type counter the next emission will continue from.
    */
  def discoveryTypeCountFromState(spark: SparkSession,
      checkpointDir: String): DataFrame =
    stateStoreRows(spark, checkpointDir, stateVar = Some("n_types"))
      .selectExpr("key.value AS user_id", "value.value AS types_so_far")
}
