package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.streaming.StreamOps

/** File-level ingestion operators for the raw-text formats a crawl
  * pipeline lands before anything is parquet: JSONL with per-line
  * corruption tolerance. A 100 TB crawl ALWAYS contains malformed lines
  * (truncated uploads, encoding damage, mid-write snapshots); the job
  * must neither fail (FAILFAST) nor silently null them out (plain
  * PERMISSIVE) — it must split them into a quarantine channel that
  * preserves the raw bytes for re-crawl/forensics.
  */
object Ingest {

  /** Read a JSONL directory into (valid, quarantine):
    *  - `valid`: lines that parse under `schemaDdl` AND carry a non-null
    *    `idField`, projected to the schema's typed columns;
    *  - `quarantine`: the REMAINING lines, raw and untouched, with a
    *    `reason` column (`malformed` — the parser returned nothing —
    *    vs `missing_id` — valid JSON missing the primary key).
    *
    * Implementation is `spark.read.text` + `from_json` — a map-only,
    * whole-stage-codegen'd split with NO shuffle on either branch; at
    * scale both outputs stream partition-by-partition and the quarantine
    * side costs nothing when empty. Blank lines (trailing newlines,
    * empty files) are dropped outright rather than quarantined — they
    * carry no bytes worth keeping.
    *
    * Malformed detection uses `from_json`'s `columnNameOfCorruptRecord`
    * channel, NOT a null-struct check: under PERMISSIVE mode an
    * unparseable line yields a struct of null LEAVES (the struct itself
    * is non-null), so only the corrupt-record column distinguishes
    * "line didn't parse" from "line parsed but the field is absent".
    * A partially-salvaged line (some fields recovered before the damage)
    * still carries the corrupt marker and is triaged malformed — partial
    * salvage is not valid data (`IngestSpec` covers all three classes).
    */
  def jsonlWithQuarantine(spark: SparkSession, path: String,
      schemaDdl: String, idField: String): (DataFrame, DataFrame) = {
    val schema = validatedSchema(schemaDdl, idField)
    triage(spark.read.text(path), schema, idField, from_json(_, _, parseOpts))
  }

  /** CSV twin of [[jsonlWithQuarantine]] — same triage contract over
    * headerless CSV lines (schema fields bind by POSITION). `from_csv`
    * under PERMISSIVE sets the corrupt-record channel for wrong column
    * counts and type errors; a row with an EMPTY key field parses clean
    * with a null id and lands in `missing_id`. One CSV-specific caveat,
    * pinned in IngestSpec: an unclosed quote is SALVAGED by the parser
    * (field taken to end of line, no corrupt marker) — quote damage is
    * not detectable as malformed, truncated/overlong records and type
    * errors are.
    */
  def csvWithQuarantine(spark: SparkSession, path: String,
      schemaDdl: String, idField: String): (DataFrame, DataFrame) = {
    val schema = validatedSchema(schemaDdl, idField)
    triage(spark.read.text(path), schema, idField, from_csv(_, _, parseOpts))
  }

  /** STREAMING twin of [[jsonlWithQuarantine]] — the crawl-firehose
    * shape: lines stream in (`readStream.text`), the same expression-only
    * triage splits each micro-batch, and `foreachBatch` appends the two
    * channels to parquet under `outRoot/valid` and `outRoot/quarantine`
    * with a checkpoint, so a crashed ingest resumes exactly where it
    * stopped (micro-batch append + checkpointed offsets = each line
    * lands exactly once). The AvailableNow trigger drains the current
    * backlog and stops — a production deployment just removes the
    * trigger. Returns the two channels read back from the sinks.
    *
    * Exactly-once output despite foreachBatch's at-least-once contract:
    * each micro-batch lands in a `batch=<id>` subdirectory with
    * mode(OVERWRITE), so a crash-replay of the same batch id rewrites
    * the same directory instead of double-appending (the standard
    * idempotent-foreachBatch pattern); the read-back drops the
    * discovered `batch` partition column. Each batch is persisted
    * across the two channel writes so its files are scanned and parsed
    * once, not twice.
    *
    * Both sink directories are pre-initialized with an empty typed
    * `batch=-1` frame ONLY when absent (Hadoop-FS existence check, so
    * URI and non-local outRoots behave the same as bare local paths):
    * (a) a drain with zero rows in either channel still reads back as
    * an empty table instead of a schema-less read failure, and (b) a
    * RESUME against an existing outRoot keeps its already-written data
    * — the checkpoint skips processed input files, so wiping the sinks
    * on re-entry would lose exactly the rows it refuses to replay.
    */
  def jsonlStreamWithQuarantine(spark: SparkSession, path: String,
      schemaDdl: String, idField: String, outRoot: String): (DataFrame, DataFrame) = {
    val schema = validatedSchema(schemaDdl, idField)
    val validDir = s"$outRoot/valid"
    val quarDir = s"$outRoot/quarantine"
    val (emptyV, emptyQ) = triage(
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType.fromDDL("value STRING")), schema, idField)
    val hconf = spark.sessionState.newHadoopConf()
    def initIfMissing(dir: String, df: DataFrame): Unit = {
      val p = new org.apache.hadoop.fs.Path(dir)
      if (!p.getFileSystem(hconf).exists(p)) {
        df.write.mode("overwrite").parquet(s"$dir/batch=-1"); ()
      }
    }
    initIfMissing(validDir, emptyV)
    initIfMissing(quarDir, emptyQ)
    StreamOps.drain(spark.readStream.text(path), "graft_jsonl_ingest",
      "append", StreamOps.ToBatches(Some(s"$outRoot/_checkpoint"),
        (batch, batchId) => {
          val b = batch.persist()
          try {
            val (v, quar) = triage(b, schema, idField)
            v.write.mode("overwrite").parquet(s"$validDir/batch=$batchId")
            quar.write.mode("overwrite").parquet(s"$quarDir/batch=$batchId")
          } finally { b.unpersist(); () }
        }))
    (spark.read.parquet(validDir).drop("batch"),
      spark.read.parquet(quarDir).drop("batch"))
  }

  private def validatedSchema(schemaDdl: String, idField: String): StructType = {
    val schema = StructType.fromDDL(schemaDdl)
    require(schema.fieldNames.contains(idField),
      s"jsonlWithQuarantine: idField '$idField' is not in the schema " +
        s"(${schema.fieldNames.mkString(", ")})")
    require(!schema.fieldNames.contains("_corrupt_record"),
      "jsonlWithQuarantine: the schema must not declare _corrupt_record " +
        "(reserved for the malformed-line channel)")
    require(!schema.fieldNames.contains("batch"),
      "jsonlWithQuarantine: the schema must not declare 'batch' — the " +
        "streaming sink's batch=<id> partition layout would shadow the " +
        "data column with the directory value on read-back")
    schema
  }

  private val parseOpts = Map("mode" -> "PERMISSIVE",
    "columnNameOfCorruptRecord" -> "_corrupt_record")

  /** The expression-only triage shared by the JSONL/CSV and
    * batch/streaming paths (works on any `value: STRING` frame — it is
    * pure column expressions, no shuffle); `parse` is the format's
    * parser expression (from_json / from_csv with the corrupt-record
    * channel enabled).
    */
  private def triage(lines0: DataFrame, schema: StructType, idField: String,
      parse: (org.apache.spark.sql.Column, StructType) => org.apache.spark.sql.Column = from_json(_, _, parseOpts)): (DataFrame, DataFrame) = {
    val parseSchema = schema.add("_corrupt_record",
      org.apache.spark.sql.types.StringType)
    val lines = lines0
      .filter(length(trim(col("value"))) > 0)
      .withColumn("__p", parse(col("value"), parseSchema))
    val malformed = col("__p").isNull ||
      col("__p._corrupt_record").isNotNull
    val valid = lines
      .filter(!malformed && col(s"__p.$idField").isNotNull)
      .select(schema.fieldNames.map(f => col(s"__p.$f").as(f)).toSeq: _*)
    val quarantine = lines
      .filter(malformed || col(s"__p.$idField").isNull)
      .select(col("value").as("raw_line"),
        when(malformed, "malformed").otherwise("missing_id").as("reason"))
    (valid, quarantine)
  }
}
