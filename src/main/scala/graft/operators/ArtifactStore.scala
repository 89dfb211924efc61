package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Shared store discipline for the persisted-artifact families — the
  * LSH label/index family (`Dedup`), the IVF vector index
  * (`VectorIndex`), the histogram (`Profile`) and the BPE vocabulary
  * (`TextAnalysis`). Every rule here was earned on the LSH family and
  * holds for any write-once/maintain-forever artifact:
  *
  *  - paths go through the Hadoop FileSystem API, never `java.io.File`
  *    (an hdfs:///s3:// store must behave exactly like a local one);
  *  - a write that REPLACES a whole root — every build and every full
  *    rewrite (rebalance, retrain, retract) — goes through `writeRoot`,
  *    the one root writer: the new generation is staged beside the live
  *    one and swapped in, so a failed build leaves the previous
  *    generation (tombstones included) live. A write that replaces one
  *    substore is a staged swap too (`writeParquetStaged`) — plain
  *    overwrite deletes the target before the job runs, so a mid-job
  *    crash loses the store;
  *  - deletions are TOMBSTONES every reader anti-joins (`readStore`) —
  *    flat-cost retraction, with `compact` as the periodic physical
  *    fold;
  *  - appends are idempotent (`appendMissing`) — a retry after a
  *    partial failure skips the rows a previous run committed;
  *  - the single-row build-parameter `meta` store is read at most once
  *    per (JVM, qualified path) (`cachedMeta`; `writeRoot` seeds the
  *    cache) — a per-batch driver job here is exactly the per-batch
  *    overhead a many-small-batches maintenance loop must not pay.
  *
  * RENAME CONTRACT (applies to every staged swap here — `swapRootStaged`
  * under `writeRoot` and `writeParquetStaged`, `mutateBucketsMulti`'s
  * per-bucket applies — and to the one-job insert append's post-write
  * renames in `Dedup.appendGeometries`): crash safety and the
  * O(touched) cost claims assume `FileSystem.rename` is a CHEAP ATOMIC METADATA
  * operation — HDFS semantics, which local FS also provides. On raw
  * object stores (S3A) a "rename" is a non-atomic server-side
  * copy+delete: the swap window can expose a partially renamed store
  * AND each swap silently pays a data copy, turning the O(touched)
  * mutations back into O(store) I/O. Deploy object-store-backed
  * artifacts behind a layer that restores rename semantics — HDFS, a
  * table format's commit protocol (Delta/Iceberg), or an
  * HDFS-compatible store (e.g. S3-backed HDFS tiers) — never a raw
  * `s3a://` root.
  */
private[graft] object ArtifactStore {

  /** Test-only crash injection for the staged mutations: 0 = off; 1 =
    * die right after the bucket mutation's `__COMMIT` marker lands
    * (staging complete, nothing applied); 2 = die after the first
    * bucket applies (mixed live state); 3 = die in `writeRoot` right
    * after the root `_SUCCESS` marker lands, before the swap
    * renames (complete marked staging parked beside the live root).
    * Specs use it to drive `repairStore` through every crash window. */
  @volatile private[graft] var testCrashPoint: Int = 0

  /** Count of actual meta-store read JOBS, for specs pinning "at most
    * one per (JVM, path)". */
  val metaReads = new java.util.concurrent.atomic.AtomicLong(0)

  /** Run `f` with a thread-local Spark job description (guide §1.5):
    * every job launched inside — actions, eager file listings, broadcast
    * builds — carries `g:<name>` in the UI and in `Probe jobs`' per-site
    * counts, which is what makes the mutation family's fixed per-batch
    * job overhead attributable (callSite under foreachBatch always
    * points at the streaming start). Nesting restores the outer label. */
  private[graft] def labeled[T](spark: SparkSession, name: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription("g:" + name)
    try f finally sc.setJobDescription(prev)
  }

  /** The one eager materialization in `src/main`: every plan-truncating
    * checkpoint — the artifact mutation paths, the iterative operators,
    * the staged query bodies, the ingest loop's remaining set — goes
    * through here. The contract every caller inherits:
    *
    *  - EAGER: the frame's plan runs when this is called, not when the
    *    result is consumed — never build it speculatively (plan
    *    inspection, conditional pipelines; operators that want a
    *    declarative twin take a `checkpoint` flag instead);
    *  - LINEAGE-FREE: the result reads only the materialized data, so a
    *    plan over it never re-runs the upstream subtree, and a sink
    *    append cannot invalidate it (it is outside the CacheManager);
    *  - RELEASED ONLY through [[release]]: `Dataset.unpersist` on the
    *    result frees nothing;
    *  - ONE POLICY for every site. By default the blocks live in the
    *    executors' block managers (`level`, Spark's local-checkpoint
    *    default unless a caller passes one): fast, and right for local
    *    mode and bounded runs, but a lost executor FAILS the reading job
    *    instead of recomputing lineage. With
    *    `spark.graft.mutation.reliableCheckpoint=true` every site writes
    *    to the context's checkpoint dir instead (set
    *    `spark.graft.mutation.checkpointDir` if the context has none):
    *    recoverable, at one fault-tolerant-FS round trip per checkpoint.
    *    Results are identical either way (LabelsBucketSpec runs absorbs,
    *    a PageRank and an ingest under both modes).
    *
    * The one-argument form is for sites already inside a [[labeled]]
    * block; every other site passes `label`, the `g:` name its jobs
    * carry in the UI and in `Probe jobs`.
    */
  private[graft] def eagerCheckpoint(df: DataFrame): DataFrame =
    materialize(df, StorageLevel.MEMORY_AND_DISK)

  private[graft] def eagerCheckpoint(df: DataFrame, label: String,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    labeled(df.sparkSession, label)(materialize(df, level))

  private def materialize(df: DataFrame, level: StorageLevel): DataFrame = {
    val spark = df.sparkSession
    if (!spark.conf.getOption("spark.graft.mutation.reliableCheckpoint")
        .contains("true"))
      df.localCheckpoint(true, level)
    else {
      val sc = spark.sparkContext
      if (sc.getCheckpointDir.isEmpty)
        spark.conf.getOption("spark.graft.mutation.checkpointDir") match {
          case Some(d) => sc.setCheckpointDir(d)
          case None => throw new IllegalStateException(
            "spark.graft.mutation.reliableCheckpoint=true requires a " +
              "checkpoint dir: set spark.graft.mutation.checkpointDir " +
              "or SparkContext.setCheckpointDir first")
        }
      df.checkpoint()
    }
  }

  /** Free what [[eagerCheckpoint]] made for `df`: the blocks of the RDD
    * its `LogicalRDD` wraps (`df.rdd` is a fresh wrapper over that RDD,
    * whose unpersist frees nothing), and in the reliable mode that RDD's
    * checkpoint files. Call it once nothing reads `df` any more. */
  private[graft] def release(df: DataFrame): Unit = {
    val rdd = df.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }.get
    rdd.unpersist(blocking = false)
    rdd.getCheckpointFile.foreach(deletePath(df.sparkSession, _))
  }

  private val metaCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[Row]]()

  /** Substore SCHEMA cache — the read twin of the meta cache: a
    * schema-less `read.parquet` call launches a footer-inference Spark
    * JOB (measured on this Spark version — the census paid one per
    * substore before batching), and the absorb/probe paths re-read
    * pruned substore subsets several times PER BATCH, so a maintenance
    * loop was paying ~10 inference jobs per absorb (measured on one
    * N = 512 label absorb: 64 jobs → 58 with a cold cache — 3 of which
    * are the first-read seeds — → 55 warm; on an object store each was
    * also footer GET round trips). A substore's schema is part of the same
    * build contract the meta row records, so it is cached per (JVM,
    * qualified key) and invalidated together with the meta
    * (`invalidateMeta` clears every key under the root). Root reads and
    * leaf-dir reads cache under DIFFERENT keys — a root read's schema
    * carries the discovered partition columns, a leaf read's does not.
    */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  /** Read parquet `paths` with the schema cached under
    * `keyPath` + `keySuffix` — the first read per (JVM, key) pays the
    * inference job and seeds the cache; every later read skips it.
    * `keyPath` must live UNDER the artifact root (or be the root
    * itself) so `invalidateMeta` drops it on rebuild/repair/rebalance.
    */
  def readParquetCached(spark: SparkSession, keyPath: String,
      paths: Seq[String], keySuffix: String = ""): DataFrame = {
    val key = qualifiedPath(spark, keyPath) + keySuffix
    val cached = schemaCache.get(key)
    if (cached != null) spark.read.schema(cached).parquet(paths: _*)
    else {
      val df = spark.read.parquet(paths: _*)
      schemaCache.put(key, df.schema)
      df
    }
  }

  def qualifiedPath(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf())
      .makeQualified(p).toString
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  def deletePath(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    ()
  }

  def invalidateMeta(spark: SparkSession, root: String): Unit = {
    val q = qualifiedPath(spark, root)
    metaCache.remove(q)
    // the schema cache shares the meta's lifecycle: layout-changing
    // maintenance (rebuild, rebalance, retrain, repair) always
    // invalidates the meta, and substore schemas are part of the same
    // build contract — drop every cached schema under this root
    val it = schemaCache.keySet().iterator()
    while (it.hasNext) {
      val k = it.next()
      if (k == q || k.startsWith(q + "/") || k.startsWith(q + "#"))
        it.remove()
    }
  }

  /** Seed the cache with the meta row `writeRoot` just wrote — its first
    * consumer then skips the read job entirely. */
  private def seedMeta(spark: SparkSession, root: String, row: Row): Unit = {
    metaCache.put(qualifiedPath(spark, root), Some(row)); ()
  }

  /** The artifact's single-row `meta` store, read once per (JVM,
    * qualified path); `None` caches "no meta store here" (the artifact
    * families read it through `layoutMeta`, which fails loud on that).
    * Roots mutated outside the artifact APIs (a raw file copy
    * over an existing root) are on the caller — `invalidateMeta` is the
    * escape hatch, and it covers BOTH caches: the substore SCHEMA
    * cache shares the meta's lifecycle, and its stale entry is the
    * WORSE failure — files copied in with new columns would silently
    * read through the old schema (added columns dropped, not an
    * error), where stale meta at least fails on contract checks. Every
    * raw-copy site must call `invalidateMeta` on the destination root
    * after the copy (the bench scratch staging does).
    */
  def cachedMeta(spark: SparkSession, root: String): Option[Row] =
    metaCache.computeIfAbsent(qualifiedPath(spark, root),
      _ => if (!exists(spark, s"$root/meta")) None
      else {
        metaReads.incrementAndGet()
        Some(spark.read.parquet(s"$root/meta").head())
      })

  /** The meta row of a root its family reads and mutates through ONE
    * layout: every field of `fields` must be recorded. A root with no
    * meta, or a meta written before one of the fields existed, throws
    * [[StoreLayoutException]] naming the root, the missing field and
    * `build`, the call that writes the current layout — an old store
    * fails loudly instead of silently taking a full scan. */
  def layoutMeta(spark: SparkSession, root: String, build: String,
      fields: String*): Row = {
    val row = cachedMeta(spark, root)
      .getOrElse(throw new StoreLayoutException(root, "meta", build))
    fields.find(f => !row.schema.fieldNames.contains(f))
      .foreach(f => throw new StoreLayoutException(root, f, build))
    row
  }

  /** Keyed repartition with a PINNED partition count, for use directly
    * before a partitionBy write (round 16). The keyless
    * `repartition(cols)` keeps the one-file-per-dir discipline but AQE
    * coalesces a small shuffle to ONE partition, serializing every
    * per-dir parquet file's open/footer/close onto a single task — at
    * artifact-store geometry (hundreds of small bucket dirs) the file
    * overhead, not the rows, is the write's wall cost (measured 1.6 s
    * of a 7 s absorb micro-batch). Pinning the session's configured
    * shuffle partition count restores parallel file writes and is
    * exactly what the keyless form did before AQE; file counts are
    * unchanged (a dir's group hashes to one task either way). */
  def writeRepartition(df: DataFrame, cols: Seq[org.apache.spark.sql.Column]): DataFrame =
    df.repartition(
      df.sparkSession.sessionState.conf.numShufflePartitions, cols: _*)

  /** Swap-style parquet rewrite: the new data lands complete at
    * `<path>.__staging` first, then two renames swap it in (old store
    * parked at `<path>.__old` until the swap commits). At every instant
    * a COMPLETE store exists under some path; the one crash window
    * between the renames leaves the previous store intact at
    * `<path>.__old` — recovery is renaming it back. Stale staging/old
    * dirs from a crashed run are cleared on entry.
    *
    * ATOMIC-RENAME ASSUMPTION (round-11 advisory): the crash-safety
    * claim holds on filesystems where `FileSystem.rename` is an atomic
    * metadata operation — local FS and HDFS. On S3A a rename is a
    * non-atomic copy+delete, so the swap window can expose a partially
    * renamed target; deploy object-store-backed artifacts behind a
    * rename-atomic layer (HDFS, a table format's commit protocol, or
    * S3-on-EMRFS with a consistent commit) rather than raw S3A paths.
    */
  def writeParquetStaged(spark: SparkSession, df: DataFrame,
      path: String, partitionCols: Seq[String] = Nil): Unit = {
    val fs = fileSystem(spark, path)
    val staging = new org.apache.hadoop.fs.Path(path + ".__staging")
    fs.delete(staging, true)
    fs.delete(new org.apache.hadoop.fs.Path(path + ".__old"), true)
    if (partitionCols.isEmpty)
      df.write.mode("overwrite").parquet(staging.toString)
    else
      // repartition on the partition key first, or the write fans out
      // tasks × partitions small files (consumers pay the listing on
      // every read)
      writeRepartition(df, partitionCols.map(col)).write.mode("overwrite")
        .partitionBy(partitionCols: _*).parquet(staging.toString)
    swapRootStaged(fs, path)
  }

  private def fileSystem(spark: SparkSession,
      path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())

  /** Total bytes of data files under a directory (recursive), by one
    * content summary: `ChecksumFileSystem` hides `.crc` files from it,
    * and on HDFS it is one NameNode call. Never a located listing
    * (`listFiles`): on the local FS without libhadoop every
    * `LocatedFileStatus` it builds forks a shell for the file's
    * permission and owner (140 files: ~0.78 s, against ~10 ms for the
    * summary, on a 4-core Linux host). */
  private def dirBytes(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Long =
    if (!fs.exists(dir)) 0L else fs.getContentSummary(dir).getLength

  /** The rename half of the staged swap, shared by `writeParquetStaged`,
    * `writeRoot` and `repairStore`: park the live store at `<path>.__old`,
    * rename `<path>.__staging` in, drop the parked copy. The staging dir
    * must be COMPLETE before this is called (its `_SUCCESS` marker is
    * what `repairStore` keys roll-forward on). */
  private def swapRootStaged(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Unit = {
    val target = new org.apache.hadoop.fs.Path(path)
    val staging = new org.apache.hadoop.fs.Path(path + ".__staging")
    val old = new org.apache.hadoop.fs.Path(path + ".__old")
    if (fs.exists(target)) require(fs.rename(target, old),
      s"staged swap: could not park $target at $old")
    require(fs.rename(staging, target),
      s"staged swap: could not swap $staging into $target " +
        s"(previous store intact at $old)")
    fs.delete(old, true)
    ()
  }

  /** The one whole-root writer: every artifact build and full rewrite
    * (labels build and rebalance, LSH build and rebalance, IVF build and
    * retrain, histogram build and retract, BPE build) stages the new
    * generation beside the live root and swaps it in, in this order:
    *
    *  1. stale `<root>.__staging` / `<root>.__old` debris is cleared;
    *  2. `write(staging)` writes every substore under the staging root
    *     and returns the one-row meta frame (a meta that records what was
    *     written, such as a byte target, measures the staged dirs);
    *  3. the meta lands at `<staging>/meta`;
    *  4. a job-written `_SUCCESS` at the staging root is removed — the
    *     root marker means "every substore landed", so no marker may
    *     appear before the driver's own;
    *  5. the driver writes the root marker, the last write before the
    *     swap (what `repairStore` keys roll-forward on);
    *  6. `testCrashPoint = 3` throws here;
    *  7. two renames swap the staging root in; the old generation — its
    *     tombstones and crash debris included — is dropped;
    *  8. the meta and schema caches under the root are dropped and the
    *     meta cache is seeded with the new row.
    *
    * Several substores change together, so per-substore swaps would leave
    * a crash window where one reflects the write and another doesn't
    * (for a ledgered mutation: double-apply on retry). A crash before the
    * marker leaves the previous generation live; after it, `repairStore`
    * rolls the complete staging forward — including the marker→first-
    * rename window where the old root is still live.
    */
  def writeRoot(spark: SparkSession, root: String)(
      write: String => DataFrame): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = fileSystem(spark, root)
    val staging = new Path(root + ".__staging")
    fs.delete(staging, true)
    fs.delete(new Path(root + ".__old"), true)
    val meta = write(staging.toString)
    meta.write.mode("overwrite").parquet(s"$staging/meta")
    fs.delete(new Path(staging, "_SUCCESS"), false)
    fs.create(new Path(staging, "_SUCCESS"), true).close()
    if (testCrashPoint == 3)
      throw new IllegalStateException(
        "testCrashPoint=3: crash after root marker, before the swap")
    swapRootStaged(fs, root)
    invalidateMeta(spark, root)
    seedMeta(spark, root, meta.head())
  }

  /** Tombstone-filtered read of one of the root's row stores: retracted
    * keys are invisible to every consumer (the deletion-vector
    * pattern). Tombstone sets are takedown-sized — broadcast. */
  def readStore(spark: SparkSession, root: String, sub: String,
      keyCol: String): DataFrame =
    tombstoneFiltered(spark, root, keyCol,
      readParquetCached(spark, s"$root/$sub", Seq(s"$root/$sub")))

  /** Apply the root's deletion vector to an arbitrary frame — what the
    * PRUNED readers (partition-filtered scans that bypass `readStore`)
    * share with it. */
  def tombstoneFiltered(spark: SparkSession, root: String,
      keyCol: String, df: DataFrame): DataFrame =
    if (exists(spark, s"$root/tombstones"))
      df.join(broadcast(readParquetCached(spark, s"$root/tombstones",
        Seq(s"$root/tombstones")).select(keyCol)), Seq(keyCol),
        "left_anti")
    else df

  def hasTombstones(spark: SparkSession, root: String): Boolean =
    exists(spark, s"$root/tombstones")

  def tombstoneKeys(spark: SparkSession, root: String,
      keyCol: String): DataFrame =
    readParquetCached(spark, s"$root/tombstones",
      Seq(s"$root/tombstones")).select(keyCol)

  /** Idempotent append to one row store: rows whose key the store
    * already holds are dropped first (keys-side scan with the batch
    * broadcast into it, the tiny present set broadcast back — never a
    * corpus shuffle; the checkpoint materializes the scan BEFORE the
    * append mutates the directory it scanned). A retry after a partial
    * failure therefore never duplicates rows.
    *
    * PER-KEY COMMIT-ATOMICITY ASSUMPTION (round-11 advisory): the
    * idempotency is all-or-nothing per key — it relies on the write
    * committing either all or none of a key's rows, which Spark's
    * default FileOutputCommitter v1 (task-then-job rename commit)
    * provides. Under a committer that exposes partial output on crash
    * (FileOutputCommitter v2 mid-job, direct-write/magic committers), a
    * crashed append could commit only some of a key's feature/bucket
    * rows and the retry would see the key as present and never complete
    * it. Keep v1 semantics for artifact roots, or extend the presence
    * check to per-key row counts before trusting recovery-by-retry.
    */
  def appendMissing(spark: SparkSession, root: String, sub: String,
      keyCol: String, batchKeys: DataFrame, rows: DataFrame,
      partitionCols: Seq[String] = Nil,
      presentKeys: Option[DataFrame] = None,
      presentKeysCount: Option[Long] = None): Unit = {
    // present-check source: by default the whole substore (key column
    // only), which is a corpus-sized read PER APPEND. The partitioned
    // artifact stores (LSH features/buckets, IVF vectors/ids) pass
    // `presentKeys` instead — the already-materialized present key set
    // from a pruned, content-INDEPENDENT read of their id-keyed
    // partitions (round-13 advisory).
    lazy val present = presentKeys.getOrElse {
      labeled(spark, s"append_present_$sub") {
        readParquetCached(spark, s"$root/$sub", Seq(s"$root/$sub"))
          .select(keyCol)
          .join(broadcast(batchKeys), Seq(keyCol), "left_semi")
          .distinct().transform(eagerCheckpoint)
      }
    }
    labeled(spark, s"append_write_$sub") {
      // presentKeysCount == Some(0) (caller observed the present set's
      // count on its checkpoint) certifies the anti-join is the
      // identity — skip it and its broadcast-build job (round 16; the
      // normal all-novel absorb path paid one per substore append)
      val fresh =
        if (presentKeysCount.contains(0L)) rows
        else rows.join(broadcast(present), Seq(keyCol), "left_anti")
      if (partitionCols.isEmpty)
        fresh.write.mode("append").parquet(s"$root/$sub")
      else
        // writeRepartition pins the partition count (round 16): AQE
        // coalesces a batch-sized shuffle to ONE partition (64 KB
        // floor), serializing every per-dir parquet file write onto a
        // single task — the file-open/footer overhead, not the rows,
        // is the phase's wall cost. File count is unchanged (a group
        // hashes to exactly one task either way).
        writeRepartition(fresh, partitionCols.map(col))
          .write.mode("append")
          .partitionBy(partitionCols: _*).parquet(s"$root/$sub")
    }
  }

  /** Idempotent tombstone append (keys already tombstoned are skipped —
    * a replayed retraction appends nothing). */
  def appendTombstones(spark: SparkSession, root: String, keyCol: String,
      keys: DataFrame): Unit = {
    val fresh =
      if (hasTombstones(spark, root))
        keys.join(broadcast(tombstoneKeys(spark, root, keyCol)),
          Seq(keyCol), "left_anti")
      else keys
    fresh.write.mode("append").parquet(s"$root/tombstones")
  }

  /** Fold the tombstone set into `subs` (each a substore and the column
    * its dirs partition on) physically — one corpus-sized
    * rewrite amortizing any number of retractions, after which readers
    * stop paying the anti-join and retracted keys may be re-ingested.
    * Idempotent and crash-safe: each store swaps independently (a
    * half-compacted root still filters correctly — the tombstones dir
    * is deleted LAST), and a retry completes whatever a crash left
    * undone.
    */
  def compact(spark: SparkSession, root: String, keyCol: String,
      subs: Seq[(String, String)]): Unit = {
    if (hasTombstones(spark, root)) {
      subs.foreach { case (sub, partitionCol) =>
        writeParquetStaged(spark, readStore(spark, root, sub, keyCol),
          s"$root/$sub", Seq(partitionCol))
      }
      deletePath(spark, s"$root/tombstones")
    }
  }

  // ---------------------------------------------------------------------
  // HASH-BUCKETED row store (round-11 verdict #1): a store whose rows
  // live in N fixed hash buckets (`b=<k>` partition dirs, k =
  // pmod(hash(key), N)) so a mutation REWRITES ONLY THE BUCKETS HOLDING
  // A TOUCHED ROW instead of swapping the corpus-sized store per batch.
  // N is fixed at build time (stored in the root's meta); bytes written
  // per mutation = touchedBuckets × bucketBytes ≤ min(|touched|, N) ×
  // corpusBytes/N — independent of the corpus for N ∝ corpus with a
  // constant bucket-byte target. Readers take the explicit bucket-dir
  // list (one directory listing, never partition discovery — a naive
  // spark.read of the root fails loudly on the meta dir instead of
  // silently mis-reading).
  // ---------------------------------------------------------------------

  /** Max count-scan groups per census count job — bounds the union
    * plan's size so a large fleet can't build one query over thousands
    * of scan paths (see the census's pass-2 comment). */
  private[graft] val CensusUnionChunk = 64

  private val BucketDir = "^b=(\\d+)$".r

  private def bucketDirRe(prefix: String) =
    ("^" + java.util.regex.Pattern.quote(prefix) + "=(\\d+)$").r

  /** Live bucket dirs of one GEOMETRY under a bucketed root, by one
    * directory listing. A root can hold several geometries side by side
    * (`b=<k>` doc-keyed, `c=<k>` canonical-keyed — the round-13
    * secondary-index twin); staging (`.__bstaging`), parked roots, the
    * meta dir, and the other geometries never match `<prefix>=<k>`, so
    * a half-finished mutation is invisible to readers. */
  def listBucketDirs(spark: SparkSession, root: String,
      prefix: String = "b"): Seq[String] = {
    val fs = fileSystem(spark, root)
    val p = new org.apache.hadoop.fs.Path(root)
    val re = bucketDirRe(prefix)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isDirectory &&
        re.findFirstIn(st.getPath.getName).isDefined)
      .map(_.getPath.toString)
  }

  /** Data bytes per live bucket dir of one geometry — one recursive FS
    * listing per dir, no Spark job; what the auto-rebalance trigger and
    * build-time target measurement read. */
  def bucketDirBytes(spark: SparkSession, root: String,
      prefix: String): Seq[Long] = {
    val fs = fileSystem(spark, root)
    listBucketDirs(spark, root, prefix)
      .map(p => dirBytes(fs, new org.apache.hadoop.fs.Path(p)))
  }

  /** Avg data bytes over a bounded DETERMINISTIC sample of one
    * geometry's bucket dirs, plus the live-dir count — the O(1)-in-N
    * drift estimate the PER-ABSORB auto-rebalance hook reads: measuring
    * ALL N bucket dirs per absorb is an O(N) FS-metadata term, and at
    * production N ∝ corpus that is an O(corpus) LIST storm per batch on
    * an object store. The caller knows the geometry's bucket count, so
    * every ⌈n/maxDirs⌉-th bucket id's dir is probed DIRECTLY (a stride,
    * not the smallest ids, so a store whose heavy buckets sit above a
    * low-id range still lands in the sample; one content summary per
    * sampled dir) instead of listing the whole store root first — the
    * root listing stats every child of BOTH geometries (~2N metadata
    * ops per absorb). The live-dir count is estimated from the sampled
    * existence fraction (n × existing/sampled). Hash bucketing keeps
    * dir sizes ~uniform, so both estimates are unbiased and feed only
    * the coarse 4×-drift trigger; the rebalance itself (rare) still
    * measures the full geometry exactly. Deterministic (strided ids,
    * no RNG). */
  def bucketDirBytesSampledAvgN(spark: SparkSession, root: String,
      prefix: String, numBuckets: Int, maxDirs: Int = 32): (Long, Int) = {
    import org.apache.hadoop.fs.Path
    val fs = fileSystem(spark, root)
    val step = math.max(1, (numBuckets + maxDirs - 1) / maxDirs)
    val probed = (0 until numBuckets by step).take(maxDirs)
      .map(k => dirBytes(fs, new Path(s"$root/$prefix=$k")))
    val existing = probed.filter(_ > 0L)
    if (existing.isEmpty) (0L, 0)
    else {
      val avg = existing.sum / existing.size
      val live = math.min(numBuckets,
        math.round(numBuckets.toDouble * existing.size / probed.size).toInt)
      (avg, live)
    }
  }

  /** One bucket geometry of a multi-geometry mutation: rows bucket by
    * `pmod(hash(bucketCol), numBuckets)` into `<prefix>=<k>` dirs;
    * `bucketKeys` carries the bucketCol VALUES whose buckets this
    * mutation touches (rows removed or added there). */
  case class BucketGeom(prefix: String, bucketCol: String,
      numBuckets: Int, bucketKeys: DataFrame)

  /** O(touched) mutation of a bucketed store, across every bucket
    * GEOMETRY it holds (round-13): the labels store holds its rows twice,
    * doc-keyed (`b=`) for point lookups by doc and canonical-keyed (`c=`)
    * for member lookups by component (the secondary index that lets
    * retraction and relabeling read O(touched buckets) instead of the
    * corpus). Every row matching `dropHint` on `keyCol` is dropped, every
    * `upserts` row is added, and ONLY the buckets holding a touched row
    * are rewritten. Two phases with a commit marker between them, so a
    * crash ANYWHERE is repaired by `repairStore` (roll a MARKED staging
    * forward, discard an unmarked one — the store is untouched before
    * the marker); geometries cannot diverge because they commit
    * together:
    *
    *  1. STAGE: one Spark job across geometries re-derives each touched
    *     bucket (its rows anti-joined against `dropHint`, plus
    *     `upserts`), tags the rows (g = prefix, k = bucket) and writes
    *     them `partitionBy(g, k)` under `<root>/.__bstaging` — so the
    *     twin geometry costs bytes, not jobs. Then the `__COMMIT` marker
    *     lands CARRYING the manifest as its content (one `prefix,k,kept`
    *     line per touched bucket — `kept = false` marks a bucket whose
    *     new content is empty and must be DELETED, not left stale; a
    *     plain FS write, not a Spark job). Nothing live has changed yet.
    *  2. APPLY: per touched bucket, delete the live `<root>/<p>=<k>` and
    *     rename `.__bstaging/g=<p>/k=<k>` in (nothing to rename for
    *     `kept = false`). Every step is idempotent given the staging
    *     tree, which is exactly how `repairStore` replays it.
    *
    * Correctness contract per geometry: every row that must be REMOVED
    * must live in a touched bucket of that geometry — `bucketKeys` must
    * cover the removed rows' OLD bucket-column values as well as the
    * upserts' new ones. Rows in touched buckets not matching `dropHint`
    * are preserved verbatim. `dropHint`/`upserts`/`bucketKeys` must be
    * eagerly checkpointed by the caller (they are read again during the
    * staging job); `dropHint` is the join-side frame for the anti-join
    * (the caller applies its broadcast size-guard policy).
    */
  def mutateBucketsMulti(spark: SparkSession, root: String,
      keyCol: String, geoms: Seq[BucketGeom], dropHint: DataFrame,
      upserts: DataFrame): Unit = {
    import org.apache.hadoop.fs.Path
    require(geoms.nonEmpty, "mutateBucketsMulti: no geometries")
    val fs = fileSystem(spark, root)
    val staging = s"$root/.__bstaging"
    // a marked staging from a crashed predecessor is completed first
    // (defense in depth — the mutating operators repair before they
    // READ the store; this guards direct callers)
    completeStagedMutation(spark, fs, root)
    fs.delete(new Path(staging), true)
    // touched buckets of EVERY geometry in one driver job (bounded by
    // Σ numBuckets)
    val touchedAll = labeled(spark, "mutate_touched") {
      geoms.map(g =>
          g.bucketKeys.select(lit(g.prefix).as("g"),
            pmod(hash(col(g.bucketCol)), lit(g.numBuckets)).as("k")))
        .reduce(_ unionByName _).distinct().collect()
        .map(r => (r.getString(0), r.getInt(1)))
    }
    val touchedBy = touchedAll.groupBy(_._1).map { case (p, ks) =>
      p -> ks.map(_._2).sorted.toSeq
    }
    if (touchedAll.isEmpty) return
    // one staging job across geometries: remaining(touched dirs) minus
    // dropHint, plus upserts, each row tagged with its (g, k)
    val stagedFrames = geoms.flatMap { g =>
      val touched = touchedBy.getOrElse(g.prefix, Seq.empty)
      if (touched.isEmpty) None
      else {
        val re = bucketDirRe(g.prefix)
        val live = listBucketDirs(spark, root, g.prefix).flatMap { p =>
          new Path(p).getName match {
            case re(k) => Some(k.toInt -> p)
            case _ => None
          }
        }.toMap
        val livePaths = touched.flatMap(live.get)
        val remaining =
          if (livePaths.isEmpty) upserts.limit(0)
          // leaf-dir read: all geometries of one store share a row
          // schema (the staging write unions them), cached once per
          // root under the #leaf key
          else readParquetCached(spark, root, livePaths, "#leaf")
            .join(dropHint, Seq(keyCol), "left_anti")
        Some(remaining.unionByName(upserts)
          .withColumn("g", lit(g.prefix))
          .withColumn("k", pmod(hash(col(g.bucketCol)),
            lit(g.numBuckets))))
      }
    }
    labeled(spark, "mutate_stage_write") {
      writeRepartition(stagedFrames.reduce(_ unionByName _),
          Seq(col("g"), col("k")))
        .write.mode("overwrite").partitionBy("g", "k").parquet(staging)
    }
    // which (geometry, bucket) combos actually produced rows → kept
    val staged = geoms.flatMap { g =>
      val gDir = new Path(s"$staging/g=${g.prefix}")
      if (!fs.exists(gDir)) Seq.empty
      else fs.listStatus(gDir).toSeq.flatMap(st =>
        st.getPath.getName match {
          case s if s.startsWith("k=") =>
            Some((g.prefix, s.stripPrefix("k=").toInt))
          case _ => None
        })
    }.toSet
    val entries = geoms.flatMap(g =>
      touchedBy.getOrElse(g.prefix, Seq.empty).map(k =>
        (g.prefix, k, staged((g.prefix, k)))))
    val commit = fs.create(new Path(s"$staging/__COMMIT"), true)
    commit.write(entries.map { case (p, k, kept) => s"$p,$k,$kept" }
      .mkString("\n").getBytes("UTF-8"))
    commit.close()
    if (testCrashPoint == 1)
      throw new IllegalStateException("testCrashPoint=1: crash after commit marker")
    applyBucketStaging(fs, root, entries)
    fs.delete(new Path(staging), true)
    ()
  }

  /** Apply one (prefix, k, kept) entry set: rename each staged bucket
    * dir over its live twin (kept = false deletes the live dir — the
    * bucket's new content is empty), staged at
    * `.__bstaging/g=<p>/k=<k>`. Every step is idempotent given the
    * staging tree — `repairStore` re-runs it verbatim. */
  private def applyBucketStaging(fs: org.apache.hadoop.fs.FileSystem,
      root: String, touched: Seq[(String, Int, Boolean)]): Unit = {
    import org.apache.hadoop.fs.Path
    // ONE listing of the staging tree replaces the two per-entry
    // existence probes (round-12 verdict #3): on an object store each
    // exists() is an RPC, so a 64-bucket apply was ~128 round trips of
    // pure metadata chatter; the staged-dir set is one LIST per live
    // geometry dir, after which every per-entry decision is a driver-side set lookup. The rename/
    // delete steps stay idempotent — repairStore replays this verbatim.
    val staging = new Path(s"$root/.__bstaging")
    def ls(p: Path): Seq[String] =
      if (fs.exists(p)) fs.listStatus(p).toSeq.map(_.getPath.getName)
      else Seq.empty
    val stagedDirs: Set[(String, Int)] = ls(staging)
      .filter(_.startsWith("g=")).flatMap { g =>
        val p = g.stripPrefix("g=")
        ls(new Path(staging, g)).collect {
          case k if k.startsWith("k=") => (p, k.stripPrefix("k=").toInt)
        }
      }.toSet
    var applied = 0
    touched.foreach { case (p, k, kept) =>
      if (testCrashPoint == 2 && applied == 1)
        throw new IllegalStateException("testCrashPoint=2: crash mid-apply")
      val target = new Path(s"$root/$p=$k")
      if (!kept) fs.delete(target, true)
      // a kept bucket with no staged dir was already applied (repair replay)
      else if (stagedDirs((p, k))) {
        val dir = new Path(staging, s"g=$p/k=$k")
        fs.delete(target, true)
        require(fs.rename(dir, target),
          s"mutateBucketsMulti: could not swap $dir into $target")
      }
      applied += 1
    }
    ()
  }

  /** Crash repair for a store root: completes or rolls back whatever a
    * killed mutation left behind, after which the store is consistent
    * and the interrupted operation can simply be re-run.
    *
    *  - `.__bstaging` WITH its `__COMMIT` marker → roll FORWARD: the
    *    staging tree is complete, so re-applying the per-bucket swap
    *    (idempotent) finishes the mutation exactly.
    *  - `.__bstaging` without the marker → the staging write itself
    *    died; the live store was never touched. Delete the debris.
    *  - root missing but `<root>.__staging` complete (`_SUCCESS`) →
    *    roll the root swap forward; with only `<root>.__old` present →
    *    roll it back. A MARKED `<root>.__staging` beside a LIVE root is
    *    the marker→first-rename crash window of `writeRoot` — the
    *    staging is complete and the mutation committed, so the swap is
    *    FINISHED here (round-14 advisory: deleting it silently lost the
    *    mutation). Unmarked staging/old beside a live root is debris
    *    from a completed swap — deleted.
    */
  def repairStore(spark: SparkSession, root: String): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = fileSystem(spark, root)
    var changed = completeStagedMutation(spark, fs, root)
    val bstaging = new Path(s"$root/.__bstaging")
    if (fs.exists(bstaging)) {
      // unmarked staging: the staging write itself died; the live
      // store was never touched — delete the debris
      fs.delete(bstaging, true)
      changed = true
    }
    // a crashed insert-append's one-job staging (Dedup.appendGeometries):
    // inert by construction (the live dirs gained nothing until the
    // post-write renames), so debris is simply deleted — the gated
    // replay probe covers a crash mid-rename
    val appstage = new Path(s"$root/.__appstage")
    if (fs.exists(appstage)) {
      fs.delete(appstage, true)
      changed = true
    }
    val rootP = new Path(root)
    val rootStaging = new Path(s"$root.__staging")
    val rootOld = new Path(s"$root.__old")
    if (!fs.exists(rootP)) {
      if (fs.exists(new Path(s"$root.__staging/_SUCCESS"))) {
        require(fs.rename(rootStaging, rootP),
          s"repairStore: could not roll $rootStaging forward")
        changed = true
      } else if (fs.exists(rootOld)) {
        require(fs.rename(rootOld, rootP),
          s"repairStore: could not roll $rootOld back")
        changed = true
      }
    } else if (fs.exists(new Path(s"$root.__staging/_SUCCESS"))) {
      // marker landed but the swap never ran (writeRoot's
      // marker→first-rename crash window): the staging is complete and
      // the mutation committed — finish the swap instead of discarding
      // it (round-14 advisory: deleting the marked staging here
      // silently lost e.g. a completed histogram retraction)
      swapRootStaged(fs, root)
      changed = true
    }
    if (fs.exists(rootStaging)) { fs.delete(rootStaging, true); () }
    if (fs.exists(rootOld)) { fs.delete(rootOld, true); () }
    // SUBSTORE-level debris: a killed writeParquetStaged on one of the
    // root's substores parks `<sub>.__staging` / `<sub>.__old` INSIDE
    // the root — the same three cases as the root swap, one level down
    // (substore missing + marked staging → roll forward; missing + old
    // → roll back; debris beside a live substore → delete). One listing
    // of the root; no recursion past the first level (the suffixed
    // names can only be swap artifacts).
    if (fs.exists(rootP)) {
      fs.listStatus(rootP).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory &&
            (n.endsWith(".__staging") || n.endsWith(".__old"))) {
          val base = new Path(rootP,
            n.stripSuffix(".__staging").stripSuffix(".__old"))
          if (!fs.exists(base)) {
            val stg = new Path(rootP, base.getName + ".__staging")
            val old = new Path(rootP, base.getName + ".__old")
            if (fs.exists(new Path(stg, "_SUCCESS"))) {
              require(fs.rename(stg, base),
                s"repairStore: could not roll $stg forward")
            } else if (fs.exists(old)) {
              require(fs.rename(old, base),
                s"repairStore: could not roll $old back")
            }
          }
          // whatever remains with the suffix is completed-swap debris
          if (fs.exists(st.getPath)) fs.delete(st.getPath, true)
          changed = true
        }
      }
    }
    // only a repair that actually moved data can stale the cached meta —
    // the no-op fast path must not re-trigger a meta read per mutation
    if (changed) invalidateMeta(spark, root)
  }

  /** Artifact CENSUS (round-11 verdict #6) — "what is this store
    * holding right now", the operational twin of the statestore table
    * for persisted artifacts: one report row per (artifact, substore)
    * with its live row count, plus the artifact's tombstone debt (rows
    * readers are still anti-joining — compact when it grows) and its
    * crash evidence (staging/`.__old` leftovers a killed mutation
    * parked — `repairStore` clears them). Bucketed stores collapse
    * their `b=<k>` dirs into one `b=*` substore.
    *
    * COST (round-14 verdict #6): every row count — all substores of all
    * artifacts, plus every tombstone set — runs as ONE count query (two
    * Spark jobs under AQE: the partial-count shuffle stage and the tiny
    * final fold): the zero-column scans are tagged with (artifact,
    * substore) literals, unioned, and counted in one group-by. The
    * scans pass an EXPLICIT empty schema — measured on this Spark
    * version, each schema-less `read.parquet` call otherwise launches
    * its own footer-inference job, which is exactly the
    * fleet × substores job storm this batching removes (spec-pinned at
    * ≤ 2 jobs per census for fleets within one chunk). The vectorized
    * reader answers a zero-column scan from row-group counts, exactly
    * like `count()`; a substore dir holding no data files counts 0
    * instead of failing inference. The union is chunked at
    * [[CensusUnionChunk]] groups per count job (round-15 verdict #6) so
    * a 1,000-store fleet pays ⌈groups/chunk⌉ bounded-size jobs instead
    * of one plan over thousands of scan paths.
    *
    * The build-time bucket-byte sizing target rides ONLY the substore
    * row of the geometry it was measured on (labels `b=*`, LSH
    * `buckets`, IVF `vectors` — round-14 advisory: attaching the labels
    * /LSH target to every partitioned substore made the LSH `features`
    * row trip the drift rule whenever feature bytes outgrow bucket
    * bytes — plausible on real text — and the advisor then ordered
    * rebalance forever without converging).
    */
  def census(spark: SparkSession,
      artifacts: Seq[(String, String)]): DataFrame = {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    // counts key by (alias, substore): two roots passed under one alias
    // would silently merge into one count row (round-15 advisory) —
    // refuse loud, the same duplicate-alias rule executeMaintenance has
    require(artifacts.map(_._1).distinct.size == artifacts.size,
      "census: duplicate artifact aliases " +
        artifacts.groupBy(_._1).collect { case (a, rs) if rs.size > 1 => a }
          .mkString("[", ", ", "]") +
        " — counts key by alias, so two roots sharing one would merge " +
        "into a single row; give each root a unique alias")
    val PartDir = "^[a-z]+=\\d+$".r
    // pass 1 — FS listings only: row skeletons + the (artifact,
    // substore) → paths groups whose rows the single count job fills in
    case class Pending(alias: String, sub: String, paths: Seq[String],
        tombPath: Option[String], leftovers: Long, bytes: Long,
        dirs: Long, target: Long)
    val pend: Seq[Pending] = artifacts.flatMap { case (alias, root) =>
      val fs = fileSystem(spark, root)
      val rootP = new Path(root)
      val children =
        if (fs.exists(rootP)) fs.listStatus(rootP).toSeq.filter(_.isDirectory)
        else Seq.empty
      val names = children.map(_.getPath.getName)
      val leftovers = (names.count(n => n == ".__bstaging" ||
          n == ".__appstage" ||
          n.endsWith(".__staging") || n.endsWith(".__old")) +
        Seq(s"$root.__staging", s"$root.__old")
          .count(p => fs.exists(new Path(p)))).toLong
      val tombPath =
        if (names.contains("tombstones")) Some(s"$root/tombstones")
        else None
      // the artifact's recorded sizing target and WHICH geometry it was
      // measured on, inferred from the meta's build-contract shape
      val metaFields = cachedMeta(spark, root)
        .map(_.schema.fieldNames.toSet).getOrElse(Set.empty[String])
      val (target, targetSub) =
        if (metaFields.contains("bucket_target_bytes")) {
          val t = cachedMeta(spark, root).get
            .getAs[Long]("bucket_target_bytes")
          (t, if (metaFields.contains("num_buckets")) "b=*" else "buckets")
        } else if (metaFields.contains("cell_target_bytes"))
          (cachedMeta(spark, root).get.getAs[Long]("cell_target_bytes"),
            "vectors")
        else (0L, "")
      val live = children.filter { st =>
        val n = st.getPath.getName
        !n.startsWith(".") && !n.startsWith("_") && n != "tombstones" &&
          !n.endsWith(".__staging") && !n.endsWith(".__old")
      }
      val AnyBucketDir = "^([a-z])=(\\d+)$".r
      val liveRows = live.groupBy(st => st.getPath.getName match {
        case AnyBucketDir(p, _) => s"$p=*"
        case n => n
      }).toSeq.map { case (sub, sts) =>
        // geometry observables (FS listings only): total data bytes of
        // the group's dirs, and the bucket-dir count — root-level
        // `x=*` groups count their own dirs; a substore child holding
        // `<c>=<k>` partition dirs inside (LSH buckets/features, IVF
        // vectors/ids) counts those
        val bytes = sts.map(st => dirBytes(fs, st.getPath)).sum
        val dirs =
          if (sub.endsWith("=*")) sts.size.toLong
          else if (sts.size == 1)
            fs.listStatus(sts.head.getPath).count(c =>
              c.isDirectory && PartDir.findFirstIn(c.getPath.getName)
                .isDefined).toLong
          else 0L
        Pending(alias, sub, sts.map(_.getPath.toString), tombPath,
          leftovers, bytes, dirs, if (sub == targetSub) target else 0L)
      }
      // an artifact whose root holds ONLY crash debris or tombstones
      // (a mutation died before any live substore landed) must still
      // surface — it is the exact state the repair advice exists for;
      // with zero live substores the groupBy above would emit nothing
      // and the advisor would stay silent (round-13 advisory)
      if (liveRows.isEmpty && (leftovers > 0 || tombPath.isDefined))
        Seq(Pending(alias, "(none)", Seq.empty, tombPath, leftovers, 0L,
          0L, 0L))
      else liveRows
    }
    // pass 2 — ONE job for every row count: each group scans zero real
    // columns (two literals), the union groups by them. The union is
    // CHUNKED at [[CensusUnionChunk]] groups per count job (round-15
    // verdict #6): the one-job union's plan carries every group's scan
    // node, so a 1,000-store fleet would otherwise build one plan over
    // thousands of paths — analysis/codegen cost linear in fleet size
    // concentrated in a single query, and a single straggler scan
    // holding up every count. Small fleets (the common shape,
    // ≤ CensusUnionChunk groups) keep the one-count-job pin; a big
    // fleet pays ⌈groups/chunk⌉ bounded-size jobs.
    val tombGroups = pend.flatMap(p => p.tombPath.map(t => (p.alias, t)))
      .distinct.map { case (a, t) => (a, "__tombstones", Seq(t)) }
    val groups = pend.filter(_.paths.nonEmpty)
      .map(p => (p.alias, p.sub, p.paths)) ++ tombGroups
    val counts: Map[(String, String), Long] =
      groups.grouped(CensusUnionChunk).flatMap { chunk =>
        chunk.map { case (a, sName, paths) =>
          spark.read
            .schema(new org.apache.spark.sql.types.StructType())
            .parquet(paths: _*)
            .select(lit(a).as("__a"), lit(sName).as("__s"))
        }.reduce(_ unionByName _)
          .groupBy("__a", "__s").agg(count(lit(1)).as("__n"))
          .collect()
          .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      }.toMap
    val out = pend.map { p =>
      (p.alias, p.sub, counts.getOrElse((p.alias, p.sub), 0L),
        counts.getOrElse((p.alias, "__tombstones"), 0L), p.leftovers,
        p.bytes, p.dirs, p.target)
    }
    out.toDF("artifact", "substore", "rows", "tombstone_rows",
        "crash_leftovers", "live_bytes", "bucket_dirs",
        "target_bucket_bytes")
      .orderBy("artifact", "substore")
  }

  /** Maintenance ADVISOR over a census report — what closes the
    * artifact-ops loop end to end: `census` measures, this decides,
    * `repairStore`/`compact*`/`rebalance*` act. One row per artifact
    * with its totals and the action, priority-ordered:
    *
    *  - `repair`  — crash leftovers present (a killed mutation parked
    *                staging/`.__old` debris); heal before anything
    *                else touches the store.
    *  - `compact` — tombstone debt exceeds `debtX10000` per-ten-
    *                thousand of the artifact's live rows: readers are
    *                paying the anti-join on every access and retracted
    *                keys stay un-reingestable until the fold.
    *  - `rebalance` — a bucketed geometry's avg dir bytes drifted past
    *                4× the build-time target recorded in the meta
    *                (labels `b=*`, LSH `buckets`): mutations rewrite
    *                ever-fatter buckets and probe pruning's win decays.
    *  - `retrain` — the SAME 4× drift on the IVF `vectors` geometry
    *                (round-14 verdict #2): its cells are
    *                codebook-derived, not hash-assigned, so the remedy
    *                is `VectorIndex.retrainIvfIndex` — corpus growth or
    *                a shifted ingest distribution fattens cells exactly
    *                the way it fattens label buckets, and re-hashing
    *                cannot fix a stale codebook.
    *  - `ok`      — none of the above.
    *
    * Pure transformation over the (artifact, substore, rows,
    * tombstone_rows, crash_leftovers) census frame — exact integers,
    * no FS access, so the nightly advisor run costs exactly one census.
    */
  def maintenanceAdvice(census: DataFrame,
      debtX10000: Long = 1000L): DataFrame = {
    require(debtX10000 >= 0, "maintenanceAdvice: debtX10000 must be >= 0")
    // geometry drift: the measured substore's avg bucket-dir bytes
    // exceed 4× the artifact's recorded sizing target (the labels/LSH
    // auto-rebalance rule, decided centrally). Exact integers:
    // bytes > 4·target·dirs. The census attaches the target ONLY to the
    // geometry row it was measured on (round-14 advisory), so substores
    // with a different bytes-per-row shape (LSH `features`) can never
    // trip the rule; the remedy depends on the tripping geometry —
    // hash-bucketed stores re-partition, the codebook-derived `vectors`
    // geometry retrains. Census frames from before the geometry columns
    // (hand-built spec fixtures) simply never advise either.
    val hasGeom = census.columns.contains("live_bytes")
    val overgrown =
      if (hasGeom)
        max(when(col("bucket_dirs") > 0 && col("target_bucket_bytes") > 0 &&
          col("live_bytes") >
            lit(4L) * col("target_bucket_bytes") * col("bucket_dirs"),
          when(col("substore") === "vectors", lit("retrain"))
            .otherwise(lit("rebalance"))))
      else max(lit(null).cast("string"))
    census.groupBy("artifact")
      .agg(sum(col("rows")).as("total_rows"),
        // per-artifact constants repeated on every substore row
        max(col("tombstone_rows")).as("tombstone_rows"),
        max(col("crash_leftovers")).as("crash_leftovers"),
        overgrown.as("__overgrown"))
      .withColumn("action",
        when(col("crash_leftovers") > 0, "repair")
          .when(col("tombstone_rows") * 10000 >
            lit(debtX10000) * col("total_rows"), "compact")
          .when(col("__overgrown").isNotNull, col("__overgrown"))
          .otherwise("ok"))
      .drop("__overgrown")
      .orderBy("artifact")
  }

  /** Roll a MARKED bucket staging forward (the staging tree is complete
    * once `__COMMIT` exists — re-applying the per-bucket swap finishes
    * the crashed mutation exactly). Returns whether anything was done. */
  private def completeStagedMutation(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, root: String): Boolean = {
    import org.apache.hadoop.fs.Path
    val marker = new Path(s"$root/.__bstaging/__COMMIT")
    if (!fs.exists(marker)) false
    else {
      val in = fs.open(marker)
      val body = try {
        scala.io.Source.fromInputStream(in, "UTF-8").mkString
      } finally in.close()
      val touched = body.linesIterator.filter(_.nonEmpty).map { line =>
        line.split(",") match {
          case Array(p, k, kept) => (p, k.toInt, kept.toBoolean)
          case _ => throw new IllegalStateException(
            s"repairStore: unparseable __COMMIT line '$line' at $root")
        }
      }.toSeq.sortBy(e => (e._1, e._2))
      applyBucketStaging(fs, root, touched)
      fs.delete(new Path(s"$root/.__bstaging"), true)
      true
    }
  }
}

/** A store root whose meta is missing (`field` = "meta") or predates its
  * family's current layout: the artifact families read and mutate one
  * layout each, so the store must be rebuilt with `build`. */
final class StoreLayoutException(val root: String, val field: String,
    val build: String) extends IllegalStateException(
  if (field == "meta") s"artifact store at $root has no meta — rebuild it with $build"
  else s"artifact store at $root has a meta without `$field`: it predates " +
    s"the current layout — rebuild it with $build")
