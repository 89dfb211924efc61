package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted IVF vector index — the ANN counterpart of the LSH
  * label/index artifact family, with the SAME full lifecycle:
  * build once per corpus generation, probe per query batch, ABSORB new
  * vectors as the crawl embeds them, RETRACT on takedown, compact
  * periodically. Built on `ArtifactStore`'s shared discipline
  * (staged swaps, tombstone deletion vectors, idempotent appends,
  * cached meta).
  *
  * Layout under `path`:
  *   `centroids`  (cid, centroid)            — the frozen codebook
  *   `vectors`    (vec_id, vec, cell, epoch) — corpus vectors + cell +
  *                                             the absorb generation
  *   `ids`        (vec_id, cell)             — id-hash-partitioned
  *                                             (`i=<k>` dirs, k =
  *                                             pmod(hash(vec_id), Mi))
  *                                             sidecar: the twin-geometry
  *                                             secondary index for every
  *                                             BY-ID read (round-13
  *                                             verdict #1 / advisory) —
  *                                             retraction scoping and the
  *                                             absorb present-check read
  *                                             the takedown/batch ids'
  *                                             partitions, never a
  *                                             corpus-wide vec_id scan,
  *                                             and the check is content-
  *                                             INDEPENDENT (the cell is
  *                                             the codebook's argmax over
  *                                             the VECTOR, so cell
  *                                             pruning can't serve an
  *                                             id-keyed question)
  *   `epochs`     (epoch)                    — absorb-count-sized epoch
  *                                             counter (audit trend axis)
  *   `meta`       (nlist, train_iterations, id_parts) — build contract
  *   `tombstones` (vec_id)                   — retracted, until compact
  *
  * FROZEN-CODEBOOK contract: `absorbIntoIvfIndex` assigns new vectors
  * to the STORED centroids and never moves them — the codebook is a set
  * of k-means PARAMETERS, not corpus members, so retraction also leaves
  * it untouched (a retracted vector that seeded a centroid stops being
  * searchable; its geometry persists). That is what keeps both
  * maintenance operations batch-bounded and the probe answers
  * well-defined at every point in time; codebook drift under a shifted
  * ingest distribution is handled by a periodic REBUILD, exactly as
  * tombstone growth is handled by `compactIvfIndex`. (FAISS's IVF has
  * the same contract: `add()` never retrains the quantizer.)
  */
object VectorIndex {

  private def nonZero(df: DataFrame, vecCol: String): DataFrame =
    df.filter(exists(col(vecCol).cast("array<double>"), v => v =!= 0.0))

  /** Argmax-cosine cell per vector against a broadcast codebook (ties →
    * smaller cid) — `Similarity.ivfTopK`'s assignment shape. */
  private def assign(vecs: DataFrame, codebook: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(codebook))
      .select(col("vec_id"), col("vec"), col("cid"),
        Similarity.cosine(col("vec"), col("centroid")).as("cc"))
      .groupBy("vec_id")
      .agg(max_by(col("cid"), struct(col("cc"), -col("cid"))).as("cell"),
        first(col("vec")).as("vec"))
      .select("vec_id", "vec", "cell")

  /** Build the index: codebook (the deterministic first-`nlist`-by-id
    * sample quantizer, optionally Lloyd-refined) + cell-assigned corpus
    * vectors + the parameter meta row. Zero-norm vectors are dropped
    * (their cosine is undefined), as in `ivfTopK`.
    *
    * The build also records its avg cell-dir bytes in the meta
    * (`cell_target_bytes`, one FS listing — no Spark job): the census
    * attaches it to the `vectors` geometry row and the advisor orders
    * `retrain` when live cell bytes drift past 4× it (round-14 verdict
    * #2 — the labels/LSH rebalance rule, with the IVF family's own
    * remedy: its cells are codebook-derived, so geometry maintenance is
    * `retrainIvfIndex`, never a re-hash). `cellTargetBytes` overrides
    * the measurement (tests plant 1 to trip the rule deterministically).
    */
  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      path: String, nlist: Int = 16, trainIterations: Int = 0,
      numIdParts: Int = 0, cellTargetBytes: Long = 0L): Unit = {
    require(nlist >= 1, "buildIvfIndex: nlist must be >= 1")
    val vecs = nonZero(corpus, vecCol).select(col(idCol).as("vec_id"),
      col(vecCol).cast("array<double>").as("vec"))
    val codebook =
      if (trainIterations > 0)
        Similarity.trainCodebook(nonZero(corpus, vecCol), idCol, vecCol,
          nlist, trainIterations)
      else vecs.orderBy("vec_id").limit(nlist)
        .select(col("vec_id").as("cid"), col("vec").as("centroid"))
    // a rebuild (the codebook-drift remedy the frozen contract defers
    // to) replaces the root: it does not inherit the previous
    // generation's tombstones, which would silently hide freshly indexed
    // vectors whose ids were ever retracted (round-11 advisory), and a
    // build that fails before the swap leaves that generation live
    writeIvfRoot(path, vecs, codebook, nlist, trainIterations, numIdParts,
      cellTargetBytes)
  }

  /** The IVF index's one root writer, shared by `buildIvfIndex` and
    * `retrainIvfIndex`: the codebook, every (vec_id, vec) of `vecs`
    * assigned to it, the ids sidecar, the epoch clock and the meta land
    * in ONE root swap. `numIdParts = 0` and `cellTargetBytes = 0` size
    * the sidecar from the observed vector count and measure the staged
    * cell dirs. */
  private def writeIvfRoot(path: String, vecs: DataFrame,
      codebook: DataFrame, nlist: Int, trainIterations: Int,
      numIdParts: Int, cellTargetBytes: Long): Unit = {
    val spark = vecs.sparkSession
    import spark.implicits._
    ArtifactStore.writeRoot(spark, path) { staging =>
      codebook.write.mode("overwrite").parquet(s"$staging/centroids")
      // epoch 0 = the build generation; each absorb stamps the next
      // epoch, which is what the codebook-drift audit trends over. The
      // epoch COUNTER lives in its own absorb-count-sized `epochs` store
      // so the next absorb never scans the corpus-sized vectors store for
      // max(epoch) — a per-batch corpus read is exactly the overhead the
      // meta-cache discipline exists to avoid.
      // vectors live in cell=<k> partition dirs — the cells ARE the
      // store's buckets, so a probe's nprobe cell set becomes PARTITION
      // PRUNING (round-12 verdict #1): at 100 TB an IVF probe must read
      // nprobe/nlist of the corpus, not all of it. repartition(cell)
      // first so each cell lands as ~one file, not tasks × cells.
      // the row count rides the write action as an Observation (no
      // separate count job) — it sizes the sidecar's part count below
      val obs = org.apache.spark.sql.Observation(
        "ivf_write_" + java.util.UUID.randomUUID().toString.take(8))
      assign(vecs, spark.read.parquet(s"$staging/centroids"))
        .withColumn("epoch", lit(0))
        .observe(obs, count(lit(1)).as("__n"))
        .transform(df => ArtifactStore.writeRepartition(df, Seq(col("cell"))))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$staging/vectors")
      // the (vec_id, cell) sidecar — id-hash partitioned so every by-id
      // read (retract scoping, absorb present-check) prunes to the ids'
      // own dirs; Mi auto-sizes toward ~64k-row parts like the LSH
      // substores (floor 8). Production builds pick numIdParts so a part
      // is ~100 MB and Mi well exceeds a takedown batch's id spread.
      val nVecs = Option(obs.get("__n")).map(_.asInstanceOf[Long])
        .getOrElse(0L)
      val mi =
        if (numIdParts > 0) numIdParts
        else math.max(8L, (nVecs + 65535L) / 65536L).toInt
      // partition discovery reads cell=<k> dir values back as int — cast
      // to the codebook's cid type so later absorb appends (whose cell
      // carries the cid type) stay parquet-type-consistent in the sidecar
      val cidType = spark.read.parquet(s"$staging/centroids")
        .schema("cid").dataType
      writeIdsSidecar(s"$staging/ids",
        spark.read.parquet(s"$staging/vectors")
          .select(col("vec_id"), col("cell").cast(cidType).as("cell")), mi)
      Seq(0).toDF("epoch").write.mode("overwrite").parquet(s"$staging/epochs")
      val target =
        if (cellTargetBytes > 0L) cellTargetBytes
        else cellTarget(spark, s"$staging/vectors")
      Seq((nlist, trainIterations, mi, target))
        .toDF("nlist", "train_iterations", "id_parts", "cell_target_bytes")
    }
  }

  /** Avg data bytes per `cell=<k>` dir — the build/retrain-time sizing
    * reference the advisor's drift rule compares the live geometry
    * against. FS listings only. */
  private def cellTarget(spark: SparkSession, vectorsDir: String): Long = {
    val bs = ArtifactStore.bucketDirBytes(spark, vectorsDir, "cell")
    if (bs.isEmpty) 0L else bs.sum / bs.size
  }

  /** The sidecar's partition key. */
  private def idPartOf(mi: Int) = pmod(hash(col("vec_id")), lit(mi))

  /** The index's meta row, checked against its one layout: vectors in
    * `cell=` dirs, the `ids` sidecar in `i=` dirs (`id_parts`), and the
    * `epochs` store. */
  private def ivfMeta(spark: SparkSession, indexPath: String): Row =
    ArtifactStore.layoutMeta(spark, indexPath, "VectorIndex.buildIvfIndex",
      "nlist", "id_parts")

  private def writeIdsSidecar(dir: String, rows: DataFrame, mi: Int): Unit =
    ArtifactStore.writeRepartition(
        rows.select(col("vec_id"), col("cell")).withColumn("i", idPartOf(mi)),
        Seq(col("i")))
      .write.mode("overwrite").partitionBy("i").parquet(dir)

  /** The sidecar rows holding any of the given ids — RAW (not
    * tombstone-filtered; callers choose) and pruned to the ids' own
    * `i=<k>` dirs: one tiny distinct-collect bounded by Mi, then a
    * static partition filter. `ids` must be cheap to recompute or
    * checkpointed by the caller. */
  private def sidecarForIds(spark: SparkSession, indexPath: String,
      mi: Int, ids: DataFrame): DataFrame = {
    val iSet = ids.select(idPartOf(mi).as("__i")).distinct()
      .collect().map(_.getInt(0)).toIndexedSeq
    val base = ArtifactStore.readParquetCached(spark,
      s"$indexPath/ids", Seq(s"$indexPath/ids"))
    if (iSet.isEmpty) base.limit(0)
    else base.filter(col("i").isin(iSet: _*))
  }

  /** Probe the stored index: queries rank the stored centroids, visit
    * their `nprobe` nearest cells, and score exactly against the
    * (tombstone-filtered) stored vectors in those cells. Identical
    * output contract to `Similarity.ivfTopK` — (query_id, rank,
    * neighbor_id, cosine) — with the index side two column-pruned
    * parquet scans instead of an in-plan corpus re-assignment.
    */
  def probeIvfIndex(queries: DataFrame, indexPath: String, idCol: String,
      vecCol: String, k: Int, nprobe: Int = 2): DataFrame =
    topKByQuery(probeScored(queries, indexPath, idCol, vecCol, nprobe), k)

  /** FILTERED vector search — the metadata-predicate variant every
    * production vector store exposes ("nearest neighbors among docs
    * matching WHERE …"): `keep` is a predicate over the stored vector
    * rows (`vec_id`, `cell`, `epoch`) applied BEFORE scoring, so the
    * top-k ranks only the predicate's survivors — post-filtering a
    * plain top-k instead would return < k rows whenever the filter
    * bites, the classic filtered-ANN bug. The predicate composes with
    * the read-path prunings rather than replacing them: cell pruning
    * still restricts the scan to the queries' nprobe cells, the
    * tombstone anti-join still hides retracted ids, and a predicate on
    * stored columns pushes into the pruned parquet scan. At
    * `nprobe = nlist` the answer is pin-exact to a brute-force top-k
    * over the filtered corpus (x181's strict gate); at small nprobe the
    * usual IVF recall trade applies per filtered cell.
    */
  def probeIvfIndexWhere(queries: DataFrame, indexPath: String,
      idCol: String, vecCol: String, keep: Column, k: Int,
      nprobe: Int = 2): DataFrame =
    topKByQuery(
      probeScored(queries, indexPath, idCol, vecCol, nprobe,
        keep = Some(keep)),
      k)

  /** Every (query, candidate) cosine within the queries' `nprobe`
    * nearest stored cells — the shared exact-scoring core of
    * `probeIvfIndex` (top-k over it) and `hardNegativesFromIvfIndex`
    * (dup-band filter, THEN top-k). */
  private def probeScored(queries: DataFrame, indexPath: String,
      idCol: String, vecCol: String, nprobe: Int,
      keep: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val spark = queries.sparkSession
    val nlist = ivfMeta(spark, indexPath).getAs[Int]("nlist")
    require(nprobe <= nlist,
      s"probeIvfIndex: nprobe=$nprobe exceeds the stored nlist=$nlist " +
        s"at $indexPath")
    val codebook = ArtifactStore.readParquetCached(spark,
      s"$indexPath/centroids", Seq(s"$indexPath/centroids"))
    val q = nonZero(queries, vecCol).select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val probeW = Window.partitionBy("query_id")
      .orderBy(col("qc").desc, col("cid"))
    val probes0 = q.crossJoin(broadcast(codebook))
      .select(col("query_id"), col("qv"), col("cid"),
        Similarity.cosine(col("qv"), col("centroid")).as("qc"))
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("qv"), col("cid").as("cell"))
    // pruned read (round-12 verdict #1): the queries' nprobe cell union
    // is known DRIVER-SIDE after ranking the broadcast codebook —
    // nlist-bounded, one tiny job against the checkpointed probes — and
    // becomes a static partition filter on the cell-partitioned vectors
    // store, so a probe reads ≤ |cells| of the corpus's cell dirs
    // instead of all of them. The nprobe restriction used to be applied
    // INSIDE the join, after a full corpus-sized scan.
    val probes = ArtifactStore.eagerCheckpoint(probes0, "ivf_probes")
    val cells = probes.select("cell").distinct().collect().map(_.get(0))
    val vectors = ArtifactStore.tombstoneFiltered(spark, indexPath, "vec_id",
      ArtifactStore.readParquetCached(spark,
          s"$indexPath/vectors", Seq(s"$indexPath/vectors"))
        .filter(col("cell").isin(cells.toIndexedSeq: _*))
        .withColumn("cell", col("cell").cast(codebook.schema("cid").dataType)))
    // metadata predicate (filtered search): on the STORED columns, ahead
    // of the join — Catalyst pushes stored-column conjuncts into the
    // (already cell-pruned) parquet scan
    val searchable = keep.fold(vectors)(vectors.filter)
    broadcast(probes).join(searchable, Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Similarity.cosine(col("qv"), col("vec")).as("cosine"))
  }

  private def topKByQuery(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cosine")
  }

  /** Hard-negative mining from the PERSISTED index (round-11 verdict
    * #4) — `Similarity.hardNegatives`' corpus-scale shape: candidates
    * come from the anchors' `nprobe` nearest stored cells instead of a
    * full corpus stream, the near-duplicate band (cosine ≥
    * `dupThreshold`) is excluded BEFORE the top-k (its members are
    * positives in disguise — the classic contrastive false-negative
    * bug), and what survives ranks 1..k. All candidates of the visited
    * cells are scored exactly — no early top-k can starve the kept
    * band — so at `nprobe = nlist` the output is pin-equal to
    * `Similarity.hardNegatives` over the index's searchable vectors
    * (x169), and at small nprobe the x104-style recall audit (x170)
    * prices the approximation.
    */
  def hardNegativesFromIvfIndex(queries: DataFrame, indexPath: String,
      idCol: String, vecCol: String, k: Int, dupThreshold: Double,
      nprobe: Int = 2): DataFrame = {
    require(k >= 1, "hardNegativesFromIvfIndex: k must be >= 1")
    topKByQuery(
      probeScored(queries, indexPath, idCol, vecCol, nprobe)
        .filter(col("cosine") < dupThreshold),
      k)
  }

  /** The subset of a batch's ids the index already holds SEARCHABLE
    * (tombstone-filtered — a retracted id reads as absent, so its
    * re-ingest reaches `absorbIntoIvfIndex`'s fail-loud clash guard),
    * read CELL-PRUNED: the frozen codebook assigns the batch's vectors
    * deterministically, so a previously-committed row for a batch id
    * can only live in the cell this batch just computed — the presence
    * check reads those dirs, not the corpus. The drain replay guard's
    * per-micro-batch read (the vector twin of the labels drain's
    * `readLabelsForDocs` guard).
    */
  def searchablePresentIds(batch: DataFrame, idCol: String,
      vecCol: String, indexPath: String): DataFrame = {
    val spark = batch.sparkSession
    ivfMeta(spark, indexPath)
    val vecs = nonZero(batch, vecCol).select(col(idCol).as("vec_id"),
      col(vecCol).cast("array<double>").as("vec"))
    val ids = vecs.select("vec_id").distinct()
    val cells = assign(vecs,
        ArtifactStore.readParquetCached(spark,
          s"$indexPath/centroids", Seq(s"$indexPath/centroids")))
      .select("cell").distinct().collect().map(_.get(0)).toIndexedSeq
    val stored = ArtifactStore.tombstoneFiltered(spark, indexPath, "vec_id",
      ArtifactStore.readParquetCached(spark,
          s"$indexPath/vectors", Seq(s"$indexPath/vectors"))
        .filter(col("cell").isin(cells: _*)))
    stored.select("vec_id")
      .join(broadcast(ids), Seq("vec_id"), "left_semi")
  }

  /** Absorb a fresh vector batch: assign to the STORED (frozen)
    * centroids, append to the vectors store idempotently — a retry
    * after a partial failure skips the committed rows, so the crawl's
    * embed-and-absorb loop is replay-safe. Ids must be disjoint from
    * the indexed corpus; a batch id colliding with a TOMBSTONED id
    * fails loud (compact first — the re-crawl supersede path), exactly
    * like `Dedup.absorbIntoLabels`. The index must carry the current
    * layout (`ids` sidecar, `epochs` store, `id_parts` in the meta); an
    * older one fails with a `StoreLayoutException` — rebuild it.
    */
  def absorbIntoIvfIndex(batch: DataFrame, idCol: String, vecCol: String,
      indexPath: String): Unit = {
    val spark = batch.sparkSession
    val mi = ivfMeta(spark, indexPath).getAs[Int]("id_parts")
    val vecs = nonZero(batch, vecCol).select(col(idCol).as("vec_id"),
      col(vecCol).cast("array<double>").as("vec"))
    if (ArtifactStore.hasTombstones(spark, indexPath)) {
      val clash = ArtifactStore.tombstoneKeys(spark, indexPath, "vec_id")
        .join(broadcast(vecs.select("vec_id")), Seq("vec_id"), "left_semi")
        .limit(1).count()
      require(clash == 0L,
        s"absorbIntoIvfIndex: batch contains ids tombstoned in $indexPath " +
          "— run compactIvfIndex before re-ingesting a retracted id")
    }
    // absorb-epoch stamp from the absorb-count-sized `epochs` store —
    // never a scan of the corpus-sized vectors store. WRITE ORDER:
    // vectors first (idempotent anti-join append), the epoch marker
    // last — a crash between them makes the retry reuse the same epoch
    // number for the rows its anti-join skips plus the remainder, so
    // the batch stays ONE epoch; a replay after both writes appends no
    // vectors and at worst burns an unused epoch number, which the
    // audit (grouping by the VECTORS' epochs) never shows.
    val nextEpoch = ArtifactStore.readParquetCached(spark,
        s"$indexPath/epochs", Seq(s"$indexPath/epochs"))
      .agg(coalesce(max("epoch"), lit(0)).cast("int"))
      .head().getInt(0) + 1
    val assigned = assign(vecs,
        ArtifactStore.readParquetCached(spark, s"$indexPath/centroids",
          Seq(s"$indexPath/centroids")))
      .withColumn("epoch", lit(nextEpoch))
      .transform(ArtifactStore.eagerCheckpoint)
    // CONTENT-INDEPENDENT present check (round-13 advisory): the sidecar
    // is keyed by id hash, so an out-of-contract re-ingest of a committed
    // id with NEW vector content (whose cell differs — a cell-pruned
    // check would miss it) is still caught and skipped. One pruned read
    // of the batch ids' own i=<k> dirs; the present row set rides a
    // checkpoint with its count as an Observation.
    val pObs = org.apache.spark.sql.Observation(
      "ivf_present_" + java.util.UUID.randomUUID().toString.take(8))
    val presentRows = sidecarForIds(spark, indexPath, mi,
        assigned.select("vec_id"))
      .join(broadcast(assigned.select("vec_id").distinct()),
        Seq("vec_id"), "left_semi")
      .select("vec_id", "cell")
      .observe(pObs, count(lit(1)).as("__n"))
      .transform(ArtifactStore.eagerCheckpoint)
    val nPresent = Option(pObs.get("__n"))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val present = presentRows.select("vec_id").distinct()
    // WRITE ORDER: sidecar FIRST, vectors second. The sidecar is the
    // id-keyed truth the present check reads, so a crash between the two
    // appends leaves the retry's present set CONTAINING the batch — and
    // the vectors append below derives its own present set from the
    // sidecar's committed CELLS, so it still completes the missing
    // vector rows. (The drain replay guard deliberately reads the vectors
    // store, written LAST — a sidecar-only id must read as
    // not-yet-searchable.)
    ArtifactStore.appendMissing(spark, indexPath, "ids", "vec_id",
      assigned.select("vec_id"),
      assigned.select(col("vec_id"), col("cell"))
        .withColumn("i", idPartOf(mi)),
      partitionCols = Seq("i"), presentKeys = Some(present))
    // vectors present set: a committed batch row can only exist for an
    // id the sidecar held BEFORE this absorb (the sidecar commits in one
    // atomic job), and its committed cell is IN the present sidecar rows
    // — so the normal path (nothing present) pays ZERO extra reads, and
    // the crash-retry path reads only the present ids' committed cell
    // dirs. New rows land inside their cell dirs, so probe pruning stays
    // valid.
    val vecPresent =
      if (nPresent == 0L) present
      else {
        val pCells = presentRows.select("cell").distinct()
          .collect().map(_.get(0)).toIndexedSeq
        ArtifactStore.readParquetCached(spark,
            s"$indexPath/vectors", Seq(s"$indexPath/vectors"))
          .filter(col("cell").isin(pCells: _*))
          .select("vec_id")
          .join(broadcast(present), Seq("vec_id"), "left_semi")
          .distinct().transform(ArtifactStore.eagerCheckpoint)
      }
    ArtifactStore.appendMissing(spark, indexPath, "vectors", "vec_id",
      assigned.select("vec_id"), assigned,
      partitionCols = Seq("cell"), presentKeys = Some(vecPresent))
    import spark.implicits._
    Seq(nextEpoch).toDF("epoch").write.mode("append")
      .parquet(s"$indexPath/epochs")
  }

  /** Codebook DRIFT audit (round-11 verdict #5) — the retrain trigger
    * the frozen-codebook contract defers, computed from the stored
    * index alone (two column-pruned scans, no corpus access): per
    * absorb epoch, the mean quantization error (fixed-point
    * `1 − cosine(vec, its centroid)`, floored per vector BEFORE the
    * cross-vector mean so aggregation order cannot drift it) and the
    * cell-occupancy concentration (largest cell's share of the epoch's
    * vectors). A stationary ingest holds both flat across epochs; a
    * shifted ingest distribution raises the error trend and piles its
    * vectors into the few cells nearest the shift — the two curves a
    * maintenance loop alarms on to schedule `buildIvfIndex` anew
    * (spec-planted both ways; strict-gated as x171). Returns (epoch, vectors,
    * avg_err_x1m, max_cell_rows, max_cell_share_x10000).
    */
  def auditIvfDrift(spark: SparkSession, indexPath: String): DataFrame = {
    ivfMeta(spark, indexPath)
    val vectors = ArtifactStore.readStore(spark, indexPath, "vectors",
      "vec_id")
    val centroids = ArtifactStore.readParquetCached(spark,
      s"$indexPath/centroids", Seq(s"$indexPath/centroids"))
    val err = vectors
      .join(broadcast(centroids), col("cell") === col("cid"))
      .select(col("epoch"), col("cell"),
        floor((lit(1.0) - Similarity.cosine(col("vec"), col("centroid")))
          * 1000000).cast("long").as("err_x1m"))
    err.groupBy("epoch", "cell")
      .agg(count(lit(1)).as("cn"), sum("err_x1m").as("se"))
      .groupBy("epoch")
      .agg(sum("cn").cast("long").as("vectors"),
        expr("div(sum(se), sum(cn))").as("avg_err_x1m"),
        max("cn").cast("long").as("max_cell_rows"))
      .withColumn("max_cell_share_x10000",
        expr("div(10000 * max_cell_rows, vectors)"))
      .orderBy("epoch")
  }

  /** Retract vectors (takedown): a tombstone append — every consumer
    * reads through the anti-join, so the cost is takedown-sized and
    * flat in the corpus; `compactIvfIndex` is the periodic physical
    * fold. The frozen codebook is untouched (see the object scaladoc).
    * Idempotent: a replayed retraction appends nothing.
    */
  def retractFromIvfIndex(retract: DataFrame, idCol: String,
      indexPath: String): Unit = {
    val spark = retract.sparkSession
    val mi = ivfMeta(spark, indexPath).getAs[Int]("id_parts")
    val rids = retract.select(col(idCol).as("vec_id")).distinct()
      .transform(ArtifactStore.eagerCheckpoint)
    // tombstone only ids the index actually HOLDS (the round-11 labels
    // advisory, applied to the vector family): a takedown for a vector
    // that was never embedded must not poison a future absorb's clash
    // guard for a genuinely new vector reusing the id. The scoping read
    // is PRUNED via the id-hash sidecar (round-13 verdict #1): a
    // takedown gives only ids, the cell is the frozen codebook's argmax
    // over the VECTOR, so cell pruning can't apply — the sidecar's
    // i = pmod(hash(vec_id)) dirs can, making the per-takedown read
    // O(takedown × bucketBytes) instead of a full vec_id column scan of
    // the corpus.
    val indexed = sidecarForIds(spark, indexPath, mi, rids)
      .select("vec_id").join(broadcast(rids), Seq("vec_id"), "left_semi")
      .distinct().transform(ArtifactStore.eagerCheckpoint)
    ArtifactStore.appendTombstones(spark, indexPath, "vec_id", indexed)
  }

  /** Fold tombstones into the vectors store and the ids sidecar
    * physically (back into their cell and id-hash dirs); after it,
    * retracted ids may be re-ingested. */
  def compactIvfIndex(spark: SparkSession, indexPath: String): Unit = {
    ivfMeta(spark, indexPath)
    ArtifactStore.compact(spark, indexPath, "vec_id",
      Seq("vectors" -> "cell", "ids" -> "i"))
  }

  /** RETRAIN — what consumes `auditIvfDrift`'s alarm (round-12 verdict
    * #4): rebuild the codebook FROM THE STORED VECTORS (no corpus
    * access — the index is self-contained), reassign every live vector
    * to the new centroids, and reset the epoch clock, closing the
    * frozen-codebook contract's deferred loop: absorb freezes, the
    * audit trends, retrain adapts. Tombstoned vectors are NOT retrained
    * — the rewrite is the physical fold `compactIvfIndex` would have
    * done, so the tombstone store is cleared and retracted ids may be
    * re-ingested afterwards (same post-state as compact).
    *
    * Training is the build's deterministic Lloyd refinement
    * (first-`nlist`-by-id seed + `trainIterations` assignment passes)
    * over the STORED vectors, so a stationary corpus retrains to the
    * geometry the build chose (consumers see identical probe answers at
    * nprobe = nlist — spec-pinned), while a drifted corpus pulls
    * centroids toward its new mass and mean quantization error drops
    * (x175's strict pin). The WHOLE retrain lands in ONE root swap
    * (`writeIvfRoot`, round-14 advisory): per-substore swaps left a
    * crash window where the new `vectors` cells were live while the
    * `ids` sidecar still mapped committed ids to PRE-retrain cells — a
    * later absorb containing a committed id would then compute its
    * present set from the stale cells, miss the committed row, and
    * append a duplicate vec_id. Codebook, vectors, sidecar, epoch
    * clock, and meta commit together or not at all; tombstones are
    * folded by omission (the swap replaces the root — same post-state
    * as compact, so retracted ids may be re-ingested afterwards). A
    * crash before the root marker rolls back (retrain re-runs); after
    * it, `repairStore` finishes the swap.
    */
  def retrainIvfIndex(spark: SparkSession, indexPath: String,
      trainIterations: Int = 4): Unit = {
    require(trainIterations >= 1,
      "retrainIvfIndex: trainIterations must be >= 1")
    val nlist = ivfMeta(spark, indexPath).getAs[Int]("nlist")
    // live vectors only (tombstone-filtered), materialized BEFORE the
    // swap unlinks the files this plan reads
    val stored = ArtifactStore.readStore(spark, indexPath, "vectors",
        "vec_id")
      .select(col("vec_id"), col("vec"))
      .transform(ArtifactStore.eagerCheckpoint)
    // the sidecar is rebuilt from the reassigned store (a retrain moves
    // cells, and a stale sidecar would route the absorb present-check
    // and retract scoping at the OLD geometry) with Mi resized to the
    // live corpus, and the sizing target re-measures on the RETRAINED
    // geometry — the advisor's drift clock resets, exactly like
    // rebalanceLshIndex
    writeIvfRoot(indexPath, stored,
      Similarity.trainCodebook(stored, "vec_id", "vec", nlist,
        trainIterations),
      nlist, trainIterations, 0, 0L)
  }
}
