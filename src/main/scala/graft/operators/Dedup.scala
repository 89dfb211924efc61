package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Portable._

/** Large-scale deduplication operators for training-data pipelines
  * (SURVEY.md §7.5 / BASELINE.json north star). All operators are
  * DataFrame transformations built from codegen'd built-in expressions —
  * no UDFs — so Catalyst keeps pushdown/pruning and whole-stage codegen.
  * All are lazy single plans except `bloomProbeNew`, whose bounded
  * (≤ numBits/8-byte) sketch materializes eagerly by design — see its
  * scaladoc.
  *
  * Scale design (100 TB): every operator reduces to
  * explode → shuffle-on-key → aggregate patterns whose width is bounded by
  * (docs × features), never docs²: candidate pairs come from inverted-index
  * self-joins on LSH buckets / shared grams, so the quadratic blowup is
  * limited to rows sharing a bucket. Oversized buckets are capped with a
  * count-filter before the self-join wherever raw shared features drive
  * candidates (`ngramJaccard` / `shingleContainment` /
  * `editDistanceDedup` `maxBucket`, `simHash` optional `maxBucket`);
  * MinHash-LSH band signatures carry enough entropy not to need one.
  */
object Dedup {

  /** Exact dedup by content hash: one survivor (min id) per distinct key.
    * The classic hash-groupBy: one shuffle on the 16-byte digest, map-side
    * partial aggregation, no data explosion.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(col(textCol)).as("content_hash"))
      .groupBy("content_hash")
      .agg(min(idCol).as("keeper_id"), count(lit(1)).as("dup_count"))

  /** Near-exact dedup on a normalized fingerprint (lowercase, collapsed
    * whitespace) — catches whitespace/case-only duplicates at the same
    * cost as `exact`.
    */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        md5(trim(regexp_replace(lower(col(textCol)), "\\s+", " "))).as("fingerprint"))
      .groupBy("fingerprint")
      .agg(min(idCol).as("keeper_id"), count(lit(1)).as("dup_count"))

  /** Incremental exact dedup — the steady-state shape of a production
    * corpus: a small `batch` of freshly crawled documents arrives against a
    * huge already-ingested `index`, and only batch docs whose normalized
    * fingerprint appears in neither the index nor earlier in the batch
    * survive. Returns one row per NOVEL fingerprint:
    * (fingerprint, keeper_id, dup_count) — keeper is the min-id batch doc.
    *
    * Scale: the index side reads ONLY its fingerprint column (store
    * fingerprints as their own compact table/column in production — at
    * 100 TB the index probe is a scan of a 16-byte-per-doc column, not the
    * corpus). One shuffle each side on the fingerprint for the left-anti
    * join; the within-batch groupBy then reuses the anti-join's
    * fingerprint partitioning — no extra exchange. Never index × batch.
    */
  def incrementalNew(batch: DataFrame, index: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    require(idCol != "fingerprint",
      "incrementalNew: id column collides with the reserved output column 'fingerprint'")
    def fp(d: DataFrame) = d.select(col(idCol),
      md5(trim(regexp_replace(lower(col(textCol)), "\\s+", " "))).as("fingerprint"))
    fp(batch)
      .join(fp(index).select("fingerprint").distinct(), Seq("fingerprint"), "left_anti")
      .groupBy("fingerprint")
      .agg(min(idCol).as("keeper_id"), count(lit(1)).as("dup_count"))
  }

  /** Bloom-prefiltered incremental exact dedup — `incrementalNew` with a
    * membership sketch in front of the anti-join, the way a 100 TB corpus
    * actually absorbs a fresh crawl batch. The index's fingerprints are
    * folded into a bit-array Bloom filter (one `bit_or` groupBy bounded by
    * `numBits/64` words, then a single ≤128 KB map broadcast to every
    * batch partition); batch docs whose k probe bits are not all set are
    * PROVABLY novel (Bloom has no false negatives) and bypass the
    * anti-join entirely — zero shuffle for them. Only the ~dup-rate+fpp
    * fraction that the filter cannot rule out pays the exact
    * fingerprint anti-join confirm, so the result is bit-identical to
    * `incrementalNew` while the batch-side exchange carries a few percent
    * of the rows. At 100 TB the index fingerprint table is bucketed by
    * fingerprint so the confirm join co-locates; the Bloom bitmap itself
    * is incrementally maintainable (bit_or is idempotent and mergeable).
    *
    * The probe is `element_at` + mask on a DENSE long array riding a
    * one-row broadcast — O(1) per probe bit inside whole-stage codegen,
    * no UDF, shipped once per executor. (Two rejected shapes, measured:
    * a MapType sketch makes every lookup a linear scan over numBits/64
    * ArrayBasedMapData entries — quadratic; a `lit(denseArray)` embeds
    * the sketch in every task binary.) Like `Similarity.trainCodebook`,
    * the sketch materializes eagerly: the sparse (word, bits) fold is a
    * distributed bit_or aggregate whose ≤ numBits/8-byte result (512 KB
    * at the default) collects and densifies on the driver — the
    * build-then-broadcast shape of Spark's own stat.bloomFilter, minus
    * its driver-object UDF probe. The index fingerprint projection is
    * materialized once (localCheckpoint) so the sketch build and the
    * confirm anti-join share one hashing pass — in production that
    * projection IS the persisted fingerprint table and the sketch builds
    * incrementally alongside it (bit_or is idempotent and mergeable).
    * xxhash64 seeds the k probe functions; it never reaches the oracle
    * (the final rows are sketch-independent by the no-false-negative
    * argument).
    */
  def bloomProbeNew(batch: DataFrame, index: DataFrame, idCol: String,
      textCol: String, numBits: Long = 1L << 22, numHashes: Int = 5): DataFrame = {
    require(numHashes >= 1, "need at least one probe hash")
    require(numBits > 0 && (numBits & (numBits - 1)) == 0, "numBits must be a power of two")
    require(idCol != "fingerprint",
      "bloomProbeNew: id column collides with the reserved output column 'fingerprint'")
    def fp(d: DataFrame) = d.select(col(idCol),
      md5(trim(regexp_replace(lower(col(textCol)), "\\s+", " "))).as("fingerprint"))
    def positions(c: Column): Seq[Column] =
      (0 until numHashes).map(i => pmod(xxhash64(c, lit(i)), lit(numBits)))
    def wordOf(pos: Column): Column = (pos / 64L).cast("int")
    def maskOf(pos: Column): Column =
      call_function("shiftleft", lit(1L), (pos % 64L).cast("int"))

    val idxFp = fp(index).select("fingerprint").transform(ArtifactStore.eagerCheckpoint)
    val numWords = (numBits / 64L).toInt
    val sparse = idxFp
      .select(explode(array(positions(col("fingerprint")): _*)).as("pos"))
      .groupBy(wordOf(col("pos")).as("w"))
      .agg(bit_or(maskOf(col("pos"))).as("bits"))
      .collect()
    val dense = new Array[Long](numWords)
    sparse.foreach(r => dense(r.getInt(0)) = r.getLong(1))
    val s = batch.sparkSession
    import s.implicits._
    val bitmap = Seq(Tuple1(dense)).toDF("bloom")

    val probed = fp(batch).crossJoin(broadcast(bitmap))
      .withColumn("might",
        positions(col("fingerprint"))
          // arrays are 1-based in element_at
          .map(p => (element_at(col("bloom"), (wordOf(p) + 1))
            .bitwiseAND(maskOf(p))) =!= 0L)
          .reduce(_ && _))
    val provablyNovel = probed.filter(!col("might")).select(col(idCol), col("fingerprint"))
    val confirmed = probed.filter(col("might")).select(col(idCol), col("fingerprint"))
      .join(idxFp.distinct(), Seq("fingerprint"), "left_anti")
    provablyNovel.unionByName(confirmed)
      .groupBy("fingerprint")
      .agg(min(idCol).as("keeper_id"), count(lit(1)).as("dup_count"))
  }

  /** Paragraph-granularity exact dedup — the dedup level between
    * whole-document fingerprints (`fingerprint`) and shingle near-dup
    * (`minHashLsh`), and the one that actually removes the boilerplate
    * production corpora carry (repeated headers / footers / license
    * blocks): split each document into paragraphs on `delimiter`, hash the
    * normalized paragraph, count how many DISTINCT documents each
    * paragraph appears in, and emit per doc the paragraph counts plus a
    * scrubbed text with every corpus-repeated paragraph (≥ 2 docs)
    * removed. Returns (id, para_count, dup_para_count, scrubbed_text);
    * paragraph order is preserved in the scrub.
    *
    * Scale: one map-only explode (bounded by text length), one
    * hash-groupBy shuffle on the 16-byte paragraph digest (map-side
    * partial — the exchange carries distinct digests, not paragraphs), one
    * digest-keyed equi-join, one doc-keyed regroup. Never docs²; a
    * pathological mega-paragraph shared by millions of docs is ONE digest
    * row on the frequency side, not a hot partition.
    */
  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String,
      delimiter: String = "\\n+"): DataFrame = {
    val paras = docs
      .select(col(idCol),
        posexplode(filter(transform(split(col(textCol), delimiter), p => trim(p)),
          p => p =!= "")).as(Seq("para_idx", "para")))
      .withColumn("ph", md5(trim(regexp_replace(lower(col("para")), "\\s+", " "))))
    val freq = paras.groupBy("ph").agg(count_distinct(col(idCol)).as("n_docs"))
    paras.join(freq, Seq("ph"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("para_count"),
        sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("dup_para_count"),
        array_join(
          transform(
            filter(array_sort(collect_list(struct(col("para_idx"), col("para"), col("n_docs")))),
              s => s.getField("n_docs") === 1),
            s => s.getField("para")), "\n").as("scrubbed_text"))
  }

  /** Content-anchored exact-substring dedup — character-level
    * verbatim-copy detection (the "deduplicating training data" substring
    * family): at every position whose 8-char anchor gram hashes to
    * 0 mod `stride` (winnowing-style CONTENT-DEFINED sampling — a copy of
    * a block anchors at the same content positions no matter what offset
    * it sits at, which a fixed-offset stride cannot guarantee), take the
    * length-`k` window, hash it, count DISTINCT docs per window hash
    * corpus-wide, and report per doc how many of its anchored spans
    * appear in ≥ `minDocs` docs. Catches long verbatim copies (licenses,
    * quoted articles) that word-shingle Jaccard dilutes away when the
    * surrounding doc differs. Docs shorter than `k` drop out; expected
    * anchors per doc ≈ len/stride.
    *
    * Scale: candidate positions generate-and-filter map-side inside one
    * codegen stage (the transient explode never shuffles — only the
    * ~len/stride anchored rows do), the frequency fold is one hash-keyed
    * shuffle with map-side partial distinct, and the join-back is
    * digest-keyed — never docs².
    */
  def substringDedup(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 64, stride: Int = 16, minDocs: Int = 2): DataFrame = {
    require(k >= 9 && stride >= 1 && minDocs >= 2, "substringDedup: bad parameters")
    val t = col(textCol)
    val grams = docs
      .select(col(idCol).as("doc"), t.as("__txt"),
        explode(when(length(t) >= k,
          sequence(lit(1), length(t) - (k - 1)))
          .otherwise(array().cast("array<int>"))).as("pos"))
      .filter(hash56(expr("substring(__txt, pos, 8)")) % stride === 0)
      .select(col("doc"), md5(expr(s"substring(__txt, pos, $k)")).as("h"))
    val freq = grams.groupBy("h").agg(count_distinct(col("doc")).as("nd"))
    grams.join(freq, Seq("h"))
      .groupBy("doc")
      .agg(count(lit(1)).as("total_spans"),
        sum(when(col("nd") >= minDocs, 1L).otherwise(0L)).as("shared_spans"))
  }

  /** Time-scoped exact dedup — the crawl/re-crawl policy: identical
    * content seen again WITHIN `horizonUs` of the previous sighting is a
    * burst duplicate (drop); seen again after a quiet gap longer than the
    * horizon it is a refresh (keep). Burst grouping is gap-based (the
    * session_window idiom on the content digest): a new burst starts when
    * the gap since the PREVIOUS sighting exceeds the horizon. Output:
    * (id, ts, burst, keep) — `keep` marks each burst's first sighting,
    * `burst` is the per-digest burst ordinal (0-based).
    *
    * Scale: one digest-keyed window shuffle — per-digest partition width
    * is that content's sighting count, never the corpus; the lag +
    * running-sum pair evaluates in a single pass over each sorted
    * partition (same frame, one Window operator).
    */
  def timeScopedDedup(df: DataFrame, idCol: String, textCol: String,
      tsUsCol: String, horizonUs: Long): DataFrame = {
    require(horizonUs > 0, "timeScopedDedup: horizonUs must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("__fp").orderBy(col("__ts"), col(idCol))
    df.select(col(idCol), md5(col(textCol)).as("__fp"),
        col(tsUsCol).cast("long").as("__ts"))
      .withColumn("__new", when(
        col("__ts") - lag(col("__ts"), 1).over(w) > horizonUs || lag(col("__ts"), 1).over(w).isNull,
        1L).otherwise(0L))
      .withColumn("burst",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1L)
      .select(col(idCol), col("__ts").as("ts"), col("burst"),
        (col("__new") === 1L).as("keep"))
  }

  /** Corpus snapshot diff — the incremental-pipeline primitive: compare
    * two versions of a corpus by id + content digest and classify every id
    * as `added` (new only), `removed` (old only), `changed` (both, digest
    * differs), or `unchanged`. The digest comparison makes the diff
    * content-aware, not just membership-aware — a re-crawled page with
    * edits shows as changed, byte-identical re-delivery as unchanged
    * (downstream stages can skip it). Output: (id, status).
    *
    * Scale: both sides project to (id, 16-byte digest) BEFORE the full
    * outer join — the only shuffle moves slim digest rows on the id key,
    * never document bodies.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // Presence is carried as an explicit flag per side, NOT inferred from
    // digest nullness: a row whose text is NULL has a NULL md5, and
    // digest-as-presence would misclassify it as added/removed. The
    // changed/unchanged split compares digests null-safely (<=>) so two
    // NULL-text versions of an id read as unchanged.
    val o = oldDf.select(col(idCol).as("id"), md5(col(textCol)).as("__oh"),
      lit(true).as("__op"))
    val n = newDf.select(col(idCol).as("id"), md5(col(textCol)).as("__nh"),
      lit(true).as("__np"))
    o.join(n, Seq("id"), "full_outer")
      .select(col("id"),
        when(col("__op").isNull, "added")
          .when(col("__np").isNull, "removed")
          .when(!(col("__oh") <=> col("__nh")), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Word-k-shingles per document: (doc, shingle), WITH duplicates — the
    * downstream `collect_set` aggregate dedups map-side, so a separate
    * distinct would only add a shuffle. The explode is bounded by text
    * length.
    */
  def shingles(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.select(col(idCol).as("doc"), tokens(col(textCol)).as("toks"))
      .select(col("doc"), explode(
        expr(s"transform(sequence(1, greatest(size(toks) - ${k - 1}, 1)), " +
          s"i -> array_join(slice(toks, i, $k), ' '))")).as("shingle"))

  /** Distinct 56-bit feature-hash set per doc, as one array column:
    * explode → groupBy(doc).collect_set — a SINGLE shuffle with map-side
    * partial aggregation (collect_set dedups), replacing the
    * distinct-then-regroup two-shuffle shape. The array is bounded by
    * document length, never corpus size.
    */
  private[operators] def featureSets(exploded: DataFrame): DataFrame =
    exploded.groupBy("doc").agg(collect_set(col("h")).as("features"))

  /** Map-side per-doc distinct word-shingle hash sets via the fused
    * graft_shingles native expression — set-identical to
    * `featureSets(shingles(...) + hash56)` (corpus equivalence spec in
    * OperatorSpec) with NO exchange; shared by every word-shingle
    * operator. isNotNull keeps the explode path's drop-null-text rows.
    */
  private[operators] def shingleFeatureSets(df: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame =
    df.select(col(idCol).as("doc"),
        graft.functions.ShingleHashes.ofCol(col(textCol), k).as("features"))
      .filter(col("features").isNotNull)

  /** Flood-guarded inverted-index candidate generation over a per-doc
    * feature-array table: explode the sets, drop features shared by more
    * than `maxBucket` docs (the stop-feature flood guard — see
    * `ngramJaccard`'s recall discussion), self-join the survivors on the
    * feature. Shared by the char-n-gram (`ngramJaccard`) and
    * word-shingle (`Eval.shingleJaccardExact`) exact baselines so the
    * guard-counting rule lives in exactly one place.
    */
  private[operators] def guardedCandidates(feats: DataFrame,
      maxBucket: Long): DataFrame = {
    val grams = feats.select(col("doc"), explode(col("features")).as("feature"))
    val kept = grams.join(
      grams.groupBy("feature").agg(count(lit(1)).as("__fc"))
        .filter(col("__fc") <= maxBucket), Seq("feature"))
      .select(col("doc"), col("feature"))
    kept.as("l").join(kept.as("r"),
        col("l.feature") === col("r.feature") && col("l.doc") < col("r.doc"))
      .select(col("l.doc").as("doc_a"), col("r.doc").as("doc_b"))
      .distinct()
  }

  /** MinHash + LSH banding near-dup detection.
    *
    * Pipeline: per-doc distinct shingle-hash array computed MAP-SIDE in
    * one pass (the fused `graft_shingles` native expression — no
    * shuffle; round 8 replaced the old explode → collect_set shape,
    * whose corpus-wide (doc, hash) exchange was the largest shuffle in
    * every consumer and measured 7 hash exchanges in x03's executed plan
    * vs 2 now) → all `numHashes` minhash values computed per-row in ONE
    * JIT'd array walk (the fused `graft_minhash` expression; the
    * declarative 16 × array_min(transform(...)) ran interpreted and
    * measured 2.09 s vs 1.35 s warm-min on x03 at sf0.1) → band buckets →
    * inverted-index self-join on (band, band signature) → exact Jaccard
    * on the candidates via `array_intersect` of the two feature arrays.
    *
    * Returns (doc_a, doc_b, common, size_a, size_b, jaccard) for pairs with
    * jaccard ≥ `threshold`.
    *
    * Scale: the only remaining exchanges are the equi-joins on band keys
    * and doc ids — all shuffle-partitionable; candidate verification
    * touches only pairs that collide in ≥1 band (expected
    * O(docs × near-dup rate)), never all pairs. Trade vs the old shape:
    * each consuming branch (bucket l/r, verify fa/fb) recomputes the
    * map-side extraction against its own column-pruned scan instead of
    * re-reading one exchange's shuffle files — storage reads for network
    * reads, no shuffle-disk pressure, and no reliance on AQE exchange
    * reuse. Measured at sf0.1 (bench min-of-warm): single-consumer
    * shapes speed up (decontamination 0.50 → 0.24 s), multi-branch
    * consumers pay the per-branch re-extraction (x03 1.21 → 1.64 s,
    * where the removed exchange had been memory-resident and
    * AQE-reused) — the regime that flips at cluster scale, where the
    * exchange is network and the re-scan is column-pruned storage. A
    * caller composing many consumers over one corpus materializes
    * `buildLshIndex` / `buildCanonicalLabels` — the write-once
    * artifacts remain the share-across-queries answer either way.
    *
    * `cacheFeatures = true` eagerly `localCheckpoint`s the per-doc feature
    * sets so the four consuming branches (bucket l/r, verify fa/fb) read
    * them instead of re-extracting per branch — the single-machine
    * multi-branch regime where the re-extraction trade loses (the measured
    * 1.21 → 1.64 s above). Off by default: it pins the corpus's feature
    * table in executor memory and hides the extraction subtree from the
    * plan, and at cluster scale the persisted-artifact path
    * (`buildLshIndex`) is the right lever instead.
    */
  def minHashLsh(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, cacheFeatures: Boolean = false): DataFrame = {
    val (rawFeats, rawBuckets) = minHashBuckets(df, idCol, textCol, shingleSize, numHashes, bands)
    val (feats, buckets) =
      if (!cacheFeatures) (rawFeats, rawBuckets)
      else {
        val f = rawFeats.transform(ArtifactStore.eagerCheckpoint)
        (f, bandBuckets(f, numHashes, bands))
      }

    val candidates = buckets.as("l").join(buckets.as("r"),
        col("l.band") === col("r.band") && col("l.sig") === col("r.sig") &&
          col("l.doc") < col("r.doc"))
      .select(col("l.doc").as("doc_a"), col("r.doc").as("doc_b"))
      .distinct()

    verifyJaccardArrays(candidates, feats, threshold)
  }

  /** Shared MinHash-LSH front end: per-doc feature sets and banded
    * signature buckets — the two tables every LSH consumer (self-join
    * dedup, incremental probe) joins on.
    */
  private def minHashBuckets(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int, bands: Int): (DataFrame, DataFrame) = {
    require(numHashes % bands == 0, "numHashes must divide into bands")

    // MAP-SIDE feature extraction (round 8): the fused native expression
    // computes each doc's distinct shingle-hash set in one JIT'd pass —
    // set-identical to the old explode → collect_set path (pinned by
    // OperatorSpec's corpus equivalence test) but WITHOUT its corpus-wide
    // (doc, hash) shuffle, which was the largest exchange in every
    // MinHash-LSH consumer.
    val feats = shingleFeatureSets(df, idCol, textCol, shingleSize)
    (feats, bandBuckets(feats, numHashes, bands))
  }

  /** Banded signature buckets from a (doc, features) table: all numHashes
    * minima in ONE JIT'd walk of the feature array (the fused
    * graft_minhash expression — the declarative alternative is numHashes
    * interpreted array_min(transform(...)) traversals; value-identical,
    * pinned per-doc on the real corpus in OperatorSpec "native minhash
    * signature..."), then one row per (doc, band, band-signature).
    */
  private def bandBuckets(feats: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    val sigs = feats.select(col("doc"),
      graft.functions.MinHashSignature.ofCol(col("features"), numHashes)
        .as("sigs"))
    val bandCols = (0 until bands).map { b =>
      val parts = (0 until rowsPerBand).map(r =>
        col("sigs").getItem(b * rowsPerBand + r))
      struct(lit(b).as("band"), concat_ws("_", parts: _*).as("sig"))
    }
    sigs.select(col("doc"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc"), col("bk.band").as("band"), col("bk.sig").as("sig"))
  }

  /** Incremental NEAR-dup — the probe production pipelines run on every
    * fresh crawl batch before ingest: does this document nearly duplicate
    * something already in the corpus? Both sides run the same MinHash-LSH
    * front end; candidates are (batch, index) band-bucket collisions —
    * never batch² or index², and the index's signatures/buckets are
    * exactly what a persisted LSH index stores, so at 100 TB the index
    * side is a pre-materialized table and only the batch recomputes.
    * Returns verified pairs (batch_doc, index_doc, common, size_a, size_b,
    * jaccard) with jaccard ≥ threshold; batch docs absent from the result
    * are novel. Ids must be disjoint across the two sides.
    */
  def incrementalNearDup(batch: DataFrame, index: DataFrame, idCol: String,
      textCol: String, shingleSize: Int = 3, numHashes: Int = 16,
      bands: Int = 4, threshold: Double = 0.5): DataFrame = {
    val (bFeats, bBuckets) = minHashBuckets(batch, idCol, textCol, shingleSize, numHashes, bands)
    val (iFeats, iBuckets) = minHashBuckets(index, idCol, textCol, shingleSize, numHashes, bands)
    crossSideProbe(bFeats, bBuckets, iFeats, iBuckets, threshold)
  }

  /** The cross-side LSH probe shared by `incrementalNearDup` (both sides
    * computed in-plan) and `probeLshIndex` (index sides read from a
    * persisted store): band-bucket collisions → exact Jaccard verify.
    */
  private def crossSideProbe(bFeats: DataFrame, bBuckets: DataFrame,
      iFeats: DataFrame, iBuckets: DataFrame, threshold: Double): DataFrame =
    verifyCrossJaccard(crossSideCandidates(bBuckets, iBuckets), bFeats,
      iFeats, threshold)

  private def crossSideCandidates(bBuckets: DataFrame,
      iBuckets: DataFrame): DataFrame =
    bBuckets.as("l").join(iBuckets.as("r"),
        col("l.band") === col("r.band") && col("l.sig") === col("r.sig"))
      .select(col("l.doc").as("doc_a"), col("r.doc").as("doc_b"))
      .distinct()

  private def verifyCrossJaccard(candidates: DataFrame, bFeats: DataFrame,
      iFeats: DataFrame, threshold: Double): DataFrame =
    candidates
      .join(bFeats.as("fa"), col("doc_a") === col("fa.doc"))
      .join(iFeats.as("fb"), col("doc_b") === col("fb.doc"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("fa.features"), col("fb.features"))).cast("long").as("common"),
        size(col("fa.features")).cast("long").as("size_a"),
        size(col("fb.features")).cast("long").as("size_b"))
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("size_a") + col("size_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)

  /** Persist the LSH index — the scaladoc claim "at 100 TB the index side
    * is a pre-materialized table" as working code: write the per-doc
    * feature sets and banded signature buckets for `index` under `path`
    * (`<path>/features`, `<path>/buckets`). Build once per corpus
    * generation; every later crawl batch probes the STORED signatures
    * (`probeLshIndex`) and never re-shingles the corpus. At production
    * scale, bucket the buckets table by (band, sig) and the features
    * table by doc so probes co-locate.
    *
    * BUILD CONTRACT: index the corpus AFTER exact dedup. Band buckets of
    * a post-exact-dedup corpus are bounded by near-dup cluster size; a
    * corpus with a large exact-dup cluster puts c IDENTICAL signatures
    * in the same buckets, and any consumer that self-joins the stored
    * buckets (`pairsFromLshIndex`) would pay c²/2 candidates for it —
    * that consumer's `maxBucket` guard exists for indexes that break
    * this contract.
    */
  def buildLshIndex(index: DataFrame, idCol: String, textCol: String,
      path: String, shingleSize: Int = 3, numHashes: Int = 16,
      bands: Int = 4, numBucketParts: Int = 0,
      bucketTargetBytes: Long = 0L): Unit = {
    // one materialization serves both substore writes AND the doc count
    // the partition geometry auto-sizes on
    val (feats, nDocs) = checkpointWithCount(
      minHashBuckets(index, idCol, textCol, shingleSize, numHashes, bands)._1,
      "lsh_build_feats")
    // a REBUILD replaces the root through `writeRoot`: the new generation
    // does not inherit the old one's tombstones (readStore's anti-join
    // would silently hide freshly indexed docs whose ids were ever
    // retracted — round-11 advisory), and a build that fails before the
    // swap leaves the old generation, tombstones included, live
    writeLshRoot(path, feats, nDocs, bandBuckets(feats, numHashes, bands),
      shingleSize, numHashes, bands, numBucketParts, bucketTargetBytes)
  }

  /** The LSH index's one root writer, shared by `buildLshIndex` and
    * `rebalanceLshIndex`: both substores PARTITIONED (round-12 verdict
    * #7) — buckets by h = pmod(hash(band, sig), M) so a batch probe's
    * own band-sigs become a partition filter on candidate generation,
    * features by f = pmod(hash(doc), Mf) so the exact-Jaccard verify
    * fetches ONLY the candidate docs' partitions; at 100 TB a probe
    * touches the batch's dirs of each substore, never a corpus-wide scan
    * of either. `numBucketParts = 0` auto-sizes both counts from `nDocs`
    * toward ~64k-row parts (floor 8: per-run scratch builds — x110/x108
    * build indexes per invocation — paid 64 near-empty dirs per build
    * with nothing to amortize them); production builds pick them so a
    * part is ~100 MB and M well exceeds a probe batch's distinct
    * band-sig / candidate-doc spread. `feats` must be materialized (both
    * writes consume it). The meta persists the build parameters beside
    * the data: a probe computed with DIFFERENT parameters doesn't fail —
    * its signatures just never collide and every batch doc silently
    * reads as novel, the worst kind of recall loss — so consumers that
    * recompute signatures (probeLshIndex, absorbIntoLabels) validate
    * against it. */
  private def writeLshRoot(path: String, feats: DataFrame, nDocs: Long,
      buckets: DataFrame, shingleSize: Int, numHashes: Int, bands: Int,
      numBucketParts: Int, bucketTargetBytes: Long): Unit = {
    val s = feats.sparkSession
    import s.implicits._
    val m =
      if (numBucketParts > 0) numBucketParts
      else math.max(8L, (nDocs * bands + 65535L) / 65536L).toInt
    val mf =
      if (numBucketParts > 0) numBucketParts
      else math.max(8L, (nDocs + 65535L) / 65536L).toInt
    ArtifactStore.writeRoot(s, path) { staging =>
      // The two substore writes OVERLAP (round 17, guide §2.6): they are
      // independent jobs writing DISJOINT staged dirs, and nothing is live
      // until the root swap, so no write-ordering contract exists between
      // them (unlike the absorb's idempotent appends, whose
      // features-first order IS the recovery proof). Submitting both from
      // a 2-thread pool lets the second write's map tasks back-fill
      // executors freed by the first's tail; wall = max of the two
      // writes instead of the sum.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      def write(sub: String, df: DataFrame, part: String,
          key: org.apache.spark.sql.Column) =
        scala.concurrent.Future(
          ArtifactStore.labeled(s, s"lsh_write_$sub") {
            ArtifactStore.writeRepartition(df.withColumn(part, key),
                Seq(col(part)))
              .write.mode("overwrite").partitionBy(part)
              .parquet(s"$staging/$sub")
          })
      try scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(Seq(
          write("features", feats, "f", lshFeatPartOf(mf)),
          write("buckets", buckets, "h", lshPartOf(m)))),
        scala.concurrent.duration.Duration.Inf)
      finally pool.shutdown()
      // the avg bucket-dir bytes this geometry was sized for — the
      // advisor's rebalance reference point (round-13 verdict #5), the
      // labels store's bucket_target_bytes discipline applied to the LSH
      // family. 0 = measure the staged dirs (FS listings only).
      val target =
        if (bucketTargetBytes > 0L) bucketTargetBytes
        else ArtifactStore.bucketDirBytes(s, s"$staging/buckets", "h").sum / m
      Seq((shingleSize, numHashes, bands, m, mf, target))
        .toDF("shingle_size", "num_hashes", "bands", "bucket_parts",
          "feature_parts", "bucket_target_bytes")
    }
  }

  /** Build several INDEPENDENT LSH indexes concurrently (guide §2.6 —
    * overlap independent jobs): each build reads its own input frame and
    * writes its own store root, so nothing orders them, and submitting
    * them from a small pool lets one build's jobs back-fill executors
    * idled by another's driver-side phases (plan analysis, meta/listing
    * FS work) and task tails. Results are identical to running the
    * builds sequentially — a build is a fresh store whose crash recovery
    * is "re-run the build", exactly as for a single `buildLshIndex`.
    * Paths must be distinct (same-path builds would race the swap). */
  def buildLshIndexes(builds: Seq[(DataFrame, String)], idCol: String,
      textCol: String, shingleSize: Int = 3, numHashes: Int = 16,
      bands: Int = 4): Unit = {
    require(builds.map(_._2).distinct.size == builds.size,
      "buildLshIndexes: index paths must be distinct")
    if (builds.size <= 1) {
      builds.foreach { case (df, p) =>
        buildLshIndex(df, idCol, textCol, p, shingleSize, numHashes, bands) }
    } else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(builds.size)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      try scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(builds.map { case (df, p) =>
          scala.concurrent.Future(
            buildLshIndex(df, idCol, textCol, p, shingleSize, numHashes,
              bands))
        }),
        scala.concurrent.duration.Duration.Inf)
      finally pool.shutdown()
    }
  }

  /** Re-partition an LSH index to new substore part counts — the
    * periodic maintenance dual of the partitioned appends, for when the
    * corpus outgrows the build-time M/Mf (part bytes grow with the
    * corpus at fixed counts; probe pruning's win is part bytes, so the
    * counts should track corpus size exactly as the labels store's N
    * does). One staged rewrite of the WHOLE root (`writeLshRoot`):
    * features re-hashed to the new `f=` dirs, buckets to the new `h=`
    * dirs, the meta's part counts and measured bucket-byte target
    * refreshed together — per-substore swaps would open a crash window
    * where the meta's counts disagree with one substore's dirs and
    * every pruned probe silently misses. Tombstones are FOLDED (the
    * rewrite is a free compact; retracted ids become re-ingestable),
    * exactly like `compactLshIndex`. Consumers are untouched: probe
    * answers are pinned strict-identical across a rebalance (x189).
    * `numBucketParts = 0` auto-sizes both counts from the live doc
    * count, the build's own sizing rule. */
  def rebalanceLshIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, numBucketParts: Int = 0): Unit = {
    ArtifactStore.repairStore(spark, path)
    val meta = lshMeta(spark, path)
    // live (tombstone-folded) substores; reads stay valid through the
    // staging writes because the live root is untouched until the swap
    val (feats, nDocs) = checkpointWithCount(
      indexStore(spark, path, "features").drop("f"), "lsh_rebalance")
    writeLshRoot(path, feats, nDocs,
      indexStore(spark, path, "buckets").drop("h"),
      meta.getAs[Int]("shingle_size"), meta.getAs[Int]("num_hashes"),
      meta.getAs[Int]("bands"), numBucketParts, 0L)
  }

  /** The buckets substore's partition key: band-sig hash mod the
    * build-time part count. */
  private def lshPartOf(m: Int) =
    pmod(hash(col("band"), col("sig")), lit(m))

  /** The features substore's partition key: doc hash mod the build-time
    * part count. */
  private def lshFeatPartOf(m: Int) = pmod(hash(col("doc")), lit(m))

  /** The index's meta row, checked against its one layout: buckets in
    * `h=` dirs and features in `f=` dirs, their part counts
    * (`bucket_parts`, `feature_parts`) beside the build parameters. */
  private def lshMeta(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): org.apache.spark.sql.Row =
    ArtifactStore.layoutMeta(spark, indexPath, "Dedup.buildLshIndex",
      "shingle_size", "num_hashes", "bands", "bucket_parts", "feature_parts")

  /** The stored buckets RESTRICTED to the partitions a probe batch's
    * own band-sigs occupy: the batch's distinct h set is collected
    * driver-side (bounded by min(|batch|·bands, M)) and becomes a
    * static partition filter; tombstones are applied exactly as
    * `readStore` would. `bBuckets` must be cheap to recompute or
    * checkpointed by the caller (it is read once for the h set and
    * again in the probe join).
    */
  private def storedBucketsForProbe(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      bBuckets: DataFrame): DataFrame = {
    val m = lshMeta(spark, indexPath).getAs[Int]("bucket_parts")
    val hs = bBuckets.select(lshPartOf(m).as("h")).distinct()
      .collect().map(_.getInt(0)).toIndexedSeq
    ArtifactStore.tombstoneFiltered(spark, indexPath, "doc",
      ArtifactStore.readParquetCached(spark, s"$indexPath/buckets",
          Seq(s"$indexPath/buckets"))
        .filter(col("h").isin(hs: _*)))
  }

  /** The stored features RESTRICTED to the given doc-hash partitions;
    * an empty id set reads as the typed empty frame. */
  private def storedFeaturesForDocs(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      fIds: Seq[Int]): DataFrame = {
    val base = ArtifactStore.readParquetCached(spark,
      s"$indexPath/features", Seq(s"$indexPath/features"))
    val pruned =
      if (fIds.isEmpty) base.limit(0)
      else base.filter(col("f").isin(fIds.toIndexedSeq: _*))
    ArtifactStore.tombstoneFiltered(spark, indexPath, "doc", pruned)
  }

  /** Checkpoint with any number of collect_set bucket metrics riding
    * the one action — the multi-set sibling of
    * `checkpointWithCountAndBuckets` for the stored-probe path (which
    * needs the candidates' FEATURE partitions and LABEL buckets at
    * once). */
  private def checkpointWithBucketSets(df: DataFrame, tag: String,
      sets: Seq[(String, org.apache.spark.sql.Column)])
      : (DataFrame, Long, Map[String, Seq[Int]]) = {
    val obs = org.apache.spark.sql.Observation(
      tag + "_" + java.util.UUID.randomUUID().toString.take(8))
    val metrics = count(lit(1)).as("__n") +:
      sets.map { case (n, c) => collect_set(c).as(n) }
    val ck = df.observe(obs, metrics.head, metrics.tail: _*)
      .transform(ArtifactStore.eagerCheckpoint(_, tag))
    val n = Option(obs.get("__n")).map(_.asInstanceOf[Long]).getOrElse(0L)
    val out = sets.map { case (s, _) =>
      s -> Option(obs.get(s))
        .map(_.asInstanceOf[scala.collection.Seq[Any]]
          .map(_.asInstanceOf[Int]).toSeq)
        .getOrElse(Seq.empty)
    }.toMap
    (ck, n, out)
  }

  /** The full stored-index probe (candidates from the batch's bucket
    * partitions, exact-Jaccard verify against the candidates' feature
    * partitions) — shared by `probeLshIndex` and `absorbIntoLabels`.
    * The candidate set is checkpointed ONCE and its observation carries
    * the partition/bucket id sets every downstream pruned read needs:
    * the candidates' feature partitions (verify fetch) and, when
    * `labelBucketsN` is given, the candidate docs' LABEL bucket ids
    * (absorb's canonical contraction — a superset of the verified
    * hits', which is all pruning needs). Returns the verified pairs
    * (lazy) and the label bucket ids. */
  private def probeStored(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, bFeats: DataFrame, bBuckets: DataFrame,
      threshold: Double,
      labelBucketsN: Option[Int] = None)
      : (DataFrame, Option[Seq[Int]]) = {
    val storedB = storedBucketsForProbe(spark, indexPath, bBuckets)
    val mf = lshMeta(spark, indexPath).getAs[Int]("feature_parts")
    val sets = ("fbk" -> pmod(hash(col("doc_b")), lit(mf))) +:
      labelBucketsN.map(n =>
        "lbk" -> pmod(hash(col("doc_b")), lit(n))).toSeq
    val (cand, _, bks) = checkpointWithBucketSets(
      crossSideCandidates(bBuckets, storedB), "lsh_probe_cand", sets)
    val iFeats = storedFeaturesForDocs(spark, indexPath, bks("fbk"))
    (verifyCrossJaccard(cand, bFeats, iFeats, threshold),
      bks.get("lbk"))
  }

  /** Validate a caller's MinHash parameters against the `meta` store a
    * `buildLshIndex` write left beside the index. The stored parameters
    * are read ONCE per (JVM, path) and served from the `ArtifactStore`
    * meta cache after that.
    */
  private def checkIndexParams(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, shingleSize: Int, numHashes: Int,
      bands: Int): Unit = {
    val r = lshMeta(spark, indexPath)
    val (ss, nh, bb) = (r.getAs[Int]("shingle_size"),
      r.getAs[Int]("num_hashes"), r.getAs[Int]("bands"))
    require(ss == shingleSize && nh == numHashes && bb == bands,
      s"LSH index at $indexPath was built with shingleSize=$ss, " +
        s"numHashes=$nh, bands=$bb but the probe asked for " +
        s"$shingleSize/$numHashes/$bands — mismatched signatures never " +
        "collide, so every probe would silently read as novel")
  }

  /** Probe a fresh batch against a persisted LSH index (`buildLshIndex`).
    * Identical output contract to `incrementalNearDup` — the batch side
    * runs the same MinHash front end (same shingleSize/numHashes/bands as
    * the build, or signatures won't collide); the index side is two
    * column-pruned parquet scans instead of a corpus re-shingle.
    */
  def probeLshIndex(batch: DataFrame, indexPath: String, idCol: String,
      textCol: String, shingleSize: Int = 3, numHashes: Int = 16,
      bands: Int = 4, threshold: Double = 0.5): DataFrame =
    probeLshIndexMulti(batch, Seq(indexPath), idCol, textCol,
      shingleSize, numHashes, bands, threshold)

  /** Probe one batch against a CHAIN of index versions (the versioned
    * ingest-loop shape: x108/x110 accumulate v0/v1/v2 generations and
    * probe every batch against all of them). Output is exactly
    * `indexPaths.map(probeLshIndex(batch, _, ...)).reduce(unionByName)` —
    * but the batch's MinHash front end (shingle + signature + checkpoint)
    * is computed ONCE and shared by every version's probe, instead of
    * once per version: the per-version work that remains is what
    * genuinely differs per store (its pruned buckets/features reads and
    * the exact-Jaccard verify). All versions must share the build
    * parameters, or their signatures wouldn't collide anyway. */
  def probeLshIndexMulti(batch: DataFrame, indexPaths: Seq[String],
      idCol: String, textCol: String, shingleSize: Int = 3,
      numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    require(indexPaths.nonEmpty, "probeLshIndexMulti: no index paths")
    val s = batch.sparkSession
    indexPaths.foreach(p =>
      checkIndexParams(s, p, shingleSize, numHashes, bands))
    // checkpoint the batch front end: the pruned stored-buckets reads
    // derive the batch's partition sets from bBuckets before the probe
    // joins consume it again — one checkpoint serves every version
    val bFeats = shingleFeatureSets(batch, idCol, textCol, shingleSize)
      .transform(ArtifactStore.eagerCheckpoint)
    val bBuckets = bandBuckets(bFeats, numHashes, bands)
    indexPaths.map(p => probeStored(s, p, bFeats, bBuckets, threshold)._1)
      .reduce(_ unionByName _)
  }

  /** Read one of the index's row stores, with retracted docs filtered
    * out: `retractFromLabels` records deletions as a tombstone doc set
    * beside the index (the deletion-vector pattern) instead of
    * rewriting the corpus-sized stores, so EVERY consumer of the stored
    * features/buckets reads through this anti-join. Tombstone sets are
    * takedown-sized (broadcast); `compactLshIndex` folds them into the
    * stores physically when they grow.
    */
  private def indexStore(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, which: String): DataFrame = {
    lshMeta(spark, indexPath)
    ArtifactStore.readStore(spark, indexPath, which, "doc")
  }

  /** localCheckpoint + row count in ONE action: the broadcast guards
    * below need the checkpointed sets' counts, and a separate count()
    * job per guarded set is exactly the per-batch overhead a
    * many-small-batches maintenance loop must not pay — the Observation
    * rides the checkpoint job (the `canonicalize` convergence-counter
    * pattern). */
  private def checkpointWithCount(df: DataFrame,
      tag: String): (DataFrame, Long) = {
    val obs = org.apache.spark.sql.Observation(
      tag + "_" + java.util.UUID.randomUUID().toString.take(8))
    val ck = ArtifactStore.eagerCheckpoint(df.observe(obs, count(lit(1)).as("n")), tag)
    val n = Option(obs.get("n")).map(_.asInstanceOf[Long]).getOrElse(0L)
    (ck, n)
  }

  /** `checkpointWithCount` plus the keys' BUCKET-ID set, all riding the
    * one checkpoint action (round-13): the pruned point-readers need
    * pmod(hash(key), n) of the frame they are about to look up, and a
    * separate distinct-collect per lookup is exactly the per-batch job
    * overhead the Observation trick exists to avoid. */
  private def checkpointWithCountAndBuckets(df: DataFrame, tag: String,
      keyCol: String, nBuckets: Int): (DataFrame, Long, Seq[Int]) = {
    val (ck, n, sets) = checkpointWithBucketSets(df, tag,
      Seq("bk" -> pmod(hash(col(keyCol)), lit(nBuckets))))
    (ck, n, sets("bk"))
  }

  /** Distinct id set of a batch, checkpointed with its count AND its
    * label-bucket ids in ONE observed job — the drain's replay guard
    * needs all three (the pruned present read, the fresh test, the
    * absorb's batch-id set), and computing them separately was three
    * Spark jobs per micro-batch. Column is named `doc` (the
    * `batchIdsPre` contract of [[absorbIntoLabelsNoRead]]). */
  private[graft] def batchIdsForLabels(
      spark: org.apache.spark.sql.SparkSession, labelsPath: String,
      keys: DataFrame, keyCol: String): (DataFrame, Long, Seq[Int]) =
    checkpointWithCountAndBuckets(
      keys.select(col(keyCol).as("doc")).distinct(), "drain_ids", "doc",
      labelsMeta(spark, labelsPath).getAs[Int]("num_buckets"))

  /** Hint broadcast only below a row bound — graceful degradation for
    * sets that are *typically* takedown-sized but unbounded when an
    * upstream contract is broken. Above the limit the plain frame is
    * returned (AQE still broadcasts when the actual bytes are small —
    * only the unconditional driver-side hint is dropped). */
  private def hintIfSmall(df: DataFrame, rows: Long,
      rowLimit: Long): DataFrame =
    if (rows <= rowLimit) broadcast(df) else df

  /** Default broadcast-guard bound where no caller knob exists: 4M
    * slim rows ≈ 32 MB of packed longs per executor — comfortably
    * broadcastable, far above any takedown/batch-component set. */
  private val DefaultBroadcastRowLimit = 4000000L

  /** Corpus-wide near-dup PAIRS from a persisted index (`buildLshIndex`)
    * — the pair-family consumer of the write-once artifact: the labels
    * table serves the keeper/census/manifest reports (x88b/x105b/x111),
    * but the recall and split-leakage audits need the EDGES themselves.
    * Band-bucket self-collisions over the STORED buckets, exact Jaccard
    * over the STORED features — identical output contract to
    * `minHashLsh` over the indexed corpus, with zero re-shingling: the
    * consumer's only inputs are two column-pruned parquet scans.
    *
    * `maxBucket` is the stored-bucket flood guard: the inline `minHashLsh`
    * goes without one because LSH band buckets are bounded by near-dup
    * CLUSTER size after exact dedup — but this consumer runs against ANY
    * index built earlier, including one built from a corpus that skipped
    * exact dedup, where a large exact-dup cluster puts c identical
    * signatures in one bucket and the self-join pays c²/2 candidate
    * pairs. With the guard, (band, sig) buckets holding more than
    * `maxBucket` docs are dropped before the self-join; a pair is missed
    * only if EVERY band the two docs agree on is flooded — at the default
    * `None` the output is exactly `minHashLsh`'s. Mind the documented
    * maxBucket CLIFF (verify skill notes): size a cap from the stored
    * bucket histogram (`buckets.groupBy("band","sig").count()`), not
    * intuition. The clean deployment contract remains: build the index
    * AFTER exact dedup (`buildLshIndex`'s scaladoc), and the guard is
    * belt-and-suspenders.
    */
  def pairsFromLshIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, threshold: Double = 0.5,
      maxBucket: Option[Long] = None): DataFrame = {
    maxBucket.foreach(cap => require(cap >= 2,
      "pairsFromLshIndex: maxBucket must be >= 2"))
    val buckets = indexStore(spark, indexPath, "buckets")
    val feats = indexStore(spark, indexPath, "features")
    val kept = maxBucket match {
      case None => buckets
      case Some(cap) =>
        buckets.join(
          buckets.groupBy("band", "sig").agg(count(lit(1)).as("__bc"))
            .filter(col("__bc") <= cap).select("band", "sig"),
          Seq("band", "sig"))
    }
    val candidates = kept.as("l").join(kept.as("r"),
        col("l.band") === col("r.band") && col("l.sig") === col("r.sig") &&
          col("l.doc") < col("r.doc"))
      .select(col("l.doc").as("doc_a"), col("r.doc").as("doc_b"))
      .distinct()
    verifyJaccardArrays(candidates, feats, threshold)
  }

  /** Persist the corpus's canonical near-dup labels — the write-once,
    * read-many artifact for the report family (`buildLshIndex` pattern):
    * run MinHash-LSH + connected-component canonicalization ONCE and
    * store (doc, canonical_id, is_keeper) under `path`. The x88/x103/
    * x105-class report queries each recompute exactly this subcomputation
    * corpus-wide — three of the five most expensive headliners duplicate
    * it — and at 100 TB the label table is THE shared artifact: build it
    * per corpus generation, then every report (split manifests, cluster
    * censuses, keeper joins) is a join-and-aggregate against the stored
    * labels instead of a corpus-wide LSH + label-propagation rerun.
    *
    * LAYOUT (round-12): the store is HASH-BUCKETED — `numBuckets` fixed
    * `b=<k>` dirs under `path` (k = pmod(hash(doc), N)) plus a
    * single-row `meta` (num_buckets), so `absorbIntoLabels`/
    * `retractFromLabels` rewrite ONLY the buckets holding a touched row
    * instead of swapping the corpus-sized table per batch (round-11's
    * one scale flag). Read it through `readLabels` — never a naive
    * spark.read of the root. `numBuckets = 0` (default) sizes N as
    * ceil(rows / 65536) with a floor of 8; at production scale pick N
    * so a bucket is ~100 MB AND N well exceeds the typical maintenance
    * batch's distinct-doc count — bytes written per mutation are
    * min(|touched|, N) × bucketBytes, flat in the corpus when both
    * hold (probe-measured: `absorb_labels_bytes`). This is the store's
    * only layout: a root whose meta lacks any of its fields fails every
    * read and mutation with a `StoreLayoutException` — rebuild it here.
    */
  def buildCanonicalLabels(docs: DataFrame, idCol: String, textCol: String,
      path: String, shingleSize: Int = 3, numHashes: Int = 16,
      bands: Int = 4, threshold: Double = 0.5,
      numBuckets: Int = 0, bucketTargetBytes: Long = 0L): Unit = {
    val spark = docs.sparkSession
    val pairs = minHashLsh(docs, idCol, textCol, shingleSize, numHashes,
        bands, threshold)
      .select("doc_a", "doc_b")
    val labels = canonicalize(docs, idCol, pairs).transform(ArtifactStore.eagerCheckpoint)
    val n =
      if (numBuckets > 0) numBuckets
      else math.max(8L, (labels.count() + 65535L) / 65536L).toInt
    writeLabelsBucketed(spark, labels, path, n, bucketTargetBytes)
  }

  /** Read a canonical-labels store (the `buildCanonicalLabels` layout)
    * via the explicit `b=` bucket-dir list. Every labels consumer goes
    * through here. A store whose every row was retracted has NO bucket
    * dirs (deleted-bucket mutations) — it reads as an empty frame typed
    * from the meta's recorded doc type, so a total takedown followed by
    * a fresh absorb is a legal lifecycle. */
  def readLabels(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    labelsMeta(spark, path)
    readLabelDirs(spark, path, ArtifactStore.listBucketDirs(spark, path))
  }

  /** Read an explicit bucket-dir subset of a labels store; an empty
    * list reads as the TYPED empty frame (the doc type is in the meta),
    * so total takedowns and fully-pruned lookups stay well-typed. */
  private def readLabelDirs(spark: org.apache.spark.sql.SparkSession,
      path: String, dirs: Seq[String]): DataFrame =
    if (dirs.nonEmpty)
      // leaf-dir read (both geometries share the row schema); the
      // cached schema kills the per-read footer-inference job — the
      // point lookups run several times per absorbed batch
      ArtifactStore.readParquetCached(spark, path, dirs, "#leaf")
        .select("doc", "canonical_id", "is_keeper")
    else {
      val docType = labelsMeta(spark, path).getAs[String]("doc_type")
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          s"doc $docType, canonical_id $docType, is_keeper boolean"))
    }

  /** The live dirs of one geometry holding the given bucket ids — the
    * `mutateBucketsMulti` livePaths derivation, shared by the pruned
    * point-readers. */
  private def bucketDirsFor(spark: org.apache.spark.sql.SparkSession,
      path: String, prefix: String, ids: Seq[Int]): Seq[String] = {
    val want = ids.map(k => s"$prefix=$k").toSet
    ArtifactStore.listBucketDirs(spark, path, prefix)
      .filter(p => want(new org.apache.hadoop.fs.Path(p).getName))
  }

  /** The bucket ids a key set occupies under pmod(hash(key), n) — one
    * tiny distinct-collect job, bounded by n. Callers that already run
    * an action on the keys fold this in via
    * `checkpointWithCountAndBuckets` instead. */
  private def bucketIdsOf(keys: DataFrame, keyCol: String,
      n: Int): Seq[Int] =
    keys.select(pmod(hash(col(keyCol)), lit(n)).as("__k")).distinct()
      .collect().map(_.getInt(0)).toSeq

  /** POINT READ by doc (round-12 verdict #2): rows of the buckets the
    * given doc keys occupy — O(touched buckets) bytes instead of the
    * corpus. The returned frame is a SUPERSET restricted to those
    * buckets (hash co-residents included); callers apply their joins
    * exactly as they would against the full table. `bucketIds`, when
    * supplied, must be the keys' pmod(hash(doc), num_buckets) set
    * (piggybacked off an existing action); otherwise one tiny
    * distinct-collect derives it.
    */
  def readLabelsForDocs(spark: org.apache.spark.sql.SparkSession,
      path: String, docKeys: DataFrame,
      bucketIds: Option[Seq[Int]] = None): DataFrame = {
    val n = labelsMeta(spark, path).getAs[Int]("num_buckets")
    val ids = bucketIds.getOrElse(bucketIdsOf(docKeys, "doc", n))
    readLabelDirs(spark, path, bucketDirsFor(spark, path, "b", ids))
  }

  /** POINT READ by canonical — all label rows of the given components,
    * from the canonical-keyed `c=<k>` twin geometry (the secondary
    * index that makes retraction's member lookup and absorb's relabel
    * derivation O(touched buckets); a doc-hash layout cannot serve a
    * by-component read because members scatter across doc buckets).
    * Superset semantics as `readLabelsForDocs`. */
  private[graft] def membersOfCanonicals(
      spark: org.apache.spark.sql.SparkSession, path: String,
      canonKeys: DataFrame, bucketIds: Option[Seq[Int]] = None): DataFrame = {
    val n = labelsMeta(spark, path).getAs[Int]("canon_buckets")
    val ids = bucketIds.getOrElse(
      bucketIdsOf(canonKeys, canonKeys.columns.head, n))
    readLabelDirs(spark, path, bucketDirsFor(spark, path, "c", ids))
  }

  /** Re-bucket a labels store to a new bucket count — the periodic
    * maintenance dual of the O(touched) mutations for when the corpus
    * outgrows the build-time N: bucket bytes grow with the corpus at
    * fixed N (mutation cost is touchedBuckets × bucketBytes), so N
    * should track corpus size the way `compactLshIndex` tracks
    * tombstone debt. One corpus-sized staged rewrite (read the whole
    * store, re-hash, root swap — the store is complete under some path
    * at every instant); consumers and mutators pick the new geometry up
    * from the refreshed meta. Amortize it like any compaction: rebalance
    * when bucketBytes drifts ~4× past target, not per batch. */
  def rebalanceLabels(spark: org.apache.spark.sql.SparkSession,
      path: String, numBuckets: Int): Unit = {
    require(numBuckets >= 1, "rebalanceLabels: numBuckets must be >= 1")
    // heal any crashed predecessor BEFORE reading (round-12 advisory —
    // the mutators' entry discipline): without it, a marked .__bstaging
    // that repair would roll forward is silently baked into the new
    // geometry as the MIXED live state, and the root swap then discards
    // the committed staging — the marker evidence gone, the
    // inconsistency permanent
    ArtifactStore.repairStore(spark, path)
    // materialize before the root swap deletes the dirs the plan read
    val labels = readLabels(spark, path).transform(ArtifactStore.eagerCheckpoint)
    writeLabelsBucketed(spark, labels, path, numBuckets)
  }

  /** The labels store's meta row, checked against its one layout: the
    * doc-keyed `b=` geometry (`num_buckets`), its canonical-keyed `c=`
    * twin (`canon_buckets`), the doc column's type (`doc_type`) and the
    * auto-rebalance hook's sizing target (`bucket_target_bytes`). The
    * row is cached per (JVM, path) like every artifact meta. */
  private def labelsMeta(spark: org.apache.spark.sql.SparkSession,
      path: String): org.apache.spark.sql.Row =
    ArtifactStore.layoutMeta(spark, path, "Dedup.buildCanonicalLabels",
      "num_buckets", "canon_buckets", "doc_type", "bucket_target_bytes")

  /** The labels store's one root writer (build, rebalance): BOTH
    * geometries — `b=<k>` doc-keyed and `c=<k>` canonical-keyed (the
    * member-lookup secondary index) — written into the staging root, each
    * repartitioned on its bucket column so a bucket lands as ~one file,
    * not tasks × buckets small files. Each part job's own `_SUCCESS` is
    * removed as soon as it lands: the first job's marker would otherwise
    * declare a staging complete that is still missing the later geometry.
    * The meta records the doc column's type (so a store whose every
    * bucket was later deleted still reads as a TYPED empty frame) and the
    * avg bucket bytes this geometry was sized for (`bucketTargetBytes = 0`
    * measures the staged `b=` dirs — the auto-rebalance hook's reference
    * point). */
  private def writeLabelsBucketed(spark: org.apache.spark.sql.SparkSession,
      labels: DataFrame, path: String, n: Int,
      bucketTargetBytes: Long = 0L): Unit = {
    import spark.implicits._
    ArtifactStore.writeRoot(spark, path) { staging =>
      Seq("b" -> "doc", "c" -> "canonical_id").foreach { case (p, key) =>
        ArtifactStore.writeRepartition(
            labels.withColumn(p, pmod(hash(col(key)), lit(n))), Seq(col(p)))
          .write.mode("append").partitionBy(p).parquet(staging)
        ArtifactStore.deletePath(spark, s"$staging/_SUCCESS")
      }
      val target =
        if (bucketTargetBytes > 0L) bucketTargetBytes
        else ArtifactStore.bucketDirBytes(spark, staging, "b").sum / n
      Seq((n, labels.schema("doc").dataType.catalogString, n, target))
        .toDF("num_buckets", "doc_type", "canon_buckets",
          "bucket_target_bytes")
    }
  }

  /** INCREMENTAL canonical-label maintenance — the piece that makes the
    * whole write-once artifact family (labels for x88b/x105b/x111, pairs
    * for x117b) live-corpus-capable: a fresh `batch` is absorbed into the
    * STORED label table (`buildCanonicalLabels`) and the STORED LSH index
    * (`buildLshIndex`) without ever re-running corpus-wide LSH or
    * label propagation. Result is oracle-identical to a full
    * `buildCanonicalLabels` rebuild over corpus + batch (spec-pinned and
    * strict-gated), at batch-bounded cost.
    *
    * Why batch-bounded is EXACT, not approximate: new LSH edges can only
    * touch batch docs (batch–batch collisions and batch–index
    * collisions — index–index edges were all found at build time and are
    * already encoded in the stored labels). Components of the grown
    * graph therefore merge only THROUGH batch nodes, and contracting
    * every old component to its stored canonical preserves exactly the
    * connectivity the update needs. Min-label propagation runs on the
    * CONTRACTED graph — nodes are the batch ids plus the touched old
    * canonicals, never the corpus — and since each stored canonical IS
    * its component's minimum id, the contracted minimum equals the full
    * rebuild's minimum. Three consequences fall out, all exercised by
    * the spec: a batch doc can bridge two old components (their rows
    * relabel to the joint minimum), a batch doc with a smaller id than
    * an old canonical TAKES OVER as keeper (the old component's rows
    * relabel), and old rows relabel through a canonical_id-keyed join
    * against the (tiny) relabel map — never a corpus-wide recompute.
    *
    * Dataflow: batch MinHash front end (map-side native expressions,
    * checkpointed once and shared by the three consumers) → batch–batch
    * self-collisions + batch–index probe against the STORED
    * buckets/features (column-pruned parquet scans, the probeLshIndex
    * shape) → exact-Jaccard verify → contracted-graph label propagation
    * (`canonicalize`, batch-sized) → canonical_id-keyed relabel join on
    * the stored labels → append the batch's features/buckets to the
    * index (idempotent per-store doc anti-join), THEN swap in the merged
    * labels (staged rename), so the NEXT batch probes a store that
    * already contains this one. The write ordering + idempotent append
    * make a crashed absorb recoverable by plain retry — see the inline
    * recovery contract at the write phase. Ids must be disjoint from the
    * indexed corpus (the `incrementalNearDup` contract); parameters must
    * match the index build or signatures won't collide.
    *
    * The update is IN PLACE; a what-if absorb that must leave the base
    * untouched copies the two roots first and absorbs into the copies
    * (x152). Returns the merged labels read back from the store.
    */
  def absorbIntoLabels(batch: DataFrame, idCol: String, textCol: String,
      labelsPath: String, indexPath: String,
      shingleSize: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    absorbIntoLabelsNoRead(batch, idCol, textCol, labelsPath, indexPath,
      shingleSize, numHashes, bands, threshold)
    val spark = batch.sparkSession
    ArtifactStore.labeled(spark, "absorb_final_read") {
      readLabels(spark, labelsPath)
    }
  }

  /** `absorbIntoLabels` without the final store read-back: the streaming
    * drain absorbs a micro-batch and DISCARDS the merged-labels handle,
    * but constructing it eagerly lists every live bucket dir of the
    * store — one distributed listing job per micro-batch (measured: a
    * 319-dir N = 512 store pays a "Listing leaf files for 319 paths"
    * job per absorbed file) for a frame nobody reads. `batchIdsPre`
    * optionally supplies the batch's DISTINCT id set — already
    * localCheckpointed, single `doc` column — with its row count, so a
    * caller that materialized the ids anyway (the drain's replay guard)
    * saves the absorb's own distinct-shuffle checkpoint job. */
  private[graft] def absorbIntoLabelsNoRead(batch: DataFrame, idCol: String,
      textCol: String, labelsPath: String, indexPath: String,
      shingleSize: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5,
      batchIdsPre: Option[(DataFrame, Long)] = None): Unit = {
    val spark = batch.sparkSession
    checkIndexParams(spark, indexPath, shingleSize, numHashes, bands)
    // heal any crashed predecessor BEFORE reading the store: a killed
    // bucket mutation can leave a mixed live state whose marked staging
    // rolls forward here (no-op fast path: a few FS existence checks)
    ArtifactStore.repairStore(spark, labelsPath)
    val labelsRow = labelsMeta(spark, labelsPath)
    val (n, cb) = (labelsRow.getAs[Int]("num_buckets"),
      labelsRow.getAs[Int]("canon_buckets"))

    // batch front end, shared by three consumers (bb pairs, bi probe,
    // index append) — checkpoint the per-doc feature sets once. The
    // index appends' partition-pruning sets (the batch docs' f dirs and
    // band-sig h dirs) RIDE THIS CHECKPOINT as an Observation (round 16):
    // they are per-row expressions of (doc, features), and the separate
    // bBuckets aggregation that used to derive them was a fixed 2-job
    // term per absorbed batch (absorb_partsets in the `Probe jobs` counts).
    val indexRow = lshMeta(spark, indexPath)
    val (mf, m) = (indexRow.getAs[Int]("feature_parts"),
      indexRow.getAs[Int]("bucket_parts"))
    val rowsPerBand = numHashes / bands
    val partsObs = org.apache.spark.sql.Observation(
      "absorb_parts_" + java.util.UUID.randomUUID().toString.take(8))
    val bFeats = ArtifactStore.labeled(spark, "absorb_bfeats") {
      // per-row band h-ids: same sig derivation as bandBuckets, kept in
      // lockstep (concat_ws of the band's minhash slots, hashed with the
      // band id) — collect_list + flatten + array_distinct because
      // collect_set over array values is not guaranteed
      val hs = (0 until bands).map { b =>
        val parts = (0 until rowsPerBand).map(r =>
          col("__sigs").getItem(b * rowsPerBand + r))
        pmod(hash(lit(b), concat_ws("_", parts: _*)), lit(m))
      }
      shingleFeatureSets(batch, idCol, textCol, shingleSize)
        .withColumn("__sigs",
          graft.functions.MinHashSignature.ofCol(col("features"), numHashes))
        .observe(partsObs,
          array_distinct(collect_list(pmod(hash(col("doc")), lit(mf))))
            .as("__f"),
          array_distinct(flatten(collect_list(array(hs: _*)))).as("__h"))
        .drop("__sigs")
        .transform(ArtifactStore.eagerCheckpoint)
    }
    def observedParts(name: String): Seq[Int] =
      Option(partsObs.get(name))
        .map(_.asInstanceOf[scala.collection.Seq[Any]]
          .map(_.asInstanceOf[Int]).toSeq)
        .getOrElse(Seq.empty)
    val bBuckets = bandBuckets(bFeats, numHashes, bands)

    // a batch id colliding with a TOMBSTONED id would resurrect rows the
    // tombstone filter hides (the index append is raw): re-ingesting a
    // retracted id (re-crawl supersede) requires compactLshIndex first,
    // or a fresh id — fail loud, not silently inconsistent
    if (ArtifactStore.hasTombstones(spark, indexPath)) {
      val clash = ArtifactStore.labeled(spark, "absorb_tombstone_guard") {
        ArtifactStore.tombstoneKeys(spark, indexPath, "doc")
          .join(broadcast(bFeats.select("doc")), Seq("doc"), "left_semi")
          .limit(1).count()
      }
      require(clash == 0L,
        s"absorbIntoLabels: batch contains ids tombstoned in $indexPath — " +
          "run compactLshIndex before re-ingesting a retracted id")
    }

    // batch-batch near-dup edges
    val bbCand = bBuckets.as("l").join(bBuckets.as("r"),
        col("l.band") === col("r.band") && col("l.sig") === col("r.sig") &&
          col("l.doc") < col("r.doc"))
      .select(col("l.doc").as("doc_a"), col("r.doc").as("doc_b"))
      .distinct()
    val bbPairs = verifyJaccardArrays(bbCand, bFeats, threshold)
      .select("doc_a", "doc_b")

    // batch-index probe against the STORED index, fully pruned: the
    // candidate checkpoint's observation carries the candidates'
    // feature-partition set (the exact-Jaccard verify fetches only
    // those dirs) and their label-bucket set (the canonical contraction
    // below reads only the label buckets holding a hit doc) — one
    // action, zero corpus-wide scans (round-12 verdict #2/#7)
    val (biRaw0, biBk) = ArtifactStore.labeled(spark, "absorb_probe") {
      probeStored(spark, indexPath, bFeats, bBuckets,
        threshold, labelBucketsN = Some(n))
    }
    val biRaw = biRaw0.select(col("doc_a"), col("doc_b"))
    // batch-index near-dup edges, index endpoint CONTRACTED to its
    // stored canonical (labels are total over the indexed corpus)
    val biPairs = ArtifactStore.labeled(spark, "absorb_bi_contract") {
      biRaw
        .join(readLabelsForDocs(spark, labelsPath,
            biRaw.select(col("doc_b").as("doc")), biBk)
          .select(col("doc").as("doc_b"), col("canonical_id").as("__bc")),
          Seq("doc_b"))
        .select(col("doc_a"), col("__bc").as("doc_b"))
    }

    // contracted graph: batch ids + touched old canonicals
    val edges = bbPairs.unionByName(biPairs)
      .transform(ArtifactStore.eagerCheckpoint(_, "absorb_edges"))
    // the distinct is LOAD-BEARING here (round-16 A/B): canonicalize's
    // round-0 labels are these nodes verbatim, and a doc appearing once
    // per incident edge would multiply the first edges⋈labels join by
    // its degree — x110's edge-heavy batches measured +2.4 s warm with
    // the distinct dropped (the min-agg itself is duplicate-insensitive,
    // but the join inflation is paid before the agg dedups)
    val nodes = batch.select(col(idCol).as("doc"))
      .unionByName(edges.select(col("doc_b").as("doc")))
      .distinct()
    // the merge checkpoint also carries the nodes' label-bucket ids —
    // the is-old-canonical lookup below prunes on them (zero extra jobs)
    val (newLabels, _, nlBk) = checkpointWithCountAndBuckets(
      canonicalize(nodes, "doc", edges), "absorb_merge", "doc", n)

    // which of the merge's nodes are STORED canonicals: every stored
    // canonical keeps a SELF-ROW (doc == canonical_id — the build and
    // both mutators preserve the invariant), so a doc-keyed pruned read
    // answers "is this doc an old canonical" from the nodes' own
    // buckets, never a corpus-wide distinct over canonical_id
    val oldCanon = ArtifactStore.labeled(spark, "absorb_oldcanon_read") {
      readLabelsForDocs(spark, labelsPath,
          newLabels.select("doc"), Some(nlBk))
        .filter(col("doc") === col("canonical_id")).select("doc")
    }
    // relabel map: old canonicals whose component minimum changed —
    // checkpointed with its __old bucket ids under the CANONICAL-keyed
    // twin geometry (the member lookup below prunes on them)
    val (relabel, nRelabel, relBk) = checkpointWithCountAndBuckets(
      newLabels.join(oldCanon, Seq("doc"))
        .filter(col("doc") =!= col("canonical_id"))
        .select(col("doc").as("__old"), col("canonical_id").as("__new")),
      "absorb_relabel", "__old", cb)
    val relabelH = hintIfSmall(relabel, nRelabel, DefaultBroadcastRowLimit)
    val (batchIds, nBatch) = batchIdsPre.getOrElse(checkpointWithCount(
      batch.select(col(idCol).as("doc")).distinct(), "absorb_batch"))
    val batchRows = newLabels
      .join(broadcast(batchIds), Seq("doc"))
      .select(col("doc"), col("canonical_id"))
    // the batch's final label rows — PURE INSERTS under the ids-disjoint
    // contract (no stored row carries a batch doc), which is what the
    // insert-append fast path below rides
    lazy val batchInsert = batchRows
      .select(col("doc"), col("canonical_id"),
        (col("doc") === col("canonical_id")).as("is_keeper"))
    // MOVED rows: ONLY the old rows whose canonical changed — looked up
    // in the canonical-keyed twin geometry (membersOfCanonicals), the
    // secondary index that exists precisely because a doc-hash layout
    // scatters a component's members across buckets. Usually EMPTY
    // (absorbing novel docs moves nothing) and always
    // relabel-component-bounded. materialized (with its row count, one
    // action) before any store mutation below.
    lazy val (movedUpserts, nMoved) = checkpointWithCount(
      membersOfCanonicals(spark, labelsPath,
          relabel.select(col("__old")), Some(relBk))
        .join(relabelH, col("canonical_id") === col("__old"))
        .select(col("doc"), col("__new").as("canonical_id"))
        .join(broadcast(batchIds), Seq("doc"), "left_anti")
        .select(col("doc"), col("canonical_id"),
          (col("doc") === col("canonical_id")).as("is_keeper")),
      "absorb_moved")
    // full upsert set (moved ∪ batch) — only the crash-replay fallback
    // mutation consumes it; both legs derive from checkpoints, so the
    // staging job that re-reads it never touches the store it mutates
    lazy val touchedUpserts = movedUpserts.unionByName(batchInsert)
    lazy val nUpserts = nMoved + nBatch

    // WRITE ORDERING (crash recovery contract): the index grows FIRST
    // and the labels mutate LAST, because the index append is idempotent
    // (per-store doc anti-join below — a retry skips rows a previous
    // partial run already committed) while the labels write is a bucket
    // mutation. A failure anywhere is recovered by RE-RUNNING THE SAME
    // ABSORB:
    //  - before the index append: nothing changed;
    //  - between the two index appends, or before the labels write: the
    //    retry's appends skip the committed rows, and its label merge is
    //    undisturbed — batch docs already sitting in the index carry no
    //    stored-label row, so their probe hits drop out of the
    //    batch–index edge set (the labels join) and the merge recomputes
    //    exactly as if the partial append had not happened;
    //  - the labels write last: the buckets mutate through the two-phase
    //    commit-marker protocol (ArtifactStore.mutateBucketsMulti) whose
    //    repair — ArtifactStore.repairStore — rolls an interrupted apply
    //    forward (or discards an unmarked staging), after which
    //    re-running the absorb is exact: its batch-id anti-join skips
    //    rows committed buckets already hold.
    // The OLD ordering (labels first, index second) was unrecoverable:
    // a failure between the writes left labels CONTAINING the batch, so
    // a retry found nothing to do and the index silently missed the
    // batch's near-dup edges forever (round-10 advisory).
    //
    // Idempotent index append: drop batch rows each store already holds
    // (ArtifactStore.appendMissing — the present set checkpoints before
    // the append job mutates the directory it read). The buckets grow
    // inside their h dirs and the features inside their f dirs, so probe
    // pruning stays valid. The (already checkpointed) batchIds stand in
    // for the appends' key set: bFeats' docs are a subset (null-text
    // docs filtered), and a SUPERSET of keys is harmless to the
    // present-check — one fewer checkpoint job per absorb.
    //
    // CONTENT-INDEPENDENT present check (round-13 advisory): the
    // features substore's f = pmod(hash(doc)) depends only on the id, so
    // ONE pruned read of the batch docs' own f dirs (observed on the
    // bFeats checkpoint above — zero extra jobs) gives the committed-doc
    // set that gates BOTH substores — an out-of-contract re-ingest of a
    // committed doc with NEW text (whose band-sigs land in different h
    // dirs) is caught and skipped. Features append first, buckets
    // second: a crash between them leaves the retry's presentDocs
    // CONTAINING the batch, and the buckets check below derives the
    // committed docs' h dirs from their STORED feature sets, so it still
    // completes the missing bucket rows. Normal path (nothing present):
    // one checkpoint job total, and the buckets store isn't read at all.
    val (fIds, hIds) = (observedParts("__f"), observedParts("__h"))
    val pObs = org.apache.spark.sql.Observation(
      "lsh_present_" + java.util.UUID.randomUUID().toString.take(8))
    val presentDocs = ArtifactStore.labeled(spark, "absorb_lsh_present") {
      ArtifactStore.readParquetCached(spark,
          s"$indexPath/features", Seq(s"$indexPath/features"))
        .filter(col("f").isin(fIds: _*)).select("doc")
        .join(broadcast(batchIds), Seq("doc"), "left_semi")
        .distinct()
        .observe(pObs, count(lit(1)).as("__n"))
        .transform(ArtifactStore.eagerCheckpoint)
    }
    // the index-side present count doubles as the labels-side REPLAY
    // detector (zero extra jobs): the index is written FIRST, so a
    // crashed prior attempt that reached the labels appends necessarily
    // committed the batch's index rows — 0 therefore certifies no batch
    // row can exist in the labels store and the insert-append fast path
    // below skips its probe read entirely
    val nPresentDocs = Option(pObs.get("__n"))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    ArtifactStore.appendMissing(spark, indexPath, "features", "doc",
      batchIds, bFeats.withColumn("f", lshFeatPartOf(mf)),
      partitionCols = Seq("f"), presentKeys = Some(presentDocs),
      presentKeysCount = Some(nPresentDocs))
    val bucketsPresent =
      if (nPresentDocs == 0L) presentDocs // empty, typed (doc)
      else {
        // rare path (crash retry / out-of-contract re-ingest): the
        // committed docs' bucket rows carry band-sigs derived from their
        // STORED feature sets — recompute those sigs from the features
        // substore (map-side, present-set-sized) so the h pruning covers
        // the committed dirs even when the batch's own text changed
        val committedSigs = bandBuckets(
          ArtifactStore.readParquetCached(spark,
              s"$indexPath/features", Seq(s"$indexPath/features"))
            .filter(col("f").isin(fIds: _*))
            .join(broadcast(presentDocs), Seq("doc"), "left_semi")
            .select("doc", "features"),
          numHashes, bands)
        val committedH = committedSigs
          .select(lshPartOf(m).as("h")).distinct()
          .collect().map(_.getInt(0))
        val hsAll = (hIds ++ committedH).distinct.toIndexedSeq
        ArtifactStore.readParquetCached(spark,
            s"$indexPath/buckets", Seq(s"$indexPath/buckets"))
          .filter(col("h").isin(hsAll: _*)).select("doc")
          .join(broadcast(presentDocs), Seq("doc"), "left_semi")
          .distinct().transform(ArtifactStore.eagerCheckpoint)
      }
    ArtifactStore.appendMissing(spark, indexPath, "buckets", "doc",
      batchIds, bBuckets.withColumn("h", lshPartOf(m)),
      partitionCols = Seq("h"), presentKeys = Some(bucketsPresent),
      presentKeysCount = if (nPresentDocs == 0L) Some(0L) else None)

    // REPLAY PROBE (pruned, id-keyed — content-independent): has a
    // crashed prior attempt already committed batch rows into the
    // doc-keyed geometry? Its emptiness is what licenses the
    // insert-append fast path below. The probe read itself is GATED on
    // the index-side present count (zero extra jobs on the normal path):
    // the index commits before the labels, so a batch the index has
    // never seen cannot have label rows — only when the index says "seen
    // before" (crash retry or the out-of-contract case) does the probe
    // actually scan the batch ids' buckets.
    val nPresentB: Long =
      if (nPresentDocs == 0L) 0L
      else ArtifactStore.labeled(spark, "absorb_replay_probe") {
        val pObs = org.apache.spark.sql.Observation(
          "absorb_present_" + java.util.UUID.randomUUID().toString.take(8))
        readLabelsForDocs(spark, labelsPath, batchIds, Some(nlBk))
          .join(broadcast(batchIds), Seq("doc"), "left_semi")
          .select("doc").distinct()
          .observe(pObs, count(lit(1)).as("__n"))
          .transform(ArtifactStore.eagerCheckpoint)
        Option(pObs.get("__n")).map(_.asInstanceOf[Long]).getOrElse(0L)
      }
    // plain partitioned append of label rows into both geometries' live
    // bucket dirs — new part-files only, no bucket content is read or
    // rewritten. ONE Spark job for both geometries (the
    // mutateBucketsMulti g/k staging trick): rows land tagged under
    // `.__appstage/g=<p>/k=<k>`, then driver-side renames move each
    // part-file into its live `<p>=<k>` dir — file moves, no second
    // shuffle. Crash anywhere leaves either inert `.__appstage` debris
    // (deleted on the next entry repair) or a partial move, which the
    // gated replay probe catches on retry exactly like the old
    // two-append window (per-doc atomicity holds: a doc's row lives in
    // exactly one staged file).
    def appendGeometries(rows: DataFrame): Unit =
      ArtifactStore.labeled(spark, "absorb_append_geoms") {
      import org.apache.hadoop.fs.Path
      val fsys = new Path(labelsPath)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val stage = s"$labelsPath/.__appstage"
      ArtifactStore.deletePath(spark, stage)
      val parts = Seq(("b", pmod(hash(col("doc")), lit(n))),
        ("c", pmod(hash(col("canonical_id")), lit(cb))))
      val staged = parts.map { case (g, k) =>
          rows.select(lit(g).as("g"), k.as("k"), col("doc"),
            col("canonical_id"), col("is_keeper"))
        }.reduce(_ unionByName _)
      // a two-geometry append of B docs writes ~2·min(B, N) bucket
      // files, and the per-file open/footer/close is the phase's real
      // wall cost, so the write must run parallel: writeRepartition pins
      // the partition count AQE would otherwise coalesce to ONE task
      // (measured 1.6 s per micro-batch). File count is unchanged (one
      // file per (g, k) group either way).
      ArtifactStore.writeRepartition(staged, Seq(col("g"), col("k")))
        .write.mode("overwrite").partitionBy("g", "k").parquet(stage)
      parts.foreach { case (g, _) =>
        val gDir = new Path(s"$stage/g=$g")
        if (fsys.exists(gDir)) fsys.listStatus(gDir).foreach { kSt =>
          val kName = kSt.getPath.getName // k=<id>
          if (kName.startsWith("k=")) {
            val target = new Path(
              s"$labelsPath/$g=${kName.stripPrefix("k=")}")
            fsys.mkdirs(target)
            fsys.listStatus(kSt.getPath).foreach { f =>
              if (f.getPath.getName.startsWith("part-"))
                require(fsys.rename(f.getPath,
                  new Path(target, f.getPath.getName)),
                  s"appendGeometries: could not move ${f.getPath}")
            }
          }
        }
      }
      ArtifactStore.deletePath(spark, stage)
      }
    if (nPresentB == 0L) {
      // INSERT-APPEND fast path (round-13 verdict #1): under the
      // ids-disjoint contract the batch's rows are pure inserts in BOTH
      // geometries, so they append as new files — the two-phase bucket
      // rewrite is needed only for the MOVED rows (old members whose
      // canonical changed), whose buckets it rewrites and nothing else.
      // An absorb of all-novel docs (the production crawl shape)
      // therefore writes O(batch) bytes and reads no bucket content at
      // all. Crash recovery stays re-run: the mutation is
      // marker-protected as before; a crash between the two geometry
      // appends leaves committed batch rows in b= that the replay probe
      // sees, routing the retry down the full fallback mutation below,
      // which drops-and-reinserts them exactly once and completes the
      // missing twin rows.
      if (nRelabel > 0L) {
        val movedDocs = movedUpserts.select("doc")
        ArtifactStore.mutateBucketsMulti(spark, labelsPath, "doc",
          Seq(ArtifactStore.BucketGeom("b", "doc", n, movedDocs),
            ArtifactStore.BucketGeom("c", "canonical_id", cb,
              relabel.select(col("__old").as("canonical_id"))
                .unionByName(
                  relabel.select(col("__new").as("canonical_id"))))),
          hintIfSmall(movedDocs, nMoved, DefaultBroadcastRowLimit),
          movedUpserts)
        ()
      }
      appendGeometries(batchInsert)
    } else {
      // crash-replay fallback: rewrite every bucket holding a batch row
      // or a moved row (the pre-round-14 shape) — drops the
      // partially-committed batch rows and re-inserts everything exactly
      // once, converging both geometries
      val touchedDocs = touchedUpserts.select("doc")
      ArtifactStore.mutateBucketsMulti(spark, labelsPath, "doc",
        Seq(ArtifactStore.BucketGeom("b", "doc", n, touchedDocs),
          ArtifactStore.BucketGeom("c", "canonical_id", cb,
            touchedUpserts.select(col("canonical_id")).unionByName(
              relabel.select(col("__old").as("canonical_id"))))),
        hintIfSmall(touchedDocs, nUpserts, DefaultBroadcastRowLimit),
        touchedUpserts)
      ()
    }
    // AUTO-REBALANCE hook (round-12 verdict #5): bucket bytes grow with
    // the corpus at fixed N, so the absorb that pushed the avg
    // live-bucket bytes ~4x past the build's recorded target triggers
    // the re-bucketing the operator would otherwise wait for a human to
    // schedule. The drift estimate is a BOUNDED deterministic sample
    // (round-15): listing all N dirs per absorb was an O(N) FS-metadata
    // term — at production N ∝ corpus, an O(corpus) LIST storm per batch
    // on an object store. No Spark job on the no-trigger path.
    val target = labelsRow.getAs[Long]("bucket_target_bytes")
    if (target > 0L) {
      // strided DIRECT dir probes (round 17): the hook's caller knows N,
      // so the drift sample skips the full root listing (~2N child stats
      // per absorb — the drain's thread dumps caught it) and probes ~32
      // bucket dirs directly
      val (avg, live) = ArtifactStore.bucketDirBytesSampledAvgN(
        spark, labelsPath, "b", n)
      if (avg > 4L * target)
        rebalanceLabels(spark, labelsPath,
          math.max(n + 1, math.ceil(avg.toDouble * live / target).toInt))
    }
  }

  /** RETRACTION — the deletion dual of `absorbIntoLabels`, and the last
    * edge of the artifact family's build → consume → maintain loop:
    * remove `retract`'s docs (takedown, right-to-be-forgotten, re-crawl
    * supersede) from the stored label table and LSH index so every
    * consumer afterwards behaves as if the docs were never indexed.
    * Result is oracle-identical to a full `buildCanonicalLabels` rebuild
    * over corpus − retracted (spec-pinned and strict-gated), at
    * COMPONENT-BOUNDED cost — never a corpus-wide recompute.
    *
    * Why component-bounded is EXACT: deleting nodes only removes edges,
    * so components can SPLIT or SHRINK but never merge — a component
    * containing no retracted doc keeps exactly its members and its
    * canonical (its minimum id is untouched). Only components that
    * contained a retracted doc need work, and their surviving members'
    * edges are RECOVERABLE FROM THE STORED INDEX (band-bucket
    * self-collisions + exact-Jaccard verify over the stored
    * features — the same signatures the full rebuild would compute, so
    * the recovered edge set is identical, x154's equivalence). Two hard
    * cases fall out, both spec-planted: a retracted KEEPER hands
    * canonical-ship to the next-smallest surviving member, and a
    * retracted BRIDGE doc SPLITS its component — the case pure label
    * propagation cannot fix without re-deriving that component's edges,
    * which is exactly what the restricted pair derivation does.
    *
    * Dataflow: retracted ids → touched canonicals (semi-join on the
    * stored labels; takedown-sized, broadcast) → member/survivor doc
    * sets of the touched components → stored buckets/features restricted
    * to survivors (two column-pruned scans; the self-join is bounded by
    * the touched components, with the `maxBucket` flood guard available
    * for indexes that broke the post-exact-dedup build contract) →
    * `canonicalize` over the survivors → union with the untouched
    * components' unchanged rows.
    *
    * The index mutation is a TOMBSTONE append (`<index>/tombstones`, a
    * doc set every consumer anti-joins — the deletion-vector pattern),
    * NOT a rewrite of the corpus-sized stores: retraction cost stays
    * flat in the stored-corpus size (probe-measured), and
    * `compactLshIndex` folds tombstones into the stores physically as
    * periodic maintenance. Write ordering mirrors `absorbIntoLabels`:
    * tombstones first (idempotent — an anti-join skips already-present
    * ids), the labels' bucket mutation last; a crash anywhere is
    * recovered by re-running the same retraction (the tombstone filter
    * changes nothing the retry reads: it re-derives edges among
    * SURVIVORS only).
    *
    * The update is IN PLACE. Signature parameters are not needed:
    * nothing is re-shingled. Returns the merged labels read back from
    * the store.
    *
    * `broadcastRowLimit` degrades the takedown-sized broadcasts
    * gracefully (round-11 verdict #2): the rid/touched-canonical/
    * survivor sets are bounded by the touched COMPONENTS' size, which
    * the documented post-exact-dedup build contract keeps tiny — but a
    * retraction touching one mega-component of an index built without
    * exact dedup would force-broadcast an unbounded set and OOM the
    * driver. Each set's guard count rides its checkpoint action as an
    * Observation (zero extra jobs); past the limit the hint is dropped
    * and the join plans as a plain shuffle (AQE still broadcasts if the
    * bytes turn out small).
    */
  def retractFromLabels(retract: DataFrame, idCol: String,
      labelsPath: String, indexPath: String, threshold: Double = 0.5,
      maxBucket: Option[Long] = None,
      broadcastRowLimit: Long = 4000000L): DataFrame = {
    val spark = retract.sparkSession
    maxBucket.foreach(cap => require(cap >= 2,
      "retractFromLabels: maxBucket must be >= 2"))
    // heal any crashed predecessor BEFORE reading the store (see
    // absorbIntoLabels' entry repair)
    ArtifactStore.repairStore(spark, labelsPath)
    val labelsRow = labelsMeta(spark, labelsPath)
    val (n, cb) = (labelsRow.getAs[Int]("num_buckets"),
      labelsRow.getAs[Int]("canon_buckets"))
    val mf = lshMeta(spark, indexPath).getAs[Int]("feature_parts")
    // the rids checkpoint carries their LABEL-bucket ids (the
    // touched-canonical lookup reads only the buckets holding a
    // retracted id) and their FEATURE-partition ids (the indexed-rid
    // check reads only those dirs of the stored features) — one
    // Observation riding the one action
    val (rids0, nRids, ridSets) = checkpointWithBucketSets(
      retract.select(col(idCol).as("doc")).distinct(), "retract_rids",
      Seq("lbk" -> pmod(hash(col("doc")), lit(n)),
        "fbk" -> pmod(hash(col("doc")), lit(mf))))
    val rids = hintIfSmall(rids0, nRids, broadcastRowLimit)

    // touched components and their member/survivor doc sets — all
    // takedown-component-sized, checkpointed once for their consumers
    // (each checkpoint carries its guard count — no separate count
    // jobs). The affected-canonical checkpoint also carries the
    // canonical-bucket ids the MEMBER lookup prunes on.
    val (affCanon0, nAff, affBk) = checkpointWithCountAndBuckets(
      readLabelsForDocs(spark, labelsPath, rids0, ridSets.get("lbk"))
        .join(rids, Seq("doc"), "left_semi")
        .select("canonical_id").distinct(), "retract_canon",
      "canonical_id", cb)
    val affCanon = hintIfSmall(affCanon0, nAff, broadcastRowLimit)
    // every row of a touched component — retracted AND surviving; the
    // bucketed write rewrites exactly the buckets holding one of these.
    // The member lookup reads the CANONICAL-keyed twin geometry — the
    // secondary index that makes a by-component read O(touched buckets)
    // where the doc-hash layout scatters members corpus-wide.
    val (members0, nMembers) = checkpointWithCount(
      membersOfCanonicals(spark, labelsPath, affCanon0, Some(affBk))
        .join(affCanon, Seq("canonical_id"), "left_semi")
        .select("doc"), "retract_members")
    // the survivor checkpoint also carries the survivors' FEATURE
    // partition ids — the exact-Jaccard re-derivation below fetches
    // only those dirs of the stored features
    val (survivors0, nSurv, survFBk) = checkpointWithCountAndBuckets(
      members0.join(rids, Seq("doc"), "left_anti"), "retract_survivors",
      "doc", mf)
    val survivors = hintIfSmall(survivors0, nSurv, broadcastRowLimit)

    // re-derive the touched components' surviving edges from the STORED
    // index — the pairsFromLshIndex shape restricted to the survivors
    val bk = indexStore(spark, indexPath, "buckets")
      .join(survivors, Seq("doc"), "left_semi")
    val kept = maxBucket match {
      case None => bk
      case Some(cap) =>
        bk.join(bk.groupBy("band", "sig").agg(count(lit(1)).as("__bc"))
          .filter(col("__bc") <= cap).select("band", "sig"),
          Seq("band", "sig"))
    }
    val cand = kept.as("l").join(kept.as("r"),
        col("l.band") === col("r.band") && col("l.sig") === col("r.sig") &&
          col("l.doc") < col("r.doc"))
      .select(col("l.doc").as("doc_a"), col("r.doc").as("doc_b"))
      .distinct()
    val ft = storedFeaturesForDocs(spark, indexPath, survFBk)
      .join(survivors, Seq("doc"), "left_semi")
    val pairs = verifyJaccardArrays(cand, ft, threshold)
      .select("doc_a", "doc_b")
    // materialized before any store mutation below — it reads the
    // stored index, which the tombstone append is about to grow
    val relabeled = canonicalize(survivors0, "doc", pairs)
      .transform(ArtifactStore.eagerCheckpoint)

    // index mutation first (idempotent), labels last — the same
    // recovery-by-retry contract as absorbIntoLabels' write phase.
    // Tombstone only ids the index actually HOLDS (round-11 advisory):
    // an id never indexed (null-text doc, or a takedown for a doc that
    // was never crawled) would otherwise sit in the tombstone store
    // forever and fail a future absorb's clash guard for a genuinely
    // new doc reusing the id — forcing a corpus-sized compact for a
    // retraction that never touched the index
    val indexedRids = storedFeaturesForDocs(spark, indexPath,
        ridSets("fbk"))
      .select("doc").join(rids, Seq("doc"), "left_semi")
      .distinct().transform(ArtifactStore.eagerCheckpoint)
    ArtifactStore.appendTombstones(spark, indexPath, "doc", indexedRids)
    // O(touched) label mutation: drop every touched component's rows
    // from exactly the buckets that hold one, re-insert the survivors
    // under their new canonicals — retracted docs simply have no upsert
    // row. Idempotent under replay: a second pass finds the rids gone
    // from the labels, so no component is touched. Both geometries
    // mutate under ONE marker: the canonical-keyed twin's touched
    // buckets are the affected OLD canonicals (all member rows leave
    // them) plus the survivors' new canonicals.
    ArtifactStore.mutateBucketsMulti(spark, labelsPath, "doc",
      Seq(ArtifactStore.BucketGeom("b", "doc", n, members0),
        ArtifactStore.BucketGeom("c", "canonical_id", cb,
          affCanon0.unionByName(relabeled.select(col("canonical_id"))))),
      hintIfSmall(members0, nMembers, broadcastRowLimit), relabeled)
    readLabels(spark, labelsPath)
  }

  /** Fold the tombstone set into the index stores physically — the
    * periodic maintenance dual of `retractFromLabels`'s flat-cost
    * tombstone append: one corpus-sized rewrite amortizes any number of
    * retractions, after which consumers stop paying the anti-join and
    * retracted ids may be re-ingested. Idempotent and crash-safe by the
    * same staged-swap discipline: each store swaps independently (a
    * half-compacted index still filters correctly — the tombstones dir
    * is deleted LAST, only after both stores no longer contain the
    * rows), and a retry completes whatever a crash left undone.
    */
  def compactLshIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Unit = {
    lshMeta(spark, indexPath)
    ArtifactStore.compact(spark, indexPath, "doc",
      Seq("features" -> "f", "buckets" -> "h"))
  }

  /** Exact n-gram Jaccard dedup via inverted-index join: docs sharing at
    * least one NON-FLOODED character-n-gram are verified exactly. For
    * corpora where every pair shares common grams, prefer `minHashLsh`;
    * this operator is the exact baseline.
    *
    * `maxBucket` is the candidate flood guard (same discipline as
    * `editDistanceDedup`): a gram present in m documents yields C(m,2)
    * candidate pairs, and a natural corpus's stop-grams ("of the and"-class
    * character runs) appear in nearly every document, degenerating the
    * inverted-index join toward all-pairs. Grams shared by more than
    * `maxBucket` docs are dropped BEFORE the self-join, bounding per-gram
    * fan-out at maxBucket²/2 pairs. Recall trade-off: a pair is missed
    * only if EVERY gram it shares is a flooded stop-gram — precisely the
    * pairs whose overlap carries no discriminative content, which sit far
    * below any useful Jaccard threshold anyway (two docs made entirely of
    * corpus-common grams). Verification always uses the FULL feature sets,
    * so reported Jaccard values are exact; only candidate discovery is
    * pruned.
    */
  def ngramJaccard(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, threshold: Double = 0.5, maxBucket: Long = 256L): DataFrame = {
    require(maxBucket >= 2, "ngramJaccard: maxBucket must be >= 2")
    val feats = featureSets(df
      .select(col(idCol).as("doc"), lower(col(textCol)).as("t"))
      .select(col("doc"), explode(
        expr(s"transform(sequence(1, greatest(length(t) - ${n - 1}, 1)), " +
          s"i -> substring(t, i, $n))")).as("gram"))
      .select(col("doc"), hash56(col("gram")).as("h")))
    verifyJaccardArrays(guardedCandidates(feats, maxBucket), feats, threshold)
  }

  /** Shingle CONTAINMENT near-dup — the asymmetric metric Jaccard
    * structurally misses: a short document quoted verbatim inside a long
    * one has |A∩B|/|A| ≈ 1 but Jaccard |A∩B|/|A∪B| ≈ |A|/|B| ≈ 0, so
    * threshold-Jaccard never fires. Containment here is measured against
    * the SMALLER side (`div(100·common, min(size_a, size_b))`) — "is one
    * of these documents mostly inside the other" — the
    * quote/excerpt/wrapper-page detector.
    *
    * Same dataflow as ngramJaccard: per-doc distinct shingle-hash sets
    * (one collect_set shuffle), shared-shingle inverted-index candidates,
    * array_intersect verification — candidates bounded by docs sharing a
    * NON-FLOODED shingle, never all pairs. `maxBucket` is the same
    * stop-feature flood guard as `ngramJaccard`/`editDistanceDedup`:
    * shingles present in more than `maxBucket` docs ("of the and"-class
    * word 3-grams, which a natural corpus puts in nearly every document)
    * are dropped before the self-join, bounding per-shingle fan-out at
    * maxBucket²/2 pairs. Recall trade-off: a contained pair is missed only
    * if every shingle it shares is corpus-common boilerplate — but a true
    * quote/excerpt by definition shares the QUOTED text's distinctive
    * shingles, which are rare corpus-wide. Verification uses the full
    * feature sets, so containment percentages are exact.
    */
  def shingleContainment(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, thresholdPct: Int = 80,
      maxBucket: Long = 256L): DataFrame = {
    require(thresholdPct >= 0 && thresholdPct <= 100,
      "shingleContainment: thresholdPct must be in [0, 100]")
    require(maxBucket >= 2, "shingleContainment: maxBucket must be >= 2")
    val feats = shingleFeatureSets(df, idCol, textCol, shingleSize)
    val grams = feats.select(col("doc"), explode(col("features")).as("feature"))
    val kept = grams.join(
      grams.groupBy("feature").agg(count(lit(1)).as("__fc"))
        .filter(col("__fc") <= maxBucket), Seq("feature"))
      .select(col("doc"), col("feature"))
    val candidates = kept.as("l").join(kept.as("r"),
        col("l.feature") === col("r.feature") && col("l.doc") < col("r.doc"))
      .select(col("l.doc").as("doc_a"), col("r.doc").as("doc_b"))
      .distinct()
    candidates
      .join(feats.as("fa"), col("doc_a") === col("fa.doc"))
      .join(feats.as("fb"), col("doc_b") === col("fb.doc"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("fa.features"), col("fb.features")))
          .cast("long").as("common"),
        size(col("fa.features")).cast("long").as("size_a"),
        size(col("fb.features")).cast("long").as("size_b"))
      .withColumn("containment_pct",
        expr("div(100 * common, greatest(least(size_a, size_b), 1))"))
      .filter(col("containment_pct") >= thresholdPct)
  }

  /** Winnowing fingerprint overlap — the MOSS local-fingerprinting scheme
    * (Schleimer/Wilkerson/Aiken, SIGMOD '03): hash every character
    * `k`-gram, slide a `window`-wide window over the positional hash
    * sequence, and keep each window's MINIMUM hash. The selected set is a
    * ~2/(window+1) sample of positions with the guarantee mod-p content
    * sampling (`substringDedup`'s `hash(gram) % stride == 0` anchor
    * filter) cannot make: ANY substring shared by two documents of length
    * ≥ window + k − 1 contributes at least one IDENTICAL fingerprint to
    * both. Both schemes are alignment-robust (selection keys on content,
    * not absolute position), but mod-p sampling only achieves DENSITY
    * 1/stride in expectation — a span none of whose gram hashes happen to
    * be ≡ 0 (mod stride) is invisible no matter how long it is, and the
    * miss probability (1−1/stride)^spanGrams decays slowly for short
    * spans. Winnowing converts the same sampling budget into a worst-case
    * bound: at least one fingerprint per `window` consecutive positions,
    * always (the MOSS paper's central trade).
    *
    * Pairs sharing ≥ `minShared` fingerprints are reported with exact
    * shared counts against full per-doc fingerprint sets. Dataflow is the
    * standard inverted-index discipline: the window-min selection is
    * per-doc map-side work (O(chars × window) with no shuffle), candidate
    * generation is the `maxBucket`-guarded equi-join on fingerprints
    * (stop-fingerprints — boilerplate every doc shares — are pruned
    * before the self-join; a true local match shares the copied span's
    * distinctive minima), verification re-joins the full sets. Work
    * scales with docs × fingerprints/doc + collisions, never docs².
    *
    * Gram hashing is a polynomial codepoint fold (h = fold cp_j into
    * (h·131 + cp_j) mod 1e15+37 over the k gram chars — Karp–Rabin's hash
    * family): each position costs k integer ops against the codepoint
    * array extracted ONCE per doc, where an md5-per-gram scheme pays a
    * digest + hex-decode per position and measures ~7× slower on the
    * probe corpus. Exact 64-bit integer arithmetic, same fold in DuckDB —
    * oracle-portable (the ~2^50 modulus keeps products under 2^63 while
    * making cross-doc hash collisions negligible at corpus scale;
    * verification counts shared fingerprints, so a rare collision only
    * costs candidate-join work, never correctness).
    *
    * Output: (doc_a, doc_b, common, size_a, size_b) — sizes are distinct
    * fingerprint counts, `common` the shared-fingerprint count.
    */
  def winnowingOverlap(df: DataFrame, idCol: String, textCol: String,
      k: Int = 12, window: Int = 8, minShared: Long = 8L,
      maxBucket: Long = 64L, nativeExpr: Boolean = false): DataFrame = {
    require(k >= 2, "winnowingOverlap: k must be >= 2")
    require(window >= 1, "winnowingOverlap: window must be >= 1")
    require(minShared >= 1, "winnowingOverlap: minShared must be >= 1")
    require(maxBucket >= 2, "winnowingOverlap: maxBucket must be >= 2")
    val base = df.select(col(idCol).as("doc"), lower(col(textCol)).as("t"))
    // `nativeExpr = true` routes the extraction through the fused
    // graft_winnow Catalyst expression (value-identical by construction —
    // see functions.WinnowFingerprints; requires GraftExtensions): the
    // declarative form below is three nested higher-order functions, and
    // Spark HOFs run interpreted outside whole-stage codegen, so on long
    // documents the map side is lambda-dispatch-bound.
    val fps =
      if (nativeExpr)
        base.select(col("doc"), explode(call_function("graft_winnow",
          col("t"), lit(k), lit(window))).as("h"))
      else base
        // codepoint array once per doc, then the positional k-gram hash
        // sequence (duplicates preserved — winnowing is positional), then
        // per-window minima, distinct
        .select(col("doc"),
          expr("transform(sequence(1, greatest(length(t), 1)), " +
            "i -> ascii(substring(t, i, 1)))").as("cps"))
        .select(col("doc"),
          expr(s"transform(sequence(1, greatest(size(cps) - ${k - 1}, 1)), " +
            s"i -> aggregate(slice(cps, i, $k), 0L, " +
            "(a, c) -> (a * 131 + c) % 1000000000000037L))").as("gh"))
        .select(col("doc"), explode(array_distinct(
          expr(s"transform(sequence(1, greatest(size(gh) - ${window - 1}, 1)), " +
            s"j -> array_min(slice(gh, j, $window)))"))).as("h"))
    val feats = featureSets(fps)
    val candidates = guardedCandidates(feats, maxBucket)
    candidates
      .join(feats.as("fa"), col("doc_a") === col("fa.doc"))
      .join(feats.as("fb"), col("doc_b") === col("fb.doc"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("fa.features"), col("fb.features")))
          .cast("long").as("common"),
        size(col("fa.features")).cast("long").as("size_a"),
        size(col("fb.features")).cast("long").as("size_b"))
      .filter(col("common") >= minShared)
  }

  /** Blocked edit-distance dedup — entity-resolution for SHORT strings
    * (titles, names, product labels) where token/shingle similarity is
    * too coarse: candidates share at least one NON-FLOODED character
    * `gramSize`-gram (q-gram filtering: strings of length L within k
    * edits share at least L+1−q−k·q q-grams, so one shared gram keeps
    * full recall while L+1−q > k·q — minus pairs whose every shared gram
    * is a pruned stop-gram, see `maxBucket`), verified with the exact
    * `levenshtein` built-in
    * (codegen'd in Spark, identical semantics in DuckDB — a fully
    * oracle-checkable edit distance). Output: (doc_a, doc_b, dist ≤
    * maxDist).
    *
    * Scale: the q-gram inverted index is the same candidate discipline as
    * ngramJaccard — equi-join on shared grams, never all pairs; the O(L²)
    * levenshtein verify runs only on candidates and L is short by
    * contract (cap inputs upstream; distance on long texts is
    * meaningless anyway).
    */
  def editDistanceDedup(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int, gramSize: Int = 6, maxBucket: Long = 256L): DataFrame = {
    require(maxDist >= 0, "editDistanceDedup: maxDist must be >= 0")
    require(gramSize >= 2, "editDistanceDedup: gramSize must be >= 2")
    require(maxBucket >= 2, "editDistanceDedup: maxBucket must be >= 2")
    val base = df.select(col(idCol).as("doc"), lower(col(textCol)).as("key"))
    val grams = base.select(col("doc"), explode(expr(
        s"array_distinct(transform(sequence(1, greatest(length(key) - ${gramSize - 1}, 1)), " +
          s"i -> substring(key, i, $gramSize)))")).as("g"))
    // Frequency pruning (the q-gram flood guard; BudgetDedupSpec pins it):
    // a gram shared by more than `maxBucket` records generates bucket²
    // candidate pairs while carrying almost no blocking signal — the
    // low-entropy stop-grams of the key domain. Dropping them bounds the
    // self-join fan-out at maxBucket²/2 pairs per gram; matches that
    // ONLY share flooded grams are the documented recall trade-off
    // (sortedNeighborhood covers that regime).
    val kept = grams.join(
      grams.groupBy("g").agg(count(lit(1)).as("__gc"))
        .filter(col("__gc") <= maxBucket), Seq("g"))
      .select(col("doc"), col("g"))
    val candidates = kept.as("l").join(kept.as("r"),
        col("l.g") === col("r.g") && col("l.doc") < col("r.doc"))
      .select(col("l.doc").as("doc_a"), col("r.doc").as("doc_b"))
      .distinct()
    candidates
      .join(base.select(col("doc").as("doc_a"), col("key").as("__ka")), Seq("doc_a"))
      .join(base.select(col("doc").as("doc_b"), col("key").as("__kb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("__ka"), col("__kb")).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** Sorted-neighborhood entity resolution — the other classic blocking
    * scheme: within each `prefixLen`-character block, rank records by
    * (normalized key, id) and compare each record against its next
    * `window` neighbors in sort order (similar strings sort together, so
    * a small window catches most true matches at O(window·n) candidate
    * cost — the method of choice when q-gram blocking floods on common
    * substrings). Verification is exact `levenshtein` ≤ maxDist. Output:
    * (doc_a, doc_b, dist), doc_a the sort-order predecessor.
    *
    * Scale: ranks are per-prefix windows (blocks partition the data, no
    * global sort); neighbor pairing is a map-side offset explode joined
    * back on (block, rank) — an equi-join. Deterministic by construction;
    * the documented blind spot is pairs whose keys differ in the first
    * `prefixLen` characters (use editDistanceDedup's q-gram blocking when
    * leading-character typos matter).
    */
  def sortedNeighborhood(df: DataFrame, idCol: String, textCol: String,
      window: Int, maxDist: Int, prefixLen: Int = 2): DataFrame = {
    require(window >= 1, "sortedNeighborhood: window must be >= 1")
    require(maxDist >= 0, "sortedNeighborhood: maxDist must be >= 0")
    require(prefixLen >= 1, "sortedNeighborhood: prefixLen must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(idCol).as("doc"), lower(col(textCol)).as("key"))
      .withColumn("block", substring(col("key"), 1, prefixLen))
    val w = Window.partitionBy("block").orderBy(col("key"), col("doc"))
    val ranked = base.withColumn("rn", row_number().over(w))
    val probes = ranked.select(col("block"),
      explode(expr(s"sequence(rn + 1, rn + $window)")).as("rn"),
      col("doc").as("doc_a"), col("key").as("__ka"))
    probes
      .join(ranked.select(col("block"), col("rn"),
        col("doc").as("doc_b"), col("key").as("__kb")), Seq("block", "rn"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("__ka"), col("__kb")).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** Exact Jaccard for candidate pairs against a per-doc feature-array
    * table: |A∩B| = `size(array_intersect)` after two equi-joins on doc id
    * — no feature-level join explosion, no extra aggregate. Integers all
    * the way, so the oracle comparison is exact.
    */
  private[operators] def verifyJaccardArrays(candidates: DataFrame, feats: DataFrame,
      threshold: Double): DataFrame =
    candidates
      .join(feats.as("fa"), col("doc_a") === col("fa.doc"))
      .join(feats.as("fb"), col("doc_b") === col("fb.doc"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("fa.features"), col("fb.features"))).cast("long").as("common"),
        size(col("fa.features")).cast("long").as("size_a"),
        size(col("fb.features")).cast("long").as("size_b"))
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("size_a") + col("size_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)

  /** Near-dup cluster canonicalization: from a pair table (doc_a, doc_b)
    * produced by any of the pairwise detectors above, assign every doc the
    * MINIMUM id of its connected component — the survivor each cluster
    * keeps. Iterative min-label propagation, with POINTER JUMPING from
    * round 3 on (round 17): early rounds adopt the smallest label among
    * self and neighbors (one cheap shuffle round — diameter ≤ 3-4
    * components, the common case, converge here); components still open
    * after 3 rounds add the label-of-label leg, which halves label
    * paths per round so even chain-shaped components finish in
    * O(log diameter) further rounds instead of O(diameter). Each round
    * is one checkpoint job. `localCheckpoint` truncates lineage per
    * round so plans stay flat at scale.
    *
    * `docs` must cover every id appearing in `pairs`. Callers should
    * pass NEAR-UNIQUE pairs: the edge union is deliberately not
    * dedup'd (min-aggregation is duplicate-insensitive and the LSH
    * verify/probe producers emit unique pairs), so a caller supplying
    * heavily duplicated pairs pays degree-multiplied join work in every
    * round — dedup at the source if duplicate rates grow.
    *
    * Returns (doc, canonical_id, is_keeper).
    */
  def canonicalize(docs: DataFrame, idCol: String, pairs: DataFrame,
      maxIters: Int = 20): DataFrame = {
    // NO distinct() on the flipped edge union (round 16): min/max
    // aggregation is duplicate-insensitive, callers pass already-unique
    // pairs (LSH verify output, probe edges), and the flip cannot
    // manufacture a duplicate from unique (a, b) pairs with a < b — so
    // the distinct bought nothing and cost a full shuffle inside every
    // absorb's contracted-graph merge (measured: canon_edges 3 jobs →
    // 1 narrow checkpoint per micro-batch). A caller passing duplicate
    // pairs only duplicates join work, never changes the fixpoint.
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .transform(ArtifactStore.eagerCheckpoint(_, "canon_edges"))
    var labels = docs.select(col(idCol).as("doc"), col(idCol).as("canonical"))
      .transform(ArtifactStore.eagerCheckpoint(_, "canon_init"))
    val idType = labels.schema("canonical").dataType
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      // One action per round: the label aggregation carries each doc's OLD
      // label alongside (labels leg only — max() ignores the neighbor leg's
      // nulls; labels is unique per doc), and an Observation metric counts
      // changed labels DURING the checkpoint job. The old shape ran a
      // second join+isEmpty action per round just to test convergence —
      // 2× the jobs, and a full extra scan of both label sets.
      val viaEdges = edges.join(labels, edges("src") === labels("doc"))
        .select(edges("dst").as("doc"), col("canonical"),
          lit(null).cast(idType).as("old"))
      // POINTER-JUMPING leg from round 3 on (round 17): each doc also
      // adopts its label's OWN label — label(label(doc)) — so label
      // paths halve per round and the tail converges in O(log diameter)
      // rounds instead of O(diameter). It costs one extra labels
      // self-join shuffle per round, which MEASURES AS A NET LOSS when
      // applied from round 0 at batch scale (drain body 14.6 → 15.6 s,
      // canon_round wall 0.62 → 1.03 s — near-dup components mostly
      // have diameter ≤ 3-4 and never need it), so the cheap
      // neighbor-only rounds run first and the jump leg kicks in only
      // for components still unconverged after 3 rounds — chain-shaped
      // contracted graphs (the absorb drain's worst case) stop paying
      // O(chain length) rounds without taxing the common case.
      // Sound because every label value is itself a doc in `labels`
      // (labels only ever take values from the initial id set), the
      // jump never leaves the component (label(d) is in d's component,
      // so label(label(d)) is too), and min-aggregation keeps the
      // per-doc label monotone non-increasing and bounded by the
      // component minimum — the fixpoint is the SAME component-minimum
      // labeling, reached in fewer rounds.
      val legs =
        if (iter < 3)
          labels.select(col("doc"), col("canonical"), col("canonical").as("old"))
            .union(viaEdges)
        else {
          val viaLabel = labels.as("lx").join(labels.as("ly"),
              col("lx.canonical") === col("ly.doc"))
            .select(col("lx.doc").as("doc"),
              col("ly.canonical").as("canonical"),
              lit(null).cast(idType).as("old"))
          labels.select(col("doc"), col("canonical"), col("canonical").as("old"))
            .union(viaEdges).union(viaLabel)
        }
      val obs = org.apache.spark.sql.Observation(s"canonicalize_round_$iter")
      val next = legs
        .groupBy("doc").agg(min("canonical").as("canonical"), max("old").as("old"))
        .observe(obs, sum(when(col("canonical") =!= col("old"), 1L).otherwise(0L))
          .as("changed"))
        .drop("old")
        .transform(ArtifactStore.eagerCheckpoint(_, "canon_round"))
      converged = Option(obs.get("changed")).forall(_.asInstanceOf[Long] == 0L)
      labels = next
      iter += 1
    }
    labels.select(col("doc"), col("canonical").as("canonical_id"),
      (col("doc") === col("canonical")).as("is_keeper"))
  }

  /** SimHash near-dup detection with banded Hamming search.
    *
    * 60-bit simhash per doc (≤62 keeps the signature positive in a BIGINT;
    * 60 divides evenly into 2/3/4/5/6 chunks): bit j is set when Σ_tokens
    * (±1 by token-hash bit j) > 0, computed branchlessly as per-plane bit
    * counts (2·cnt_j > total) lane-packed 3-per-BIGINT — one shuffle, 21
    * narrow aggregate columns, no explosion. Pairs within `maxHamming` are
    * found by the pigeonhole trick: split the signature into
    * `maxHamming + 1` chunks; any pair within distance k must agree on ≥1
    * chunk, so an inverted-index join on (chunk index, chunk value) finds
    * all of them without an all-pairs scan. (Measured on the sf0.1 fixture:
    * 60-bit/15-bit-chunk signatures generate 2.5× fewer candidate pairs
    * than 48-bit/12-bit — chunk entropy is the quadratic-blowup lever.)
    *
    * `maxBucket`: optional skew guard for the 100 TB path — chunk buckets
    * holding more than this many docs are skipped before the self-join
    * (a bucket of B docs costs B²/2 comparisons). Trades recall for a hard
    * bound on per-bucket work: a pair is missed only if EVERY chunk the two
    * docs agree on is oversized. None (default) keeps the exact pigeonhole
    * guarantee.
    */
  val SimHashBits = 60
  def simHash(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Option[Int] = None): DataFrame = {
    val chunks = maxHamming + 1
    require(SimHashBits % chunks == 0, s"$SimHashBits bits must split into ${chunks} chunks")
    val chunkBits = SimHashBits / chunks

    // Signature extraction is MAP-SIDE (round 8, the graft_shingles
    // pattern): the fused graft_simhash expression tokenizes, hashes,
    // and counts all 60 bit planes in one JIT'd loop per row —
    // value-identical to the previous explode → lane-packed doc-keyed
    // aggregation (pinned per-doc on the real corpus, OperatorSpec
    // "native simhash...") but WITHOUT its (doc, hash) explode and the
    // doc-keyed shuffle into 21 aggregate columns: the operator's first
    // exchange disappears from the plan.
    val sig = df.select(col(idCol).as("doc"),
      graft.functions.SimHashSignature.ofCol(col(textCol)).as("simhash"))

    val allChunked = sig.select(col("doc"), col("simhash"), explode(array(
      (0 until chunks).map(c =>
        struct(lit(c).as("c"),
          (shiftright(col("simhash"), c * chunkBits) % lit(1L << chunkBits)).as("v"))): _*)).as("ck"))
      .select(col("doc"), col("simhash"), col("ck.c").as("c"), col("ck.v").as("v"))

    val chunked = maxBucket match {
      case None => allChunked
      case Some(cap) =>
        // one extra count aggregate on (c, v) — the bucket-size histogram —
        // then drop the oversized buckets before they hit the self-join
        val sizes = allChunked.groupBy("c", "v").agg(count(lit(1)).as("__bk"))
          .filter(col("__bk") <= cap)
        allChunked.join(sizes.select("c", "v"), Seq("c", "v"))
    }

    // Pair dedup: a pair agreeing on k chunks would surface k times. With
    // the exact pigeonhole (no bucket cap) emit each pair only from its
    // SMALLEST agreeing chunk — a join-side filter on the two signatures —
    // instead of a post-join distinct(): one less shuffle, and duplicate
    // candidates die inside the join instead of being exchanged. With
    // `maxBucket` the smallest agreeing chunk may have been dropped, so
    // that path keeps the distinct().
    def chunkVal(sig: Column, cp: Int): Column =
      shiftright(sig, cp * chunkBits) % lit(1L << chunkBits)
    val joined = maxBucket match {
      case None =>
        val firstAgree = (0 until chunks).map(cp =>
          (col("l.c") <= lit(cp)) ||
            (chunkVal(col("l.simhash"), cp) =!= chunkVal(col("r.simhash"), cp)))
          .reduce(_ && _)
        chunked.as("l").join(chunked.as("r"),
            col("l.c") === col("r.c") && col("l.v") === col("r.v") &&
              col("l.doc") < col("r.doc") && firstAgree)
          .select(col("l.doc").as("doc_a"), col("r.doc").as("doc_b"),
            col("l.simhash").as("sig_a"), col("r.simhash").as("sig_b"))
      case Some(_) =>
        chunked.as("l").join(chunked.as("r"),
            col("l.c") === col("r.c") && col("l.v") === col("r.v") &&
              col("l.doc") < col("r.doc"))
          .select(col("l.doc").as("doc_a"), col("r.doc").as("doc_b"),
            col("l.simhash").as("sig_a"), col("r.simhash").as("sig_b"))
          .distinct()
    }
    joined
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Embedding cosine near-dup within blocking groups: pairs with cosine ≥
    * `threshold`, compared only inside the same `blockCol` value (at scale:
    * an LSH/IVF bucket id — see Similarity.signLsh — instead of a label).
    * Dot/norm folds are sequential `aggregate` over the array — exact-order
    * IEEE arithmetic, reproducible in the DuckDB oracle.
    */
  def embeddingCosine(df: DataFrame, idCol: String, vecCol: String,
      blockCol: String, threshold: Double): DataFrame =
    embeddingCosineBlocked(
      df.select(col(idCol).as("id"), col(blockCol).as("blk"),
        col(vecCol).cast("array<double>").as("vec")),
      threshold)

  /** Scale path for embedding near-dup: block on the sign-LSH bucket of
    * the vector itself (Similarity.signBucket) instead of a label column —
    * no metadata needed, candidate pairs shrink ~2^bits×, recall < 1 by
    * construction (near-dup vectors agree on most sign bits).
    */
  def embeddingCosineLsh(df: DataFrame, idCol: String, vecCol: String,
      bits: Int = 8, threshold: Double = 0.9): DataFrame = {
    val vec = col(vecCol).cast("array<double>")
    embeddingCosineBlocked(
      df.select(col(idCol).as("id"),
        Similarity.signBucket(vec, bits).as("blk"), vec.as("vec")),
      threshold)
  }

  private def embeddingCosineBlocked(v: DataFrame, threshold: Double): DataFrame = {
    val paired = v.as("l").join(v.as("r"),
      col("l.blk") === col("r.blk") && col("l.id") < col("r.id"))
    paired.select(
        col("l.id").as("id_a"), col("r.id").as("id_b"),
        Similarity.cosine(col("l.vec"), col("r.vec")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
