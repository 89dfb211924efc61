package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.Portable
import graft.operators.{ArtifactStore, Curation, Dedup, Eval, Graph, Maintenance, Profile, TextAnalysis, VectorIndex}
import graft.queries.ExtensionQueries.{dkCosine, dkHash56, dkQualityModelCtes, minHashPairsBodyFrom}
import graft.queries.QueryDef.tbl

/** Detector-quality and reproducibility audit queries (x114–x117) — the
  * measurements a curation team runs ON its own pipeline: source-overlap
  * estimation, LSH recall against exact ground truth, reproducible epoch
  * ordering, and split-leakage scoring. Oracles reuse the shared portable
  * primitives (md5 56-bit hash + the Portable minhash family), so every
  * entry is a full hash check.
  */
object EvalQueries {

  private val P = Portable.P

  /** The 16 per-source min-hash aggregate expressions of the portable
    * family, as DuckDB SQL over a `(grp, h)` CTE.
    */
  private def dkMinCols(numHashes: Int): String =
    (0 until numHashes).map(i =>
      s"min((${Portable.coeffA(i)} * (h % $P) + ${Portable.coeffB(i)}) % $P) AS m$i")
      .mkString(",\n    ")

  /** x117/x117b shared oracle — the split-leakage audit report. */
  private lazy val splitLeakageOracle: String = {

        def split(h: String) =
          s"""CASE WHEN ${dkHash56(h)} % 100 < 10 THEN 'test'
             |       WHEN ${dkHash56(h)} % 100 < 15 THEN 'val'
             |       ELSE 'train' END""".stripMargin
        s"""WITH RECURSIVE ${minHashPairsBodyFrom("documents", "doc_id", "text")},
           |pairs AS (SELECT doc_a, doc_b FROM res WHERE jac >= 0.5),
           |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
           |  UNION SELECT doc_b, doc_a FROM pairs),
           |reach(a, b) AS (
           |  SELECT doc, doc FROM toks
           |  UNION
           |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
           |canon AS (SELECT a AS doc, min(b) AS canonical_id FROM reach GROUP BY a),
           |lab AS (SELECT doc,
           |  ${split("doc::VARCHAR")} AS naive,
           |  ${split("canonical_id::VARCHAR")} AS clus
           |  FROM canon),
           |ej AS (SELECT la.naive AS na, la.clus AS ca, lb.naive AS nb, lb.clus AS cb
           |  FROM pairs p JOIN lab la ON p.doc_a = la.doc
           |  JOIN lab lb ON p.doc_b = lb.doc),
           |ag AS (SELECT count(*)::BIGINT AS pairs_total,
           |    sum(CASE WHEN na <> nb THEN 1 ELSE 0 END)::BIGINT AS n_cross,
           |    sum(CASE WHEN (na = 'train' AND nb = 'test')
           |          OR (na = 'test' AND nb = 'train') THEN 1 ELSE 0 END)::BIGINT AS n_tt,
           |    sum(CASE WHEN ca <> cb THEN 1 ELSE 0 END)::BIGINT AS c_cross,
           |    sum(CASE WHEN (ca = 'train' AND cb = 'test')
           |          OR (ca = 'test' AND cb = 'train') THEN 1 ELSE 0 END)::BIGINT AS c_tt
           |  FROM ej)
           |SELECT 'cluster' AS policy, pairs_total, c_cross AS cross_split_pairs,
           |  c_tt AS train_test_pairs FROM ag
           |UNION ALL
           |SELECT 'naive', pairs_total, n_cross, n_tt FROM ag
           |ORDER BY policy""".stripMargin
  }

  /** Build-once-per-(JVM, sf-dir) shredded VARIANT table — x144's parse
    * applied at INGESTION: events with props parsed once into a stored
    * VARIANT column `v` (Spark 4 writes VariantType to parquet natively).
    * Consumers (x144b) field-extract with variant_get against the binary
    * encoding and never re-parse; the one-time parse cost sits in the
    * first consumer's cold time, exactly like the canonical-labels build.
    */
  private val variantBuilt = scala.collection.mutable.Set[String]()
  private def variantTableFor(s: org.apache.spark.sql.SparkSession,
      d: String): String = variantBuilt.synchronized {
    val path =
      s"${ExtensionQueries.idxScratch}/variant_${Integer.toHexString(d.hashCode)}"
    if (!variantBuilt(path)) {
      QueryDef.events(s, d)
        .select(col("event_type"), expr("parse_json(props)").as("v"))
        .write.mode("overwrite").parquet(path)
      variantBuilt += path
    }
    path
  }

  /** x150/x150b shared fixture: the synthetic URL surface (x126's
    * construction) and the policy rule list — two implementations of the
    * same longest-prefix gate share one oracle.
    */
  private def policyUrls(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    tbl(s, d, "documents").select(col("doc_id"),
      concat(lit("https://"),
        element_at(array(lit(""), lit("www."), lit("cdn."), lit("m.")),
          (pmod(col("doc_id"), lit(4)) + 1).cast("int")),
        col("source"), lit("."),
        element_at(array(lit("com"), lit("org"), lit("net"),
          lit("co.uk"), lit("com.au")),
          (pmod(expr("doc_id div 20"), lit(5)) + 1).cast("int")),
        lit("/"), col("lang"), lit("/"), col("doc_id")).as("url"))

  private[graft] val policyRules: Seq[(String, Boolean)] =
    Seq("https://cdn." -> false, "https://m." -> false,
      "https://m.src7." -> true, "https://www.src3." -> false)

  private val urlPolicyOracle: String =
    """WITH u AS (SELECT doc_id,
      |    'https://' ||
      |    (CASE doc_id % 4 WHEN 0 THEN '' WHEN 1 THEN 'www.'
      |      WHEN 2 THEN 'cdn.' ELSE 'm.' END) ||
      |    source || '.' ||
      |    (CASE (doc_id // 20) % 5 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
      |      WHEN 2 THEN 'net' WHEN 3 THEN 'co.uk' ELSE 'com.au' END) ||
      |    '/' || lang || '/' || doc_id AS url
      |  FROM documents),
      |r(rule, allow) AS (VALUES
      |  ('https://cdn.', FALSE), ('https://m.', FALSE),
      |  ('https://m.src7.', TRUE), ('https://www.src3.', FALSE)),
      |m AS (SELECT doc_id, url, rule, allow FROM u
      |  LEFT JOIN r ON starts_with(url, rule)),
      |p AS (SELECT doc_id, url,
      |    max_by(rule, length(rule)) AS matched_rule,
      |    max_by(allow, length(rule)) AS ma
      |  FROM m GROUP BY 1, 2)
      |SELECT doc_id, url, matched_rule,
      |  coalesce(ma, TRUE) AS allowed
      |FROM p ORDER BY doc_id""".stripMargin

  /** x152 base artifacts — the STORED corpus generation the absorb step
    * grows: canonical labels + LSH index over the doc_id % 4 != 0 slice,
    * built once per (JVM, sf-dir) with the production 3/16/4/0.5
    * parameters (the `canonicalLabelsFor` contract). Each x152
    * evaluation absorbs the % 4 == 0 batch into FRESH out-paths, so the
    * base store is never mutated and re-evaluation is idempotent.
    */
  private val absorbBase = scala.collection.mutable.Set[String]()
  private def absorbBaseFor(s: org.apache.spark.sql.SparkSession,
      d: String): (String, String) = absorbBase.synchronized {
    val tag = Integer.toHexString(d.hashCode)
    val lbl = s"${ExtensionQueries.idxScratch}/abslabels_$tag"
    val idx = s"${ExtensionQueries.idxScratch}/absidx_$tag"
    if (!absorbBase(lbl)) {
      val corpusDocs = tbl(s, d, "documents").filter(col("doc_id") % 4 =!= 0)
      Dedup.buildCanonicalLabels(corpusDocs, "doc_id", "text", lbl,
        shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5)
      Dedup.buildLshIndex(corpusDocs, "doc_id", "text", idx,
        shingleSize = 3, numHashes = 16, bands = 4)
      absorbBase += lbl
    }
    (lbl, idx)
  }

  /** x152b base artifacts — the PRODUCTION-geometry generation: batch ≈
    * corpus/512 and the labels store bucketed at N = 512 so a batch
    * touches ≪ N buckets (the regime the twin-geometry mutation design
    * targets — round-13 verdict: the bench graded the maintenance
    * family only at the adversarial batch ≈ corpus/4 geometry where
    * every bucket of both geometries is touched). Built once per
    * (JVM, sf-dir); each evaluation file-copies it and absorbs IN
    * PLACE, so re-evaluation is idempotent and the timed work is the
    * absorb itself. */
  private def absorbProdBaseFor(s: org.apache.spark.sql.SparkSession,
      d: String): (String, String) = absorbBase.synchronized {
    val tag = Integer.toHexString(d.hashCode)
    val lbl = s"${ExtensionQueries.idxScratch}/prodlabels_$tag"
    val idx = s"${ExtensionQueries.idxScratch}/prodidx_$tag"
    if (!absorbBase(lbl)) {
      val corpusDocs = tbl(s, d, "documents")
        .filter(col("doc_id") % 512 =!= 0)
      Dedup.buildCanonicalLabels(corpusDocs, "doc_id", "text", lbl,
        shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5,
        numBuckets = 512)
      Dedup.buildLshIndex(corpusDocs, "doc_id", "text", idx,
        shingleSize = 3, numHashes = 16, bands = 4)
      absorbBase += lbl
    }
    (lbl, idx)
  }

  /** x158b base artifacts — the drain's production-geometry generation
    * (round-14 verdict #4): N = 512 bucketed labels over the
    * doc_id % 32 != 0 slice, so each of the drain's three micro-batches
    * (~1/96 of the corpus) touches ≪ N buckets per geometry. A separate
    * base from x152b's because the streamed slice must split into three
    * non-empty chunk files even at the 500-doc spec scale — % 512 == 0
    * is a single doc there. */
  private def drainProdBaseFor(s: org.apache.spark.sql.SparkSession,
      d: String): (String, String) = absorbBase.synchronized {
    val tag = Integer.toHexString(d.hashCode)
    val lbl = s"${ExtensionQueries.idxScratch}/drainprodlabels_$tag"
    val idx = s"${ExtensionQueries.idxScratch}/drainprodidx_$tag"
    if (!absorbBase(lbl)) {
      val corpusDocs = tbl(s, d, "documents")
        .filter(col("doc_id") % 32 =!= 0)
      Dedup.buildCanonicalLabels(corpusDocs, "doc_id", "text", lbl,
        shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5,
        numBuckets = 512)
      Dedup.buildLshIndex(corpusDocs, "doc_id", "text", idx,
        shingleSize = 3, numHashes = 16, bands = 4)
      absorbBase += lbl
    }
    (lbl, idx)
  }

  /** Bench-only timing split for x152b (round-14 verdict #1): the
    * strict-gate query file-copies the N = 512 two-geometry base per
    * evaluation, so its wall number measured mostly `copyTree` +
    * per-file constants, not the absorb the query exists to grade.
    * `Bench` stages the copy UNTIMED through its per-run setup hook
    * ([[stageProdAbsorbScratch]]) and times [[prodAbsorbOnScratch]] —
    * the absorb itself — under the same artifact key. The strict
    * correctness gate keeps running the full self-contained query. */
  private[graft] def stageProdAbsorbScratch(
      s: org.apache.spark.sql.SparkSession, d: String): Unit = {
    val (lbl, idx) = absorbProdBaseFor(s, d)
    val root = s"${ExtensionQueries.idxScratch}/x152b_bench"
    rmTree(root)
    copyTree(lbl, s"$root/labels"); copyTree(idx, s"$root/idx")
  }

  /** The scratch root [[stageProdAbsorbScratch]] stages — exposed for
    * `Probe copy`'s file-count report only. */
  private[graft] def stageProdAbsorbScratchRootForProbe: String =
    s"${ExtensionQueries.idxScratch}/x152b_bench"

  private[graft] def prodAbsorbOnScratch(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val root = s"${ExtensionQueries.idxScratch}/x152b_bench"
    val batch = tbl(s, d, "documents").filter(col("doc_id") % 512 === 0)
    Dedup.absorbIntoLabels(batch, "doc_id", "text", s"$root/labels",
        s"$root/idx", shingleSize = 3, numHashes = 16, bands = 4,
        threshold = 0.5)
      .orderBy("doc")
  }

  /** x158b's bench twin gets the same timing split as x152b's: the
    * scratch copy of the ~1k-file N = 512 two-geometry base AND the
    * chunk-file staging are ingest setup, not the drain — staged
    * untimed here; [[prodDrainOnScratch]] times the three-micro-batch
    * drain alone. */
  @volatile private var prodDrainStreamDir: String = null
  private[graft] def stageProdDrainScratch(
      s: org.apache.spark.sql.SparkSession, d: String): Unit = {
    val (lbl, idx) = drainProdBaseFor(s, d)
    val root = s"${ExtensionQueries.idxScratch}/x158b_bench"
    rmTree(root)
    copyTree(lbl, s"$root/labels"); copyTree(idx, s"$root/idx")
    prodDrainStreamDir = graft.streaming.StreamOps.stageStreamDirChunksDf(
      s, tbl(s, d, "documents").filter(col("doc_id") % 32 === 0),
      "graft-x158b-bench", chunks = 3)
  }

  private[graft] def prodDrainOnScratch(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val root = s"${ExtensionQueries.idxScratch}/x158b_bench"
    graft.streaming.StreamOps.labelAbsorbDrain(s, prodDrainStreamDir,
      s"$root/ckpt", s"$root/labels", s"$root/idx", "doc_id", "text",
      shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5)
    Dedup.readLabels(s, s"$root/labels").orderBy("doc")
  }

  val all: Seq[QueryDef] = Seq(

    // Source-overlap matrix (x114): pairwise shingle-set Jaccard between
    // data sources — estimated from per-source MinHash UNION signatures
    // (one map-side-combined pass; the only pass you'd run at 100 TB)
    // AND exact from the distinct hash sets (the audit mode), in one
    // self-certifying result like x104's ANN recall.
    QueryDef("x114_source_overlap",
      (s, d) => Eval.sourceOverlap(tbl(s, d, "documents"), "source", "text",
        shingleSize = 3, numHashes = 16),
      Some {
        val agree = (0 until 16).map(i =>
          s"CASE WHEN l.m$i = r.m$i THEN 1 ELSE 0 END").mkString(" + ")
        s"""WITH toks AS (
           |  SELECT source AS doc, string_split_regex(lower(text), '\\s+') AS toks
           |  FROM documents),
           |sh AS (
           |  SELECT DISTINCT doc, unnest(list_transform(range(1, greatest(len(toks)-2,1)+1),
           |    i -> array_to_string(list_slice(toks, i, i+2), ' '))) AS shingle
           |  FROM toks),
           |dhs AS (SELECT DISTINCT doc AS grp, ${dkHash56("shingle")} AS h FROM sh),
           |sig AS (SELECT grp,
           |    ${dkMinCols(16)}
           |  FROM dhs GROUP BY grp),
           |sz AS (SELECT grp, count(*)::BIGINT AS sz FROM dhs GROUP BY grp),
           |cm AS (SELECT l.grp AS source_a, r.grp AS source_b, count(*)::BIGINT AS common
           |  FROM dhs l JOIN dhs r ON l.h = r.h AND l.grp < r.grp GROUP BY 1, 2),
           |pr AS (SELECT l.grp AS source_a, r.grp AS source_b,
           |    ($agree)::BIGINT AS agree
           |  FROM sig l JOIN sig r ON l.grp < r.grp)
           |SELECT pr.source_a, pr.source_b, agree,
           |  (1000000 * agree) // 16 AS est_jaccard_x1m,
           |  coalesce(cm.common, 0)::BIGINT AS common, sa.sz AS size_a, sb.sz AS size_b,
           |  ((1000000 * coalesce(cm.common, 0)) //
           |    (sa.sz + sb.sz - coalesce(cm.common, 0)))::BIGINT AS exact_jaccard_x1m
           |FROM pr LEFT JOIN cm USING (source_a, source_b)
           |JOIN sz sa ON sa.grp = pr.source_a
           |JOIN sz sb ON sb.grp = pr.source_b
           |ORDER BY source_a, source_b""".stripMargin
      }),

    // MinHash-LSH recall S-curve (x115): ground-truth near-dup pairs
    // (exact shingle Jaccard >= 0.5, flood-guarded inverted index)
    // bucketed by true similarity, scored by how many the production
    // 16-hash/4-band config detected — the measured version of the
    // banding collision curve, and the audit that quantifies what
    // dedup-at-0.5 silently misses in the 0.5–0.6 band.
    QueryDef("x115_lsh_recall",
      (s, d) => Eval.lshRecallByBucket(tbl(s, d, "documents"), "doc_id",
        "text", shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5,
        maxBucket = 256L),
      Some(s"""WITH ${minHashPairsBodyFrom("documents", "doc_id", "text")},
             |fc AS (SELECT h FROM hs GROUP BY h HAVING count(*) <= 256),
             |kept AS (SELECT doc, h FROM hs JOIN fc USING (h)),
             |tcand AS (SELECT DISTINCT l.doc AS doc_a, r.doc AS doc_b
             |  FROM kept l JOIN kept r ON l.h = r.h AND l.doc < r.doc),
             |tcom AS (SELECT c.doc_a, c.doc_b, count(*) AS common FROM tcand c
             |  JOIN hs fa ON c.doc_a = fa.doc
             |  JOIN hs fb ON c.doc_b = fb.doc AND fa.h = fb.h
             |  GROUP BY 1, 2),
             |truth AS (SELECT t.doc_a, t.doc_b, common, sa.sz AS size_a, sb.sz AS size_b
             |  FROM tcom t JOIN sizes sa ON t.doc_a = sa.doc
             |  JOIN sizes sb ON t.doc_b = sb.doc
             |  WHERE common::DOUBLE / (sa.sz + sb.sz - common)::DOUBLE >= 0.5),
             |tb AS (SELECT doc_a, doc_b,
             |    ((10 * common) // (size_a + size_b - common))::BIGINT AS jac_x10
             |  FROM truth),
             |det AS (SELECT doc_a, doc_b FROM res WHERE jac >= 0.5),
             |j AS (SELECT tb.jac_x10,
             |    CASE WHEN det.doc_a IS NOT NULL THEN 1 ELSE 0 END AS hit
             |  FROM tb LEFT JOIN det
             |    ON tb.doc_a = det.doc_a AND tb.doc_b = det.doc_b)
             |SELECT jac_x10, count(*)::BIGINT AS truth_pairs,
             |  sum(hit)::BIGINT AS detected_pairs,
             |  ((100 * sum(hit)) // count(*))::BIGINT AS recall_x100
             |FROM j GROUP BY 1 ORDER BY jac_x10""".stripMargin)),

    // Reproducible epoch shuffle (x116): every epoch a different
    // deterministic permutation (seeded hash), cut into shards that are
    // contiguous ranges of the key space — order is global across shards
    // with NO global sort (rank windows per (epoch, shard)). The property
    // that lets a crashed training run resume mid-epoch byte-identically.
    QueryDef("x116_epoch_shuffle",
      (s, d) => Eval.epochShuffle(tbl(s, d, "documents"), "doc_id",
          epochs = 3, shards = 8)
        .orderBy("epoch", "shard", "pos"),
      Some(s"""WITH k AS (
             |  SELECT epoch::INT AS epoch, doc_id,
             |    ${dkHash56("concat_ws(':', 'graft', epoch::VARCHAR, doc_id::VARCHAR)")} AS key
             |  FROM documents CROSS JOIN (SELECT unnest(range(0, 3)) AS epoch)),
             |s AS (SELECT epoch, doc_id, key,
             |    ((key * 8) // ${1L << 56})::INT AS shard FROM k)
             |SELECT epoch, shard,
             |  (row_number() OVER (PARTITION BY epoch, shard ORDER BY key, doc_id))::BIGINT AS pos,
             |  doc_id
             |FROM s ORDER BY epoch, shard, pos""".stripMargin)),

    // Split-leakage audit (x117): the same near-dup edges scored under a
    // naive doc-hash split and the cluster-aware split (x79's policy) in
    // one aggregate pass — cluster's cross counts are structurally zero;
    // naive's train↔test count is the leakage a random row split ships.
    QueryDef("x117_split_leakage",
      (s, d) => {
        val docs = tbl(s, d, "documents")
        val pairs = Dedup.minHashLsh(docs, "doc_id", "text",
          shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5)
          .select("doc_a", "doc_b")
        Eval.splitLeakage(docs, "doc_id", pairs, valPct = 5, testPct = 10)
      },
      Some(splitLeakageOracle)),

    // Split leakage FROM THE STORED PAIR ARTIFACT (x117b): identical
    // report to x117 — shared oracle, see splitLeakageOracle — with the
    // near-dup edges read from the persisted full-corpus LSH index
    // (Dedup.pairsFromLshIndex over lshIndexFor's features + buckets:
    // zero re-shingling, the audit is a bucket self-join + verify over
    // two column-pruned scans). With x88b/x105b/x111 this closes the
    // artifact story for BOTH consumer families: labels for the
    // keeper/census reports, pairs for the edge-level audits.
    QueryDef("x117b_split_leakage_from_index",
      (s, d) => {
        val pairs = Dedup.pairsFromLshIndex(s,
            ExtensionQueries.lshIndexFor(s, d), threshold = 0.5)
          .select("doc_a", "doc_b")
        Eval.splitLeakage(tbl(s, d, "documents"), "doc_id", pairs,
          valPct = 5, testPct = 10)
      },
      Some(splitLeakageOracle)),

    // Mixture replay stream (x124): x99's fractional-epoch mixture
    // expansion ordered by x116's contiguous-key-range shard scheme —
    // the exact multi-epoch data stream of a training run with a
    // mixture schedule, reproducible on any partitioning or engine,
    // with no global sort. THE artifact a resume or ablation replays.
    QueryDef("x124_mixture_replay",
      (s, d) => {
        val mixture = Curation.fractionalEpochs(tbl(s, d, "documents"),
          "doc_id", "lang", Map("en" -> 250, "de" -> 120), defaultX100 = 100)
          .select("doc_id", "lang", "copy")
        Eval.shardOrder(mixture, "doc_id", "copy", shards = 8)
          .orderBy("shard", "pos")
      },
      Some(s"""WITH w AS (SELECT doc_id, lang,
             |    CASE lang WHEN 'en' THEN 250 WHEN 'de' THEN 120
             |      ELSE 100 END AS wx,
             |    CASE WHEN ${dkHash56("doc_id::VARCHAR")} % 100 <
             |      (CASE lang WHEN 'en' THEN 250 WHEN 'de' THEN 120
             |        ELSE 100 END) % 100 THEN 1 ELSE 0 END AS extra
             |  FROM documents),
             |m AS (SELECT doc_id, lang,
             |    unnest(range(1, wx // 100 + extra + 1)) AS copy
             |  FROM w WHERE wx // 100 + extra >= 1),
             |k AS (SELECT doc_id, lang, copy,
             |    ${dkHash56("concat_ws(':', 'graft', copy::VARCHAR, doc_id::VARCHAR)")} AS key
             |  FROM m),
             |s AS (SELECT doc_id, lang, copy, key,
             |    ((key * 8) // ${1L << 56})::INT AS shard FROM k)
             |SELECT shard,
             |  (row_number() OVER (PARTITION BY shard
             |    ORDER BY key, doc_id, copy))::BIGINT AS pos,
             |  doc_id, lang, copy
             |FROM s ORDER BY shard, pos""".stripMargin)),

    // Curriculum mixture schedule (x132): x124's mixture replay with
    // PER-EPOCH weights — epoch 1 uniform for coverage, epoch 2 leaning
    // into en and away from zh, epoch 3 strongly curated with zh annealed
    // to 0 (the drop-out path) — each epoch salting its fractional-extra
    // hash slice and reseeding its shard permutation, so the full
    // schedule replays byte-identically with no global sort.
    QueryDef("x132_curriculum_mixture",
      (s, d) => Eval.curriculumMixture(
          tbl(s, d, "documents").select("doc_id", "lang"),
          "doc_id", "lang",
          schedule = Seq(
            Map.empty[String, Int],
            Map("en" -> 150, "zh" -> 50),
            Map("en" -> 250, "de" -> 120, "zh" -> 0)),
          shards = 8)
        .select("epoch", "shard", "pos", "doc_id", "lang", "copy")
        .orderBy("epoch", "shard", "pos"),
      Some {
        def epochSql(e: Int, cases: String) =
          s"""w$e AS (SELECT doc_id, lang, $cases AS wx,
             |    CASE WHEN ${dkHash56(s"concat('graft-e$e:', doc_id::VARCHAR)")} % 100 <
             |      ($cases) % 100 THEN 1 ELSE 0 END AS extra
             |  FROM documents),
             |m$e AS (SELECT doc_id, lang,
             |    unnest(range(1, wx // 100 + extra + 1)) AS copy
             |  FROM w$e WHERE wx // 100 + extra >= 1),
             |k$e AS (SELECT doc_id, lang, copy,
             |    ${dkHash56(s"concat_ws(':', 'graft-e$e', copy::VARCHAR, doc_id::VARCHAR)")} AS key
             |  FROM m$e),
             |s$e AS (SELECT $e AS epoch,
             |    ((key * 8) // ${1L << 56})::INT AS shard,
             |    (row_number() OVER (PARTITION BY ((key * 8) // ${1L << 56})
             |      ORDER BY key, doc_id, copy))::BIGINT AS pos,
             |    doc_id, lang, copy
             |  FROM k$e)""".stripMargin
        s"""WITH ${epochSql(1, "100")},
           |${epochSql(2, "(CASE lang WHEN 'en' THEN 150 WHEN 'zh' THEN 50 ELSE 100 END)")},
           |${epochSql(3, "(CASE lang WHEN 'en' THEN 250 WHEN 'de' THEN 120 WHEN 'zh' THEN 0 ELSE 100 END)")}
           |SELECT * FROM (SELECT * FROM s1 UNION ALL
           |  SELECT * FROM s2 UNION ALL SELECT * FROM s3)
           |ORDER BY epoch, shard, pos""".stripMargin
      }),

    // Stream-stream LEFT OUTER join (x133): x34's attribution join plus
    // the rows it cannot produce — views with NO purchase inside the
    // horizon, provable only once the purchase-side watermark passes
    // view_ts + horizon (Spark withholds the null-extended row until
    // then; the sentinel pushes the watermark past every real view so
    // the bounded drain emits them all). Oracle: the batch left join.
    QueryDef("x133_stream_outer_join",
      (s, d) => graft.streaming.StreamOps.streamStreamLeftOuter(s,
          s"$d/events.parquet", horizon = "1 HOUR",
          queryName = s"stream_sslo_${System.nanoTime()}")
        .orderBy(col("v_event"), col("p_event").asc_nulls_first),
      Some("""WITH v AS (SELECT user_id, ts, event_id FROM events
             |    WHERE event_type = 'view'),
             |p AS (SELECT user_id, ts, event_id FROM events
             |    WHERE event_type = 'purchase')
             |SELECT v.user_id AS v_user, v.event_id AS v_event,
             |  epoch_us(v.ts) AS v_t_us, p.event_id AS p_event,
             |  (epoch_us(p.ts) - epoch_us(v.ts)) AS lag_us
             |FROM v LEFT JOIN p ON p.user_id = v.user_id
             |  AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
             |ORDER BY v_event, p_event NULLS FIRST""".stripMargin)),

    // Timer-based sessionization (x134, state v2 event-time timers on
    // RocksDB): the same 4-hour-gap sessions as x15's session_window,
    // through the canonical timer mechanism — buffer per-user events in
    // ListState, arm a timer at (latest event + gap), and when the
    // watermark passes it emit every provably-closed session and re-arm
    // for the open tail. Session boundaries depend only on event times,
    // so the emitted set equals the batch gap-split (the oracle) however
    // the files batch.
    QueryDef("x134_stream_session_timers",
      (s, d) => graft.streaming.StreamOps.streamingSessionTimers(s,
          s"$d/events.parquet", gap = java.time.Duration.ofHours(4),
          queryName = s"stream_sessions_${System.nanoTime()}")
        .orderBy("user_id", "session_start_us"),
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS t,
             |    (floor(value*100 + 0.5))::BIGINT AS cents FROM events),
             |o AS (SELECT user_id, t, cents,
             |    CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
             |      > 14400000000 THEN 1 ELSE 0 END AS brk
             |  FROM e),
             |s AS (SELECT user_id, t, cents,
             |    sum(brk) OVER (PARTITION BY user_id ORDER BY t
             |      ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM o)
             |SELECT user_id, min(t) AS session_start_us,
             |  max(t) AS session_end_us, count(*)::BIGINT AS events,
             |  sum(cents)::BIGINT AS cents_sum
             |FROM s GROUP BY user_id, sid
             |ORDER BY user_id, session_start_us""".stripMargin)),

    // Two-pass Misra–Gries heavy hitters (x135): every token above 1% of
    // all token occurrences, found with (k−1)-counter partition summaries
    // + an exact candidate recount — never shuffling the full distinct-key
    // set (the web-scale vocabulary case hotKeys/x83 cannot survive).
    // Exact by construction, so the oracle is the plain frequency filter.
    QueryDef("x135_heavy_hitters",
      (s, d) => graft.operators.Skew.heavyHitters(
          tbl(s, d, "documents")
            .select(explode(Portable.tokens(col("text"))).as("token")),
          "token", k = 100)
        .orderBy(col("cnt").desc, col("token")),
      Some("""WITH tok AS (SELECT unnest(string_split_regex(lower(text), '\s+')) AS token
             |    FROM documents),
             |c AS (SELECT token, count(*)::BIGINT AS cnt FROM tok GROUP BY 1),
             |t AS (SELECT sum(cnt)::BIGINT AS total FROM c)
             |SELECT token, cnt, (10000 * cnt) // total AS pct_x10000
             |FROM c, t WHERE cnt * 100 > total
             |ORDER BY cnt DESC, token""".stripMargin)),

    // Stream-stream LEFT SEMI join (x136): views that converted within
    // the horizon, one row per view regardless of how many purchases
    // matched — the third point of the join matrix (inner x34, left
    // outer x133). Matches emit eagerly (no sentinel needed; unmatched
    // views never emit, by semi semantics). Oracle: the batch EXISTS.
    QueryDef("x136_stream_semi_join",
      (s, d) => graft.streaming.StreamOps.streamStreamLeftSemi(s,
          s"$d/events.parquet", horizon = "1 HOUR",
          queryName = s"stream_ssls_${System.nanoTime()}")
        .orderBy(col("v_event")),
      Some("""WITH v AS (SELECT user_id, ts, event_id FROM events
             |    WHERE event_type = 'view'),
             |p AS (SELECT user_id, ts, event_id FROM events
             |    WHERE event_type = 'purchase')
             |SELECT v.user_id AS v_user, v.event_id AS v_event,
             |  epoch_us(v.ts) AS v_t_us
             |FROM v WHERE EXISTS (SELECT 1 FROM p
             |  WHERE p.user_id = v.user_id AND p.ts >= v.ts
             |    AND p.ts <= v.ts + INTERVAL 1 HOUR)
             |ORDER BY v_event""".stripMargin)),

    // Stream-stream FULL OUTER join (x137): the complete reconciliation —
    // matched pairs, lost leads (view, no purchase), and untracked
    // conversions (purchase, no view in the horizon). Both extension
    // kinds are watermark-withheld, so the sentinel rides both legs and
    // drops post-sink null-safely. Oracle: the batch FULL JOIN.
    QueryDef("x137_stream_full_outer",
      (s, d) => graft.streaming.StreamOps.streamStreamFullOuter(s,
          s"$d/events.parquet", horizon = "1 HOUR",
          queryName = s"stream_ssfo_${System.nanoTime()}")
        .orderBy(col("v_event").asc_nulls_last, col("p_event").asc_nulls_first),
      Some("""WITH v AS (SELECT user_id, ts, event_id FROM events
             |    WHERE event_type = 'view'),
             |p AS (SELECT user_id, ts, event_id FROM events
             |    WHERE event_type = 'purchase')
             |SELECT v.user_id AS v_user, v.event_id AS v_event,
             |  epoch_us(v.ts) AS v_t_us, p.user_id AS p_user,
             |  p.event_id AS p_event, epoch_us(p.ts) AS p_t_us
             |FROM v FULL JOIN p ON p.user_id = v.user_id
             |  AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
             |ORDER BY v_event NULLS LAST, p_event NULLS FIRST""".stripMargin)),

    // Streaming Misra–Gries heavy hitters (x138): x135's guarantee held
    // CONTINUOUSLY — per-shard MG counter sets live in state-v2 MapState
    // across micro-batches (state bounded by shards × (k−1) whatever the
    // vocabulary), candidates snapshot out of the checkpoint via the
    // statestore data source, then one exact recount + strict threshold
    // makes the output independent of sharding/batching. Oracle: the
    // plain frequency filter, same as the batch two-pass.
    QueryDef("x138_stream_heavy_hitters",
      (s, d) => graft.streaming.StreamOps.streamingHeavyHitters(s,
          s"$d/documents.parquet", k = 150, shards = 8, chunks = 4)
        .orderBy(col("cnt").desc, col("token")),
      Some("""WITH tok AS (SELECT unnest(string_split_regex(lower(text), '\s+')) AS token
             |    FROM documents),
             |c AS (SELECT token, count(*)::BIGINT AS cnt FROM tok GROUP BY 1),
             |t AS (SELECT sum(cnt)::BIGINT AS total FROM c)
             |SELECT token, cnt, (10000 * cnt) // total AS pct_x10000
             |FROM c, t WHERE cnt * 150 > total
             |ORDER BY cnt DESC, token""".stripMargin)),

    // Exact per-key linear trend (x139): daily cents volume per event
    // type fit with the closed-form least-squares slope, kept rational
    // (slope_num/slope_den + rising sign) so no division sign rule can
    // drift between engines. Daily rollup then five running sums — two
    // keyed aggregations, both with map-side partials.
    QueryDef("x139_volume_trend",
      (s, d) => {
        val daily = QueryDef.events(s, d)
          .select(col("event_type"),
            datediff(col("ts").cast("date"), lit("1995-01-01").cast("date"))
              .cast("long").as("x"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
          .groupBy(col("event_type"), col("x"))
          .agg(sum(col("cents")).as("y"))
        graft.operators.TimeSeries.linearTrend(daily, "event_type", "x", "y")
          .orderBy("event_type")
      },
      Some("""WITH e AS (SELECT event_type,
             |    date_diff('day', DATE '1995-01-01', ts::DATE)::BIGINT AS x,
             |    (floor(value*100 + 0.5))::BIGINT AS cents FROM events),
             |d AS (SELECT event_type, x, sum(cents)::BIGINT AS y
             |  FROM e GROUP BY 1, 2),
             |a AS (SELECT event_type, count(*)::BIGINT AS n,
             |    sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
             |    sum(x*y)::BIGINT AS sxy, sum(x*x)::BIGINT AS sxx
             |  FROM d GROUP BY 1)
             |SELECT event_type, n,
             |  (n*sxy - sx*sy)::BIGINT AS slope_num,
             |  (n*sxx - sx*sx)::BIGINT AS slope_den,
             |  (n*sxy - sx*sy) > 0 AS rising
             |FROM a ORDER BY event_type""".stripMargin)),

    // Mergeable sketch artifacts (x140): per-event-type HLL sketches
    // WRITTEN TO PARQUET (binary column — the nightly per-shard artifact)
    // then read back and union-merged for the global distinct-user count.
    // This is the pattern that replaces a corpus-wide count-distinct
    // shuffle at 100 TB: each shard sketches locally once, merges are
    // sketch-sized. Self-certifying like x23: the estimate must land
    // within 15% of the exact count computed alongside.
    QueryDef("x140_hll_artifact_union",
      (s, d) => {
        val sk = QueryDef.events(s, d).groupBy(col("event_type"))
          .agg(expr("hll_sketch_agg(user_id)").as("sk"))
        val dir = java.nio.file.Files.createTempDirectory("graft-hll").toString
        sk.write.mode("overwrite").parquet(dir)
        val merged = s.read.parquet(dir)
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
        QueryDef.events(s, d)
          .agg(countDistinct(col("user_id")).as("exact_users"))
          .crossJoin(broadcast(merged))
          .select(col("exact_users"),
            (abs(col("est") - col("exact_users"))
              <= col("exact_users") * 0.15).as("users_ok"))
      },
      Some("""SELECT count(DISTINCT user_id)::BIGINT AS exact_users,
             |  TRUE AS users_ok FROM events""".stripMargin)),

    // Exact AUC of the quality model as an English-document detector
    // (x141): the Mann–Whitney rank-sum statistic computed over the SCORE
    // HISTOGRAM, doubled so tie-averaged ranks stay integral — never a
    // per-document global sort. The cumulative window runs over distinct
    // scores only (x64's histogram discipline, plan-pinnable), so the
    // per-document work is one keyed count however large the corpus.
    // Output: (n1, n0, two_u, auc_x10000) — all exact integers.
    QueryDef("x141_score_auc",
      (s, d) => {
        val pos = tbl(s, d, "documents").select(col("doc_id"),
          (col("lang") === "en").cast("long").as("pos"))
        val sc = graft.operators.TextAnalysis.modelQualityScore(
            tbl(s, d, "documents"), "doc_id", "text")
          .select(col("doc_id"), col("score"))
          .join(pos, "doc_id")
        Eval.rankAuc(sc, "score", "pos")
      },
      Some(s"""$dkQualityModelCtes,
             |p AS (SELECT s.doc_id, s.score,
             |    (CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS pos
             |  FROM scored s JOIN documents d USING (doc_id)),
             |h AS (SELECT score, count(*)::BIGINT AS cnt,
             |    sum(pos)::BIGINT AS posc FROM p GROUP BY 1),
             |r AS (SELECT score, cnt, posc,
             |    coalesce(sum(cnt) OVER (ORDER BY score
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
             |      AS cumb FROM h),
             |a AS (SELECT sum(posc)::BIGINT AS n1, sum(cnt)::BIGINT AS n,
             |    sum(posc * (2*cumb + cnt + 1))::BIGINT AS two_r1 FROM r)
             |SELECT n1, (n - n1)::BIGINT AS n0,
             |  (two_r1 - n1*(n1+1))::BIGINT AS two_u,
             |  (10000 * (two_r1 - n1*(n1+1))) // (2 * n1 * (n - n1))
             |    AS auc_x10000
             |FROM a""".stripMargin)),

    // Score-decile lift table (x142): x141's calibration companion —
    // each score decile's doc count, positive count, rate and lift over
    // the base rate, binned BY DISTINCT SCORE via the cumulative
    // histogram so equal scores share a bin (ntile's tie-splitting
    // nondeterminism cannot occur). Exact integers throughout.
    QueryDef("x142_score_lift",
      (s, d) => {
        val pos = tbl(s, d, "documents").select(col("doc_id"),
          (col("lang") === "en").cast("long").as("pos"))
        val sc = graft.operators.TextAnalysis.modelQualityScore(
            tbl(s, d, "documents"), "doc_id", "text")
          .select(col("doc_id"), col("score"))
          .join(pos, "doc_id")
        Eval.liftTable(sc, "score", "pos", bins = 10).orderBy("bin")
      },
      Some(s"""$dkQualityModelCtes,
             |p AS (SELECT s.doc_id, s.score,
             |    (CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS pos
             |  FROM scored s JOIN documents d USING (doc_id)),
             |h AS (SELECT score, count(*)::BIGINT AS cnt,
             |    sum(pos)::BIGINT AS posc FROM p GROUP BY 1),
             |t AS (SELECT sum(cnt)::BIGINT AS n, sum(posc)::BIGINT AS n1 FROM h),
             |r AS (SELECT score, cnt, posc,
             |    coalesce(sum(cnt) OVER (ORDER BY score
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
             |      AS cumb FROM h),
             |b AS (SELECT least(9, (10 * cumb) // n)::INT AS bin, cnt, posc, n, n1
             |  FROM r, t)
             |SELECT bin, sum(cnt)::BIGINT AS docs,
             |  sum(posc)::BIGINT AS positives,
             |  (10000 * sum(posc)::BIGINT) // sum(cnt)::BIGINT AS rate_x10000,
             |  (10000 * sum(posc)::BIGINT * any_value(n))
             |    // (sum(cnt)::BIGINT * any_value(n1)) AS lift_x10000
             |FROM b GROUP BY 1 ORDER BY bin""".stripMargin)),

    // Rolling distinct via daily sketch union (x143): one HLL sketch per
    // day, then each day's trailing-7-day distinct-user count is a UNION
    // of 7 daily sketches in a RANGE window (calendar days, not present
    // rows) — the sliding-window payoff of mergeable artifacts: the
    // expensive exact path re-walks every event in the window, the
    // sketch path merges 7 fixed-size summaries however large the days
    // are. Self-certifying: the exact rolling count rides along (daily
    // collect_set, flattened over the same window) and the estimate
    // must land within 15%.
    QueryDef("x143_rolling_sketch",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val daily = QueryDef.events(s, d)
          .select(datediff(col("ts").cast("date"),
            lit("1995-01-01").cast("date")).cast("long").as("day_idx"),
            col("user_id"))
          .groupBy(col("day_idx"))
          .agg(expr("hll_sketch_agg(user_id)").as("sk"),
            collect_set(col("user_id")).as("uset"))
        val w = Window.orderBy("day_idx").rangeBetween(-6, 0)
        daily
          .withColumn("rsk", expr("hll_union_agg(sk)").over(w))
          .withColumn("exact_rolling",
            size(array_distinct(flatten(collect_list(col("uset")).over(w))))
              .cast("long"))
          .select(col("day_idx"),
            col("exact_rolling"),
            (abs(expr("hll_sketch_estimate(rsk)") - col("exact_rolling"))
              <= col("exact_rolling") * 0.15).as("est_ok"))
          .orderBy("day_idx")
      },
      Some("""WITH e AS (SELECT
             |    date_diff('day', DATE '1995-01-01', ts::DATE)::BIGINT AS day_idx,
             |    user_id FROM events),
             |days AS (SELECT DISTINCT day_idx FROM e)
             |SELECT d.day_idx,
             |  count(DISTINCT e.user_id)::BIGINT AS exact_rolling,
             |  TRUE AS est_ok
             |FROM days d JOIN e ON e.day_idx BETWEEN d.day_idx - 6 AND d.day_idx
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Spark 4 VARIANT ingestion (x144): the semi-structured props column
    // parsed ONCE into the binary VARIANT encoding and field-extracted
    // with variant_get — the modern replacement for per-query JSON
    // string re-parsing (shredded access instead of regex/get_json_object
    // per field). Aggregates prove typed extraction end to end.
    QueryDef("x144_variant_props",
      (s, d) => QueryDef.events(s, d)
        .select(col("event_type"),
          expr("variant_get(parse_json(props), '$.k', 'long')").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("k_sum"),
          min(col("k")).as("k_min"), max(col("k")).as("k_max"))
        .orderBy("event_type"),
      Some("""SELECT event_type, count(*)::BIGINT AS n,
             |  sum(json_extract(props, '$.k')::BIGINT)::BIGINT AS k_sum,
             |  min(json_extract(props, '$.k')::BIGINT)::BIGINT AS k_min,
             |  max(json_extract(props, '$.k')::BIGINT)::BIGINT AS k_max
             |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // VARIANT consumer (x144b): the shredded-access payoff x144 ingests
    // for — the props column is parsed ONCE at write time into a STORED
    // VARIANT table (variantTableFor, the write-once artifact pattern),
    // and this consumer pushes variant_get through a filter AND an
    // aggregation with ZERO parse_json anywhere in its plan (PlanSpec
    // pins it): binary field extraction per reference instead of a JSON
    // string re-parse per reference, which is the entire point of the
    // VARIANT encoding at 100 TB — parse cost paid once per corpus
    // generation, never per query.
    QueryDef("x144b_variant_rollup",
      (s, d) => s.read.parquet(variantTableFor(s, d))
        .filter(expr("variant_get(v, '$.k', 'long') % 7 = 0"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(expr("variant_get(v, '$.k', 'long')")).as("k_sum"))
        .orderBy("event_type"),
      Some("""SELECT event_type, count(*)::BIGINT AS n,
             |  sum(json_extract(props, '$.k')::BIGINT)::BIGINT AS k_sum
             |FROM events WHERE json_extract(props, '$.k')::BIGINT % 7 = 0
             |GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // Volume-anomaly days (x145): Profile.madFlagged over the per-type
    // DAILY cents series — which days' ingestion volume deviates more
    // than 3 MAD from that type's median (the heavy-tail-safe "did the
    // crawler break on Tuesday" monitor; x84 counts outliers per key,
    // this names them). Exact inverse-CDF medians over the daily
    // histogram; the 5-row stats table broadcasts back.
    QueryDef("x145_volume_anomaly_days",
      (s, d) => {
        val daily = QueryDef.events(s, d)
          .select(col("event_type"),
            datediff(col("ts").cast("date"),
              lit("1995-01-01").cast("date")).cast("long").as("day_idx"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
          .groupBy(col("event_type"), col("day_idx"))
          .agg(sum(col("cents")).as("day_cents"))
        graft.operators.Profile.madFlagged(daily, "event_type", "day_cents",
            kX100 = 300)
          .filter(col("is_outlier"))
          .select(col("event_type"), col("day_idx"), col("day_cents"),
            col("med"), col("mad"))
          .orderBy("event_type", "day_idx")
      },
      Some("""WITH e AS (SELECT event_type,
             |    date_diff('day', DATE '1995-01-01', ts::DATE)::BIGINT AS day_idx,
             |    (floor(value*100 + 0.5))::BIGINT AS cents FROM events),
             |d AS (SELECT event_type AS key, day_idx,
             |    sum(cents)::BIGINT AS v FROM e GROUP BY 1, 2),
             |h AS (SELECT key, v, count(*)::BIGINT AS cnt FROM d GROUP BY 1, 2),
             |c AS (SELECT key, v, cnt,
             |    sum(cnt) OVER (PARTITION BY key ORDER BY v
             |      ROWS UNBOUNDED PRECEDING) AS cum,
             |    sum(cnt) OVER (PARTITION BY key) AS n FROM h),
             |m AS (SELECT key, min(v)::BIGINT AS med FROM c
             |  WHERE cum >= (n+1)//2 GROUP BY key),
             |dev AS (SELECT d.key, d.day_idx, d.v, m.med,
             |    abs(d.v - m.med) AS ad FROM d JOIN m USING (key)),
             |h2 AS (SELECT key, ad, count(*)::BIGINT AS cnt FROM dev GROUP BY 1, 2),
             |c2 AS (SELECT key, ad, cnt,
             |    sum(cnt) OVER (PARTITION BY key ORDER BY ad
             |      ROWS UNBOUNDED PRECEDING) AS cum,
             |    sum(cnt) OVER (PARTITION BY key) AS n FROM h2),
             |m2 AS (SELECT key, min(ad)::BIGINT AS mad FROM c2
             |  WHERE cum >= (n+1)//2 GROUP BY key)
             |SELECT dev.key AS event_type, dev.day_idx,
             |  dev.v AS day_cents, dev.med, m2.mad
             |FROM dev JOIN m2 USING (key)
             |WHERE dev.ad * 100 > 300 * m2.mad
             |ORDER BY event_type, day_idx""".stripMargin)),

    // Co-engagement projection (x146): the bipartite user–item incidence
    // (item = the VARIANT-extracted props field) projected to its
    // strongest user–user edges — the co-click graph behind
    // collaborative filtering. Items touched by more than 70 distinct
    // users are dropped first (the popularity guard: a head item
    // connects everyone to everyone — c²/2 pairs of noise, the LSH
    // bucket-flood shape), so the quadratic step is bounded by
    // construction.
    QueryDef("x146_coengagement",
      (s, d) => graft.operators.Graph.coEngagement(
        QueryDef.events(s, d).select(col("user_id"),
          expr("variant_get(parse_json(props), '$.k', 'long')").as("item")),
        "user_id", "item", maxUsersPerItem = 70, topK = 50),
      Some("""WITH e AS (SELECT DISTINCT user_id AS u,
             |    json_extract(props, '$.k')::BIGINT AS item FROM events),
             |c AS (SELECT item, count(*)::BIGINT AS cu FROM e GROUP BY 1),
             |g AS (SELECT u, item FROM e
             |  WHERE item IN (SELECT item FROM c WHERE cu <= 70)),
             |p AS (SELECT a.u AS u1, b.u AS u2 FROM g a
             |  JOIN g b ON a.item = b.item AND a.u < b.u)
             |SELECT u1, u2, count(*)::BIGINT AS shared_items
             |FROM p GROUP BY 1, 2
             |ORDER BY shared_items DESC, u1, u2 LIMIT 50""".stripMargin)),

    // Unicode hygiene (x147): NFC normalization (the graft_nfc native
    // expression vs DuckDB's nfc_normalize — two independent Unicode
    // implementations agreeing byte-for-byte on the cleaned text is the
    // strongest oracle in the text family), C0/C1 control stripping, and
    // the U+FFFD mojibake count. The corpus is planted with all three
    // dirt classes (combining accents, control chars, replacement chars)
    // so every path is exercised on every language's text.
    QueryDef("x147_unicode_clean",
      (s, d) => graft.operators.Curation.unicodeClean(
          tbl(s, d, "documents").select(col("doc_id"),
            concat(col("text"),
              when(pmod(col("doc_id"), lit(4)) === 0,
                lit(" cafe\u0301 touche\u0301"))
              .when(pmod(col("doc_id"), lit(4)) === 1,
                lit(" bad\u0001ctl\u0007here\u0085c1\u009Ftoo"))
              .when(pmod(col("doc_id"), lit(4)) === 2,
                lit(" mo\uFFFDji\uFFFDbake"))
              .otherwise(lit(""))).as("text")),
          "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, text ||
             |    CASE doc_id % 4
             |      WHEN 0 THEN ' cafe' || chr(769) || ' touche' || chr(769)
             |      WHEN 1 THEN ' bad' || chr(1) || 'ctl' || chr(7) || 'here'
             |        || chr(133) || 'c1' || chr(159) || 'too'
             |      WHEN 2 THEN ' mo' || chr(65533) || 'ji' || chr(65533) || 'bake'
             |      ELSE '' END AS text FROM documents),
             |n AS (SELECT doc_id, text, nfc_normalize(text) AS nfc FROM t),
             |c AS (SELECT doc_id, text, nfc,
             |    regexp_replace(nfc, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F\x{80}-\x{9F}]', '', 'g')
             |      AS cleaned
             |  FROM n)
             |SELECT doc_id, cleaned, (nfc <> text) AS was_denormalized,
             |  (length(nfc) - length(cleaned))::BIGINT AS ctrl_removed,
             |  (length(cleaned) - length(replace(cleaned, chr(65533), '')))::BIGINT
             |    AS replacement_chars,
             |  length(cleaned)::BIGINT AS chars_after
             |FROM c ORDER BY doc_id""".stripMargin)),

    // Rank-frequency token spectrum (x148): top-100 tokens with their
    // cumulative share of the token stream — the head-heaviness report
    // next to fertility (x100) and vocab coverage (x65). One keyed
    // count + TakeOrdered cut + a 100-row cumulative window; the
    // vocabulary is never globally sorted.
    QueryDef("x148_token_spectrum",
      (s, d) => graft.operators.TextAnalysis.tokenSpectrum(
        tbl(s, d, "documents"), "text", k = 100),
      Some("""WITH tok AS (SELECT unnest(string_split_regex(lower(text), '\s+'))
             |    AS token FROM documents),
             |c AS (SELECT token, count(*)::BIGINT AS cnt FROM tok GROUP BY 1),
             |t AS (SELECT sum(cnt)::BIGINT AS total FROM c),
             |r AS (SELECT token, cnt,
             |    row_number() OVER (ORDER BY cnt DESC, token) AS rank FROM c),
             |k AS (SELECT * FROM r WHERE rank <= 100),
             |s AS (SELECT token, cnt, rank,
             |    sum(cnt) OVER (ORDER BY rank)::BIGINT AS cum FROM k)
             |SELECT rank::BIGINT AS rank, token, cnt,
             |  ((10000 * cum) // total)::BIGINT AS cum_pct_x10000
             |FROM s, t ORDER BY rank""".stripMargin)),

    // Streaming daily actives (x149): TWO CHAINED STATEFUL OPERATORS in
    // one append-mode query — event-time dedup on (user, day) within the
    // watermark feeding a watermarked per-day count. Count-distinct is
    // not incrementally maintainable as a windowed aggregate over raw
    // events; dedup-then-count decomposes it exactly, and both
    // operators' state is watermark-bounded. Oracle: the batch
    // count(DISTINCT) per day.
    QueryDef("x149_stream_daily_actives",
      (s, d) => graft.streaming.StreamOps.streamingDailyActivesAppend(
          s, s"$d/events.parquet")
        .orderBy("bucket"),
      Some("""SELECT epoch_us(ts) // 86400000000 AS bucket,
             |  count(DISTINCT user_id)::BIGINT AS actives
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Longest-prefix URL policy gate (x150): robots-style allow/deny
    // rules over x126's synthetic URL surface — "deny https://m., allow
    // https://m.src7." must admit the src7 mobile pages (the longest
    // matching prefix wins; two distinct equal-length strings cannot
    // both prefix one URL, so the pick is deterministic by
    // construction). Unmatched URLs fall through to the default.
    QueryDef("x150_url_policy",
      (s, d) => Curation.urlPolicyGate(policyUrls(s, d), "doc_id", "url",
          rules = policyRules, defaultAllow = true)
        .orderBy("doc_id"),
      Some(urlPolicyOracle)),

    // The robots-SCALE twin (x150b): identical report — the oracle is
    // shared verbatim with x150 — through per-prefix-length broadcast
    // HASH joins instead of the theta startsWith nested loop: per URL,
    // |distinct lengths| O(1) hash probes instead of |rules| startsWith
    // calls, and the longest-prefix pick is a map-side coalesce over
    // the per-length match columns (equal-length distinct prefixes
    // cannot both match, so each per-length join yields at most one
    // row). The pair x150/x150b is the measured cost of the join-
    // algebra choice; at a 10⁵–10⁶-prefix policy corpus only the hash
    // shape survives (plan-pinned: BroadcastHashJoin only, zero
    // pre-sort exchanges).
    QueryDef("x150b_url_policy_bylength",
      (s, d) => Curation.urlPolicyGateByLength(policyUrls(s, d), "doc_id",
          "url", rules = policyRules, defaultAllow = true)
        .orderBy("doc_id"),
      Some(urlPolicyOracle)),

    // The beyond-broadcast twin (x150c): identical report — the oracle
    // is shared verbatim with x150/x150b — through the SHUFFLE join
    // algebra for rule corpora past the broadcast cliff (≳10⁶
    // prefixes): each URL explodes into its |distinct prefix lengths|
    // candidate prefixes map-side and ONE equi-join meets the shuffled
    // rule table, instead of |lengths| corpus shuffles or a broadcast
    // that no longer fits. Rules arrive as a DataFrame because at that
    // scale the driver-side Seq is itself the bottleneck.
    QueryDef("x150c_url_policy_shuffle",
      (s, d) => {
        import s.implicits._
        Curation.urlPolicyGateShuffle(policyUrls(s, d), "doc_id", "url",
            rules = policyRules.toDF("rule", "allow"), defaultAllow = true)
          .orderBy("doc_id")
      },
      Some(urlPolicyOracle)),

    // Invisible-character hygiene (x151): x147's sibling for the
    // render-as-nothing classes — zero-width space/joiners + word
    // joiner, the bidi control blocks ("Trojan Source" characters, a
    // documented prompt-injection vector in LLM corpora), and in-text
    // U+FEFF — planted per doc_id residue class so every strip class is
    // exercised on every language's real text, counted separately
    // (the class PROFILE is the signal). The compat columns run the
    // operator's NFKC path (graft_nfkc) over a PLANTED-ONLY string
    // (ligature + superscript + fullwidth digit + a zero-width char):
    // DuckDB has no NFKC, so the oracle constructs the expected
    // expansion explicitly — exact because the planted string is fully
    // specified, and it proves stripping composes AFTER normalization.
    QueryDef("x151_invisible_clean",
      (s, d) => {
        val r = pmod(col("doc_id"), lit(5))
        val dirty = tbl(s, d, "documents").select(col("doc_id"),
          concat(col("text"),
            when(r === 0, lit(" a\u200Bb\u200Cc\u200Dd\u2060e"))
              .when(r === 1, lit(" x\u202Ay\u202Ez\u2066w\u2069v"))
              .when(r === 2, lit("\u200E q\u200F"))
              .when(r === 3, lit(" bom\uFEFFmid"))
              .otherwise(lit(""))).as("text"))
        val stripped = Curation.invisibleClean(dirty, "doc_id", "text")
          .drop("was_compat_changed")
        val fullwidth = element_at(
          array((0 to 9).map(i => lit((0xFF10 + i).toChar.toString)): _*),
          (pmod(col("doc_id"), lit(10)) + 1).cast("int"))
        val compat = Curation.invisibleClean(
            tbl(s, d, "documents").select(col("doc_id"),
              concat(lit("\uFB01le \u00B2 no"), fullwidth, lit("\u200Btail"))
                .as("ctext")),
            "doc_id", "ctext", compatNormalize = true)
          .select(col("doc_id"), col("cleaned").as("compat_cleaned"),
            col("was_compat_changed"),
            col("zero_width_removed").as("compat_zw_removed"))
        stripped.join(compat, Seq("doc_id")).orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, text || CASE doc_id % 5
             |    WHEN 0 THEN ' a'||chr(8203)||'b'||chr(8204)||'c'||chr(8205)
             |      ||'d'||chr(8288)||'e'
             |    WHEN 1 THEN ' x'||chr(8234)||'y'||chr(8238)||'z'||chr(8294)
             |      ||'w'||chr(8297)||'v'
             |    WHEN 2 THEN chr(8206)||' q'||chr(8207)
             |    WHEN 3 THEN ' bom'||chr(65279)||'mid'
             |    ELSE '' END AS text FROM documents),
             |z AS (SELECT doc_id, text,
             |    regexp_replace(text, '[\x{200B}-\x{200D}\x{2060}]', '', 'g')
             |      AS zt FROM t),
             |b AS (SELECT doc_id, text, zt,
             |    regexp_replace(zt,
             |      '[\x{200E}\x{200F}\x{202A}-\x{202E}\x{2066}-\x{2069}]',
             |      '', 'g') AS bt FROM z),
             |c AS (SELECT doc_id, text, zt, bt,
             |    regexp_replace(bt, '\x{FEFF}', '', 'g') AS cleaned FROM b)
             |SELECT doc_id, cleaned,
             |  (length(text) - length(zt))::BIGINT AS zero_width_removed,
             |  (length(zt) - length(bt))::BIGINT AS bidi_removed,
             |  (length(bt) - length(cleaned))::BIGINT AS bom_removed,
             |  length(cleaned)::BIGINT AS chars_after,
             |  'file 2 no' || (doc_id % 10)::VARCHAR || 'tail' AS compat_cleaned,
             |  TRUE AS was_compat_changed,
             |  1::BIGINT AS compat_zw_removed
             |FROM c ORDER BY doc_id""".stripMargin)),

    // Incremental canonical-label maintenance (x152): the batch
    // (doc_id % 4 == 0) is ABSORBED into the stored label table + LSH
    // index of the % 4 != 0 corpus generation (Dedup.absorbIntoLabels) —
    // batch-bounded label propagation on the contracted graph, never a
    // corpus-wide LSH + propagation rerun — and the result must be
    // oracle-identical to a FULL canonical-labels rebuild over
    // corpus + batch. The oracle IS that full rebuild: the recursive
    // connected-components construction over all documents' verified
    // MinHash pairs (the x117 machinery), emitting (doc, canonical_id,
    // is_keeper) for the whole grown corpus. This is the entry that
    // makes the write-once artifact family (x88b/x105b/x111/x117b)
    // live-corpus-capable.
    QueryDef("x152_label_absorb",
      (s, d) => {
        val (lbl, idx) = absorbBaseFor(s, d)
        val batch = tbl(s, d, "documents").filter(col("doc_id") % 4 === 0)
        Dedup.absorbIntoLabels(batch, "doc_id", "text", lbl, idx,
            shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5,
            outLabelsPath =
              Some(s"${ExtensionQueries.idxScratch}/x152_labels_out"),
            outIndexPath =
              Some(s"${ExtensionQueries.idxScratch}/x152_idx_out"))
          .orderBy("doc")
      },
      Some(fullLabelsOracle)),

    // PRODUCTION-geometry in-place absorb (x152b, round-13 verdict #1):
    // the same exactness contract as x152/x153 — absorb equals the full
    // rebuild over corpus + batch — but at the geometry the maintenance
    // design actually targets: batch ≈ corpus/512 into an N = 512
    // bucketed store, so touched buckets ≪ N and the insert-append fast
    // path writes O(batch) new files instead of re-staging every
    // touched bucket of both geometries. x152/x153/x158 grade the
    // machinery where batch ≈ corpus/4 touches everything (its
    // worst case); this is the headliner that grades it in-regime.
    QueryDef("x152b_label_absorb_prod",
      (s, d) => {
        val (lbl, idx) = absorbProdBaseFor(s, d)
        val root = s"${ExtensionQueries.idxScratch}/x152b_prod"
        rmTree(root)
        copyTree(lbl, s"$root/labels"); copyTree(idx, s"$root/idx")
        val batch = tbl(s, d, "documents")
          .filter(col("doc_id") % 512 === 0)
        Dedup.absorbIntoLabels(batch, "doc_id", "text", s"$root/labels",
            s"$root/idx", shingleSize = 3, numHashes = 16, bands = 4,
            threshold = 0.5)
          .orderBy("doc")
      },
      Some(fullLabelsOracle)),

    // In-place absorb CHAIN (x153): the PRODUCTION mutation path x152's
    // out-of-place audit mode doesn't exercise — the base artifacts are
    // file-copied to a scratch root, then TWO successive batches
    // (doc_id % 8 == 0, then % 8 == 4) absorb IN PLACE: each step
    // overwrites the labels store it read (the localCheckpoint-then-
    // overwrite discipline) and APPENDS the batch's signatures to the
    // index, so step 2 probes a store that already contains step 1 —
    // exactness is inductive, and the final labels must equal the full
    // rebuild over corpus + both batches (the same oracle as x152:
    // corpus ∪ b1 ∪ b2 = all documents).
    QueryDef("x153_label_absorb_chain",
      (s, d) => {
        val (lbl, idx) = absorbBaseFor(s, d)
        val root = s"${ExtensionQueries.idxScratch}/x153_chain"
        rmTree(root)
        copyTree(lbl, s"$root/labels"); copyTree(idx, s"$root/idx")
        val docs = tbl(s, d, "documents")
        Dedup.absorbIntoLabels(docs.filter(col("doc_id") % 8 === 0),
          "doc_id", "text", s"$root/labels", s"$root/idx",
          shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5)
        Dedup.absorbIntoLabels(docs.filter(col("doc_id") % 8 === 4),
            "doc_id", "text", s"$root/labels", s"$root/idx",
            shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5)
          .orderBy("doc")
      },
      Some(fullLabelsOracle)),

    // Pair-family audit over the GROWN index (x154): after the same
    // two-batch in-place absorb chain as x153, the stored index must
    // serve the EDGE-level consumers exactly as a fresh full-corpus
    // build would — `pairsFromLshIndex` over the grown store against
    // x03's full-corpus pair oracle. This closes the live-corpus loop
    // for BOTH artifact families: labels (x152/x153 vs the rebuild
    // oracle) and pairs (here) stay byte-identical to from-scratch
    // builds as batches absorb.
    QueryDef("x154_pairs_after_absorb",
      (s, d) => {
        val (lbl, idx) = absorbBaseFor(s, d)
        val root = s"${ExtensionQueries.idxScratch}/x154_chain"
        rmTree(root)
        copyTree(lbl, s"$root/labels"); copyTree(idx, s"$root/idx")
        val docs = tbl(s, d, "documents")
        Seq(0, 4).foreach(r =>
          Dedup.absorbIntoLabels(docs.filter(col("doc_id") % 8 === r),
            "doc_id", "text", s"$root/labels", s"$root/idx",
            shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5))
        Dedup.pairsFromLshIndex(s, s"$root/idx", threshold = 0.5)
          .select(col("doc_a"), col("doc_b"), col("common"),
            col("size_a"), col("size_b"),
            floor(col("jaccard") * 1000000).cast("long").as("jaccard_x1m"))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH ${minHashPairsBodyFrom("documents", "doc_id", "text")}
             |SELECT doc_a, doc_b, common, size_a, size_b,
             |  floor(jac*1000000)::BIGINT AS jaccard_x1m
             |FROM res WHERE jac >= 0.5 ORDER BY doc_a, doc_b""".stripMargin)),

    // Degree-ordered triangle counting (x155): per-node triangle
    // participation on the temporal-affinity graph (x77/x107's edge
    // construction) — the local-clustering primitive. The orientation
    // (edges directed low-(degree,id) → high) bounds every node's wedge
    // fan-out at O(√m) with NO recall trade, unlike the maxBucket-style
    // guards: each triangle is generated exactly once as the wedge at
    // its orientation-smallest corner, closed by one oriented-edge
    // probe. Oracle replays the identical orientation with DuckDB tuple
    // comparisons.
    QueryDef("x155_triangle_count",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = QueryDef.events(s, d)
        val w = Window.partitionBy("event_type").orderBy("ts", "event_id")
        val edges = ev
          .withColumn("src", lag("user_id", 1).over(w))
          .filter(col("src").isNotNull && col("src") =!= col("user_id"))
          .select(col("src"), col("user_id").as("dst"))
        Graph.triangleCount(edges, "src", "dst").orderBy("node")
      },
      Some("""WITH ev AS (SELECT event_type, epoch_us(ts) AS t_us,
             |    event_id, user_id FROM events),
             |le AS (SELECT user_id AS dst, lag(user_id) OVER (
             |    PARTITION BY event_type ORDER BY t_us, event_id) AS src
             |  FROM ev),
             |raw AS (SELECT src, dst FROM le
             |  WHERE src IS NOT NULL AND src <> dst),
             |e AS (SELECT DISTINCT least(src, dst) AS u,
             |    greatest(src, dst) AS v FROM raw),
             |deg AS (SELECT node, count(*)::BIGINT AS dg FROM (
             |    SELECT u AS node FROM e UNION ALL SELECT v FROM e) nn
             |  GROUP BY 1),
             |o AS (SELECT
             |    CASE WHEN (du.dg, e.u) < (dv.dg, e.v) THEN e.u ELSE e.v END AS s,
             |    CASE WHEN (du.dg, e.u) < (dv.dg, e.v) THEN e.v ELSE e.u END AS t,
             |    CASE WHEN (du.dg, e.u) < (dv.dg, e.v) THEN dv.dg ELSE du.dg END AS tdg
             |  FROM e JOIN deg du ON e.u = du.node
             |  JOIN deg dv ON e.v = dv.node),
             |w AS (SELECT e1.s AS a, e1.t AS b, e2.t AS c
             |  FROM o e1 JOIN o e2
             |  ON e1.s = e2.s AND (e1.tdg, e1.t) < (e2.tdg, e2.t)),
             |tri AS (SELECT a, b, c FROM w WHERE EXISTS (
             |  SELECT 1 FROM o e3 WHERE e3.s = w.b AND e3.t = w.c))
             |SELECT node, count(*)::BIGINT AS triangles FROM (
             |  SELECT a AS node FROM tri
             |  UNION ALL SELECT b FROM tri
             |  UNION ALL SELECT c FROM tri) nn
             |GROUP BY 1 ORDER BY node""".stripMargin)),

    // Local clustering coefficient (x156): x155's triangles composed
    // with the degree table — cc = 2·tri/(deg·(deg−1)) ×10⁶ as exact
    // integral division, the neighborhood-cliquishness score. Same
    // graph, same orientation machinery; the oracle extends x155's with
    // the degree join and the identical fixed-point formula.
    QueryDef("x156_clustering_coefficient",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = QueryDef.events(s, d)
        val w = Window.partitionBy("event_type").orderBy("ts", "event_id")
        val edges = ev
          .withColumn("src", lag("user_id", 1).over(w))
          .filter(col("src").isNotNull && col("src") =!= col("user_id"))
          .select(col("src"), col("user_id").as("dst"))
        Graph.clusteringCoefficient(edges, "src", "dst").orderBy("node")
      },
      Some("""WITH ev AS (SELECT event_type, epoch_us(ts) AS t_us,
             |    event_id, user_id FROM events),
             |le AS (SELECT user_id AS dst, lag(user_id) OVER (
             |    PARTITION BY event_type ORDER BY t_us, event_id) AS src
             |  FROM ev),
             |raw AS (SELECT src, dst FROM le
             |  WHERE src IS NOT NULL AND src <> dst),
             |e AS (SELECT DISTINCT least(src, dst) AS u,
             |    greatest(src, dst) AS v FROM raw),
             |deg AS (SELECT node, count(*)::BIGINT AS dg FROM (
             |    SELECT u AS node FROM e UNION ALL SELECT v FROM e) nn
             |  GROUP BY 1),
             |o AS (SELECT
             |    CASE WHEN (du.dg, e.u) < (dv.dg, e.v) THEN e.u ELSE e.v END AS s,
             |    CASE WHEN (du.dg, e.u) < (dv.dg, e.v) THEN e.v ELSE e.u END AS t,
             |    CASE WHEN (du.dg, e.u) < (dv.dg, e.v) THEN dv.dg ELSE du.dg END AS tdg
             |  FROM e JOIN deg du ON e.u = du.node
             |  JOIN deg dv ON e.v = dv.node),
             |w AS (SELECT e1.s AS a, e1.t AS b, e2.t AS c
             |  FROM o e1 JOIN o e2
             |  ON e1.s = e2.s AND (e1.tdg, e1.t) < (e2.tdg, e2.t)),
             |tri AS (SELECT a, b, c FROM w WHERE EXISTS (
             |  SELECT 1 FROM o e3 WHERE e3.s = w.b AND e3.t = w.c)),
             |tc AS (SELECT node, count(*)::BIGINT AS triangles FROM (
             |  SELECT a AS node FROM tri
             |  UNION ALL SELECT b FROM tri
             |  UNION ALL SELECT c FROM tri) nn GROUP BY 1)
             |SELECT deg.node, deg.dg AS degree,
             |  coalesce(tc.triangles, 0)::BIGINT AS triangles,
             |  ((1000000 * 2 * coalesce(tc.triangles, 0))
             |    // (deg.dg * (deg.dg - 1)))::BIGINT AS cc_x1m
             |FROM deg LEFT JOIN tc USING (node)
             |WHERE deg.dg >= 2 ORDER BY deg.node""".stripMargin)),

    // RETRACTION (x157): the deletion dual of x152/x153 and the last
    // edge of the artifact family's build → consume → maintain loop —
    // the doc_id % 7 == 3 slice is retracted IN PLACE from a scratch
    // copy of the full-corpus label + index artifacts
    // (Dedup.retractFromLabels): tombstone append on the index, touched
    // components re-canonicalized from the STORED buckets/features
    // (component-bounded — deletions can only split or shrink
    // components, never merge them), labels swapped. The result must be
    // oracle-identical to a FULL canonical-labels rebuild over
    // corpus − retracted — including the hard cases: retracted keepers
    // hand canonical-ship to the next-smallest survivor, and retracted
    // bridge docs SPLIT their components.
    QueryDef("x157_label_retract",
      (s, d) => {
        val root = s"${ExtensionQueries.idxScratch}/x157_retract"
        rmTree(root)
        copyTree(ExtensionQueries.labelsPathForSpec(s, d), s"$root/labels")
        copyTree(ExtensionQueries.lshIndexFor(s, d), s"$root/idx")
        Dedup.retractFromLabels(
            tbl(s, d, "documents").filter(col("doc_id") % 7 === 3)
              .select("doc_id"),
            "doc_id", s"$root/labels", s"$root/idx", threshold = 0.5)
          .orderBy("doc")
      },
      Some(retractLabelsOracle)),

    // Pair-family audit after retraction (x157b): after the same
    // in-place retraction as x157, the tombstoned index must serve the
    // EDGE-level consumers exactly as a fresh build over
    // corpus − retracted would — `pairsFromLshIndex` reads through the
    // tombstone anti-join and must emit not one pair touching a
    // retracted doc. x154's dual for deletions: the live-corpus loop is
    // closed in BOTH directions for both artifact families.
    QueryDef("x157b_pairs_after_retract",
      (s, d) => {
        val root = s"${ExtensionQueries.idxScratch}/x157b_retract"
        rmTree(root)
        copyTree(ExtensionQueries.labelsPathForSpec(s, d), s"$root/labels")
        copyTree(ExtensionQueries.lshIndexFor(s, d), s"$root/idx")
        Dedup.retractFromLabels(
          tbl(s, d, "documents").filter(col("doc_id") % 7 === 3)
            .select("doc_id"),
          "doc_id", s"$root/labels", s"$root/idx", threshold = 0.5)
        Dedup.pairsFromLshIndex(s, s"$root/idx", threshold = 0.5)
          .select(col("doc_a"), col("doc_b"), col("common"),
            col("size_a"), col("size_b"),
            floor(col("jaccard") * 1000000).cast("long").as("jaccard_x1m"))
          .orderBy("doc_a", "doc_b")
      },
      Some(pairsAfterRetractOracle)),

    // STREAMING absorb (x158): the x152/x153 maintenance path wired
    // into a foreachBatch ingest drain (StreamOps.labelAbsorbDrain) —
    // the crawl-firehose shape. The % 4 == 0 batch is staged as THREE
    // parquet files and drained one micro-batch per file
    // (maxFilesPerTrigger=1) into a scratch copy of the base artifacts;
    // each micro-batch anti-joins the stored labels' doc set first
    // (replay safety — the reference's own idempotency pattern) and
    // absorbs in place, so batch 3 probes a store already holding
    // batches 1–2. Final labels must equal the full rebuild over
    // corpus + batch — the SAME oracle as x152/x153: the loop is closed
    // batch-wise, chain-wise, and now stream-wise.
    QueryDef("x158_stream_label_absorb",
      (s, d) => {
        val (lbl, idx) = absorbBaseFor(s, d)
        val root = s"${ExtensionQueries.idxScratch}/x158_stream"
        rmTree(root)
        copyTree(lbl, s"$root/labels"); copyTree(idx, s"$root/idx")
        val streamDir = graft.streaming.StreamOps.stageStreamDirChunksDf(s,
          tbl(s, d, "documents").filter(col("doc_id") % 4 === 0),
          "graft-x158", chunks = 3)
        graft.streaming.StreamOps.labelAbsorbDrain(s, streamDir,
          s"$root/ckpt", s"$root/labels", s"$root/idx", "doc_id", "text",
          shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5)
        Dedup.readLabels(s, s"$root/labels").orderBy("doc")
      },
      Some(fullLabelsOracle)),

    // STREAMING absorb at PRODUCTION geometry (x158b, round-14 verdict
    // #4): x158 grades the drain only at the adversarial batch ≈
    // corpus/4 geometry where every bucket of both label geometries is
    // touched per micro-batch; this is the x152b precedent applied to
    // the DRAIN — the labels store is bucketed at N = 512 and each
    // micro-batch carries ~1/96 of the corpus, so the per-micro-batch
    // replay guard reads O(touched buckets) ≪ N and the absorb rides
    // the insert-append fast path with O(chunk) bytes written: the
    // engine's most expensive headliner class, graded in the regime the
    // maintenance design targets (per-micro-batch cost flat in corpus
    // size). The % 32 == 0 slice drains as THREE micro-batch files into
    // a scratch copy of the % 32 != 0 base; final labels must equal the
    // full rebuild over corpus + batch — the same oracle as
    // x152/x153/x158.
    QueryDef("x158b_stream_label_absorb_prod",
      (s, d) => {
        val (lbl, idx) = drainProdBaseFor(s, d)
        val root = s"${ExtensionQueries.idxScratch}/x158b_stream"
        rmTree(root)
        copyTree(lbl, s"$root/labels"); copyTree(idx, s"$root/idx")
        val streamDir = graft.streaming.StreamOps.stageStreamDirChunksDf(s,
          tbl(s, d, "documents").filter(col("doc_id") % 32 === 0),
          "graft-x158b", chunks = 3)
        graft.streaming.StreamOps.labelAbsorbDrain(s, streamDir,
          s"$root/ckpt", s"$root/labels", s"$root/idx", "doc_id", "text",
          shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5)
        Dedup.readLabels(s, s"$root/labels").orderBy("doc")
      },
      Some(fullLabelsOracle)),

    // STREAMING retraction (x159): x158's deletion dual — a takedown
    // FEED (files of doc ids) drains one micro-batch per file through
    // retractFromLabels (StreamOps.labelRetractDrain; no replay guard
    // needed — retraction is idempotent by construction), with a
    // PHYSICAL COMPACTION in the middle that the final answer depends
    // on: files 1–2 retract via tombstones, compactLshIndex folds them
    // into the stores, then file 3's retraction re-derives its touched
    // components' edges from the COMPACTED index. The three files
    // partition the doc_id % 7 == 3 slice (% 21 ∈ {3, 10, 17}), so the
    // final labels share x157's corpus-minus-slice rebuild oracle —
    // takedown-by-batch, takedown-by-stream, and compaction all land on
    // the same answer.
    QueryDef("x159_stream_label_retract",
      (s, d) => {
        val root = s"${ExtensionQueries.idxScratch}/x159_stream"
        rmTree(root)
        copyTree(ExtensionQueries.labelsPathForSpec(s, d), s"$root/labels")
        copyTree(ExtensionQueries.lshIndexFor(s, d), s"$root/idx")
        val streamDir = s"$root/in"
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(streamDir))
        def stage(name: String, rem: Int): Unit = {
          val tmp = s"$root/scratch-$name"
          tbl(s, d, "documents").filter(col("doc_id") % 21 === rem)
            .select("doc_id").coalesce(1).write.parquet(tmp)
          val part = new java.io.File(tmp).listFiles()
            .find(f => f.getName.startsWith("part-") &&
              f.getName.endsWith(".parquet")).get
          java.nio.file.Files.copy(part.toPath,
            java.nio.file.Paths.get(s"$streamDir/$name.parquet"))
          ()
        }
        def drain(): Unit = graft.streaming.StreamOps.labelRetractDrain(
          s, streamDir, s"$root/ckpt", s"$root/labels", s"$root/idx",
          "doc_id", threshold = 0.5)
        stage("f1", 3); stage("f2", 10)
        drain()
        Dedup.compactLshIndex(s, s"$root/idx")
        stage("f3", 17)
        drain()
        Dedup.readLabels(s, s"$root/labels").orderBy("doc")
      },
      Some(retractLabelsOracle)),

    // k-anonymity / l-diversity audit (x160): the privacy-governance
    // pass before releasing a table with quasi-identifiers — the
    // complement of x37 (direct-identifier redaction) and x128 (card
    // audit): RE-IDENTIFICATION risk from column COMBINATIONS. Each
    // (mktsegment, nationkey) equivalence class reports its size (< k
    // re-identifies members by linkage) and its sensitive-attribute
    // diversity (< l leaks the attribute even without
    // re-identification — the homogeneity attack). One keyed aggregate
    // with map-side partials; suppression plans consume this table.
    QueryDef("x160_k_anonymity",
      (s, d) => Profile.kAnonymityAudit(tbl(s, d, "customer"),
          Seq("c_mktsegment", "c_nationkey"), "c_acctbal", k = 5L, l = 3L)
        .orderBy("c_mktsegment", "c_nationkey"),
      Some("""SELECT c_mktsegment, c_nationkey,
             |  count(*)::BIGINT AS class_size,
             |  count(DISTINCT c_acctbal)::BIGINT AS sensitive_diversity,
             |  (count(*) < 5) AS k_violation,
             |  (count(DISTINCT c_acctbal) < 3) AS l_violation
             |FROM customer GROUP BY 1, 2
             |ORDER BY 1, 2""".stripMargin)),

    // Mixed-script confusable audit (x161): the VISIBLE half of the
    // Trojan-Source surface x151 covers for invisibles — tokens mixing
    // Latin with Cyrillic/Greek render as ordinary words but hash,
    // tokenize and match differently (homograph phishing, dedup
    // evasion, poisoned text). Confusable tokens are PLANTED per
    // doc_id residue class via codepoint construction (no raw
    // lookalike chars in source): a Cyrillic а inside "paypal", a
    // Greek α fronting "pple", and a three-script token — single-script
    // tokens (including whole Cyrillic/Greek words) are never flagged.
    QueryDef("x161_mixed_script_audit",
      (s, d) => {
        val cyrA = new String(Character.toChars(0x0430))   // Cyrillic а
        val grkA = new String(Character.toChars(0x03B1))   // Greek α
        val dirty = tbl(s, d, "documents").select(col("doc_id"),
          concat(col("text"),
            when(pmod(col("doc_id"), lit(10)) === 1, lit(s" p${cyrA}ypal"))
              .when(pmod(col("doc_id"), lit(10)) === 2, lit(s" ${grkA}pple"))
              .when(pmod(col("doc_id"), lit(10)) === 3,
                lit(s" b${cyrA}nk$grkA ${cyrA}${cyrA} $grkA$grkA"))
              .otherwise(lit(""))).as("text"))
        Curation.mixedScriptAudit(dirty, "doc_id", "text")
          .orderBy("doc_id")
      },
      Some("""WITH dirty AS (SELECT doc_id, text ||
             |    CASE doc_id % 10
             |      WHEN 1 THEN ' p' || chr(1072) || 'ypal'
             |      WHEN 2 THEN ' ' || chr(945) || 'pple'
             |      WHEN 3 THEN ' b' || chr(1072) || 'nk' || chr(945) ||
             |        ' ' || chr(1072) || chr(1072) ||
             |        ' ' || chr(945) || chr(945)
             |      ELSE '' END AS text
             |  FROM documents),
             |tk AS (SELECT doc_id,
             |    string_split_regex(text, '\s+') AS toks FROM dirty),
             |m AS (SELECT doc_id,
             |    len(toks)::BIGINT AS tokens,
             |    len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')
             |      AND regexp_matches(t, '[\x{0400}-\x{04FF}]')))::BIGINT
             |      AS latin_cyrillic,
             |    len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')
             |      AND regexp_matches(t, '[\x{0370}-\x{03FF}]')))::BIGINT
             |      AS latin_greek,
             |    len(list_filter(toks,
             |      t -> regexp_matches(t, '[\x{0400}-\x{04FF}]')
             |      AND regexp_matches(t, '[\x{0370}-\x{03FF}]')))::BIGINT
             |      AS cyrillic_greek,
             |    len(list_filter(toks, t ->
             |      (regexp_matches(t, '[A-Za-z]')
             |        AND regexp_matches(t, '[\x{0400}-\x{04FF}]'))
             |      OR (regexp_matches(t, '[A-Za-z]')
             |        AND regexp_matches(t, '[\x{0370}-\x{03FF}]'))
             |      OR (regexp_matches(t, '[\x{0400}-\x{04FF}]')
             |        AND regexp_matches(t, '[\x{0370}-\x{03FF}]'))))::BIGINT
             |      AS mixed_script_tokens
             |  FROM tk)
             |SELECT doc_id, tokens, latin_cyrillic, latin_greek,
             |  cyrillic_greek, mixed_script_tokens,
             |  (mixed_script_tokens > 0) AS flagged
             |FROM m ORDER BY doc_id""".stripMargin)),

    // HTML text extraction (x162): the crawl pipeline's FIRST transform
    // (Curation.htmlExtract) — strip script/style bodies, drop tags,
    // decode the six ubiquitous entities (ampersand LAST so &amp;lt;
    // yields a literal &lt;), collapse whitespace, and report the
    // tag/anchor counts a boilerplate classifier feeds on. The corpus
    // text is wrapped in planted HTML per doc_id residue class —
    // anchors, a script whose STRING LITERAL contains markup (must not
    // leak into the text), an entity gauntlet, and a list — built
    // identically in both engines.
    QueryDef("x162_html_extract",
      (s, d) => {
        val html = concat(
          lit("<html><head><title>T</title><style>p{color:red}</style>" +
            "</head><body><p>"),
          col("text"), lit("</p>"),
          when(pmod(col("doc_id"), lit(5)) === 1,
            lit("<a href=\"#\">read more</a><a href=\"#\">next</a>"))
            .when(pmod(col("doc_id"), lit(5)) === 2,
              lit("<script type=\"text/javascript\">var x = " +
                "\"<p>not text</p>\";</script>"))
            .when(pmod(col("doc_id"), lit(5)) === 3,
              lit("<div>&amp;lt; &lt;b&gt; &nbsp;&quot;q&quot; &#39;s</div>"))
            .when(pmod(col("doc_id"), lit(5)) === 4,
              lit("<ul><li>alpha</li><li>beta</li></ul>"))
            .otherwise(lit("")),
          lit("</body></html>"))
        Curation.htmlExtract(
            tbl(s, d, "documents").select(col("doc_id"), html.as("html")),
            "doc_id", "html")
          .orderBy("doc_id")
      },
      Some("""WITH h AS (SELECT doc_id,
             |    '<html><head><title>T</title><style>p{color:red}</style>' ||
             |    '</head><body><p>' || text || '</p>' ||
             |    CASE doc_id % 5
             |      WHEN 1 THEN '<a href="#">read more</a><a href="#">next</a>'
             |      WHEN 2 THEN '<script type="text/javascript">var x = ' ||
             |        '"<p>not text</p>";</script>'
             |      WHEN 3 THEN
             |        '<div>&amp;lt; &lt;b&gt; &nbsp;&quot;q&quot; &#39;s</div>'
             |      WHEN 4 THEN '<ul><li>alpha</li><li>beta</li></ul>'
             |      ELSE '' END || '</body></html>' AS html
             |  FROM documents),
             |s1 AS (SELECT doc_id,
             |    regexp_replace(regexp_replace(html,
             |      '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
             |      '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS ns,
             |    len(regexp_extract_all(html, '<[^>]+>'))::BIGINT AS tag_count,
             |    len(regexp_extract_all(html, '(?i)<a[\s>]'))::BIGINT
             |      AS link_count
             |  FROM h),
             |s2 AS (SELECT doc_id, tag_count, link_count,
             |    replace(replace(replace(replace(replace(replace(
             |      regexp_replace(ns, '<[^>]+>', ' ', 'g'),
             |      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
             |      '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&') AS d
             |  FROM s1)
             |SELECT doc_id,
             |  trim(regexp_replace(d, '\s+', ' ', 'g')) AS text,
             |  tag_count, link_count,
             |  length(trim(regexp_replace(d, '\s+', ' ', 'g')))::BIGINT
             |    AS chars
             |FROM s2 ORDER BY doc_id""".stripMargin)),

    // IVF vector-index LIFECYCLE (x164): the ANN artifact family gets
    // the same build → probe → absorb loop the LSH label/index family
    // has (VectorIndex, on the shared ArtifactStore discipline): the
    // index is built over the vec_id % 4 != 0 slice (frozen first-8
    // sample codebook), the % 4 == 0 batch is ABSORBED (assigned to the
    // STORED centroids — the frozen-codebook contract, FAISS's own
    // add() semantics), and the queries probe the grown store. The
    // oracle recomputes the whole lifecycle declaratively: centroids
    // from the base slice, every vector (base and absorbed alike)
    // assigned to them, nprobe=2 cells scanned exactly.
    QueryDef("x164_ivf_index_lifecycle",
      (s, d) => {
        val root = s"${ExtensionQueries.idxScratch}/x164_vec"
        rmTree(root)
        val emb = tbl(s, d, "embeddings")
        VectorIndex.buildIvfIndex(emb.filter(col("vec_id") % 4 =!= 0),
          "vec_id", "embedding", root, nlist = 8)
        VectorIndex.absorbIntoIvfIndex(emb.filter(col("vec_id") % 4 === 0),
          "vec_id", "embedding", root)
        VectorIndex.probeIvfIndex(emb.filter(col("vec_id") < 10), root,
            "vec_id", "embedding", k = 10, nprobe = 2)
          .select(col("query_id"), col("rank"), col("neighbor_id"),
            floor(col("cosine") * 1000000).cast("long").as("cosine_x1m"))
          .orderBy("query_id", "rank")
      },
      Some(ivfLifecycleOracle("TRUE"))),

    // IVF retraction (x165): the DELETE edge of the same lifecycle —
    // after the x164 build + absorb, the vec_id % 7 == 3 slice is
    // retracted (tombstones; the frozen codebook keeps even a centroid
    // whose seed vector was retracted — centroids are k-means
    // parameters, not corpus members) and the probe must behave as if
    // those vectors were never indexed. Same oracle with the searchable
    // set filtered; the codebook subquery is NOT filtered.
    QueryDef("x165_ivf_index_retract",
      (s, d) => {
        val root = s"${ExtensionQueries.idxScratch}/x165_vec"
        rmTree(root)
        val emb = tbl(s, d, "embeddings")
        VectorIndex.buildIvfIndex(emb.filter(col("vec_id") % 4 =!= 0),
          "vec_id", "embedding", root, nlist = 8)
        VectorIndex.absorbIntoIvfIndex(emb.filter(col("vec_id") % 4 === 0),
          "vec_id", "embedding", root)
        VectorIndex.retractFromIvfIndex(
          emb.filter(col("vec_id") % 7 === 3).select("vec_id"),
          "vec_id", root)
        VectorIndex.probeIvfIndex(emb.filter(col("vec_id") < 10), root,
            "vec_id", "embedding", k = 10, nprobe = 2)
          .select(col("query_id"), col("rank"), col("neighbor_id"),
            floor(col("cosine") * 1000000).cast("long").as("cosine_x1m"))
          .orderBy("query_id", "rank")
      },
      Some(ivfLifecycleOracle("c.vec_id % 7 <> 3"))),

    // STREAMING vector absorb (x167): x164's maintenance path wired
    // into a foreachBatch ingest drain (StreamOps.vectorAbsorbDrain) —
    // the embedding-firehose shape, x158's symmetry for the IVF
    // artifact. The % 4 == 0 embedding slice is staged as THREE parquet
    // files and drained one micro-batch per file into the stored index
    // (frozen codebook; each micro-batch anti-joins the stored vector
    // ids first, and the append itself is idempotent row-exactly).
    // The probe over the grown store must equal x164's batch-absorbed
    // answer — the SAME oracle: batch-wise and stream-wise absorption
    // land on one result.
    QueryDef("x167_stream_vector_absorb",
      (s, d) => {
        val root = s"${ExtensionQueries.idxScratch}/x167_vec"
        rmTree(root)
        val emb = tbl(s, d, "embeddings")
        VectorIndex.buildIvfIndex(emb.filter(col("vec_id") % 4 =!= 0),
          "vec_id", "embedding", s"$root/idx", nlist = 8)
        val streamDir = graft.streaming.StreamOps.stageStreamDirChunksDf(s,
          emb.filter(col("vec_id") % 4 === 0).select("vec_id", "embedding"),
          "graft-x167", chunks = 3)
        graft.streaming.StreamOps.vectorAbsorbDrain(s, streamDir,
          s"$root/ckpt", s"$root/idx", "vec_id", "embedding")
        VectorIndex.probeIvfIndex(emb.filter(col("vec_id") < 10),
            s"$root/idx", "vec_id", "embedding", k = 10, nprobe = 2)
          .select(col("query_id"), col("rank"), col("neighbor_id"),
            floor(col("cosine") * 1000000).cast("long").as("cosine_x1m"))
          .orderBy("query_id", "rank")
      },
      Some(ivfLifecycleOracle("TRUE"))),

    // STREAMING vector retraction (x168): x167's deletion dual and
    // x159's IVF symmetry — a takedown feed (files of vec_ids) drains
    // one micro-batch per file through retractFromIvfIndex (idempotent
    // tombstone appends, no replay guard needed), with a PHYSICAL
    // compaction mid-stream: files 1–2 tombstone, compactIvfIndex folds
    // them into the vectors store, file 3 retracts against the
    // compacted store. The three files partition the vec_id % 7 == 3
    // slice (% 21 ∈ {3, 10, 17}), so the probe shares x165's oracle —
    // takedown-by-batch, takedown-by-stream, and compaction all land on
    // the same answer.
    QueryDef("x168_stream_vector_retract",
      (s, d) => {
        val root = s"${ExtensionQueries.idxScratch}/x168_vec"
        rmTree(root)
        val emb = tbl(s, d, "embeddings")
        VectorIndex.buildIvfIndex(emb.filter(col("vec_id") % 4 =!= 0),
          "vec_id", "embedding", s"$root/idx", nlist = 8)
        VectorIndex.absorbIntoIvfIndex(emb.filter(col("vec_id") % 4 === 0),
          "vec_id", "embedding", s"$root/idx")
        val streamDir = s"$root/in"
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(streamDir))
        def stage(name: String, rem: Int): Unit = {
          val tmp = s"$root/scratch-$name"
          emb.filter(col("vec_id") % 21 === rem)
            .select("vec_id").coalesce(1).write.parquet(tmp)
          val part = new java.io.File(tmp).listFiles()
            .find(f => f.getName.startsWith("part-") &&
              f.getName.endsWith(".parquet")).get
          java.nio.file.Files.copy(part.toPath,
            java.nio.file.Paths.get(s"$streamDir/$name.parquet"))
          ()
        }
        def drain(): Unit = graft.streaming.StreamOps.vectorRetractDrain(
          s, streamDir, s"$root/ckpt", s"$root/idx", "vec_id")
        stage("f1", 3); stage("f2", 10)
        drain()
        VectorIndex.compactIvfIndex(s, s"$root/idx")
        stage("f3", 17)
        drain()
        VectorIndex.probeIvfIndex(emb.filter(col("vec_id") < 10),
            s"$root/idx", "vec_id", "embedding", k = 10, nprobe = 2)
          .select(col("query_id"), col("rank"), col("neighbor_id"),
            floor(col("cosine") * 1000000).cast("long").as("cosine_x1m"))
          .orderBy("query_id", "rank")
      },
      Some(ivfLifecycleOracle("c.vec_id % 7 <> 3"))),

    // Codebook DRIFT audit (x171): the retrain trigger the frozen-
    // codebook contract defers, from the stored index alone. Three
    // epochs: the build (% 4 != 0), a STATIONARY absorb (% 4 == 0 —
    // same distribution, the error trend must hold flat), and a PLANTED
    // DRIFT absorb (the % 4 == 1 slice shifted by +2 per component
    // under fresh ids — quantization error must jump and the shifted
    // mass must pile into few cells). Per-vector errors are floored
    // into fixed point BEFORE the mean, so the trend is deterministic;
    // the oracle replays assignment + epochs declaratively.
    QueryDef("x171_codebook_drift",
      (s, d) => {
        val root = s"${ExtensionQueries.idxScratch}/x171_vec"
        rmTree(root)
        val emb = tbl(s, d, "embeddings")
        VectorIndex.buildIvfIndex(emb.filter(col("vec_id") % 4 =!= 0),
          "vec_id", "embedding", root, nlist = 8)
        VectorIndex.absorbIntoIvfIndex(emb.filter(col("vec_id") % 4 === 0),
          "vec_id", "embedding", root)
        VectorIndex.absorbIntoIvfIndex(
          emb.filter(col("vec_id") % 4 === 1)
            .select((col("vec_id") + 100000L).as("vec_id"),
              transform(col("embedding"),
                x => x.cast("double") + lit(2.0)).as("embedding")),
          "vec_id", "embedding", root)
        VectorIndex.auditIvfDrift(s, root)
      },
      Some(s"""WITH base AS (SELECT vec_id,
             |    list_transform(embedding, x -> x::DOUBLE) AS vec
             |  FROM embeddings),
             |allv AS (
             |  SELECT vec_id, vec, 0 AS epoch FROM base WHERE vec_id % 4 <> 0
             |  UNION ALL
             |  SELECT vec_id, vec, 1 FROM base WHERE vec_id % 4 = 0
             |  UNION ALL
             |  SELECT vec_id + 100000,
             |    list_transform(vec, x -> x + 2.0), 2
             |  FROM base WHERE vec_id % 4 = 1),
             |cb AS (SELECT vec_id AS cid, vec AS centroid FROM base
             |  WHERE vec_id % 4 <> 0 ORDER BY vec_id LIMIT 8),
             |asg AS (SELECT epoch, cell, err FROM (
             |    SELECT a.epoch, cb.cid AS cell,
             |      floor((1.0 - ${dkCosine("a.vec", "cb.centroid")})
             |        * 1000000)::BIGINT AS err,
             |      row_number() OVER (PARTITION BY a.vec_id, a.epoch
             |        ORDER BY ${dkCosine("a.vec", "cb.centroid")} DESC,
             |          cb.cid) AS rn
             |    FROM allv a CROSS JOIN cb) x
             |  WHERE rn = 1),
             |pc AS (SELECT epoch, cell, count(*)::BIGINT AS cn,
             |    sum(err)::BIGINT AS se
             |  FROM asg GROUP BY 1, 2)
             |SELECT epoch, sum(cn)::BIGINT AS vectors,
             |  (sum(se)::BIGINT // sum(cn)::BIGINT) AS avg_err_x1m,
             |  max(cn)::BIGINT AS max_cell_rows,
             |  ((10000 * max(cn)::BIGINT) // sum(cn)::BIGINT)
             |    AS max_cell_share_x10000
             |FROM pc GROUP BY epoch ORDER BY epoch""".stripMargin)),

    // Artifact CENSUS (x172): the "what is this store holding right
    // now" operational report over the four persisted artifact
    // families — the LSH index (with a planted parked `.__old`, crash
    // evidence a killed swap leaves), the BUCKETED labels store (its
    // b=<k> dirs collapse into one `b=*` substore), the IVF index
    // (with live tombstone debt from a takedown), and the BPE vocab.
    // One row per (artifact, substore): live rows, the artifact's
    // tombstone debt, its crash-leftover count. The oracle derives
    // every count from the base tables plus the artifacts' structural
    // constants (nlist centroids, 1-row metas, bands × docs buckets,
    // steps merges).
    QueryDef("x172_artifact_census",
      (s, d) => {
        val root = s"${ExtensionQueries.idxScratch}/x172_census"
        rmTree(root)
        val docs = tbl(s, d, "documents")
        val emb = tbl(s, d, "embeddings")
        Dedup.buildLshIndex(docs.filter(col("doc_id") % 3 === 0),
          "doc_id", "text", s"$root/lsh",
          shingleSize = 3, numHashes = 16, bands = 4)
        Dedup.buildCanonicalLabels(docs.filter(col("doc_id") % 3 === 0),
          "doc_id", "text", s"$root/labels",
          shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5,
          numBuckets = 4)
        VectorIndex.buildIvfIndex(emb.filter(col("vec_id") % 2 === 0),
          "vec_id", "embedding", s"$root/ivf", nlist = 4)
        VectorIndex.retractFromIvfIndex(
          emb.filter(col("vec_id") % 16 === 2).select("vec_id"),
          "vec_id", s"$root/ivf")
        TextAnalysis.buildBpeVocab(docs, "text", steps = 3,
          s"$root/vocab")
        val planted = new java.io.File(s"$root/lsh/features.__old")
        require(planted.mkdirs(), s"could not plant $planted")
        // the geometry columns (live_bytes / bucket_dirs / target) are
        // parquet-encoding-dependent — the strict gate pins the stable
        // observables
        ArtifactStore.census(s, Seq(("lsh", s"$root/lsh"),
            ("labels", s"$root/labels"), ("ivf", s"$root/ivf"),
            ("vocab", s"$root/vocab")))
          .select("artifact", "substore", "rows", "tombstone_rows",
            "crash_leftovers")
      },
      Some("""WITH lshn AS (SELECT count(*)::BIGINT AS n FROM documents
             |  WHERE doc_id % 3 = 0),
             |ivfn AS (SELECT count(*)::BIGINT AS n FROM embeddings
             |  WHERE vec_id % 2 = 0),
             |tomb AS (SELECT count(*)::BIGINT AS n FROM embeddings
             |  WHERE vec_id % 16 = 2)
             |SELECT * FROM (
             |  SELECT 'ivf' AS artifact, 'centroids' AS substore,
             |    4::BIGINT AS "rows", tomb.n AS tombstone_rows,
             |    0::BIGINT AS crash_leftovers FROM tomb
             |  UNION ALL SELECT 'ivf', 'epochs', 1::BIGINT, tomb.n,
             |    0::BIGINT FROM tomb
             |  UNION ALL SELECT 'ivf', 'ids', ivfn.n, tomb.n,
             |    0::BIGINT FROM ivfn, tomb
             |  UNION ALL SELECT 'ivf', 'meta', 1::BIGINT, tomb.n,
             |    0::BIGINT FROM tomb
             |  UNION ALL SELECT 'ivf', 'vectors', ivfn.n, tomb.n,
             |    0::BIGINT FROM ivfn, tomb
             |  UNION ALL SELECT 'lsh', 'buckets', lshn.n * 4, 0::BIGINT,
             |    1::BIGINT FROM lshn
             |  UNION ALL SELECT 'lsh', 'features', lshn.n, 0::BIGINT,
             |    1::BIGINT FROM lshn
             |  UNION ALL SELECT 'lsh', 'meta', 1::BIGINT, 0::BIGINT,
             |    1::BIGINT
             |  UNION ALL SELECT 'labels', 'b=*', lshn.n, 0::BIGINT,
             |    0::BIGINT FROM lshn
             |  UNION ALL SELECT 'labels', 'c=*', lshn.n, 0::BIGINT,
             |    0::BIGINT FROM lshn
             |  UNION ALL SELECT 'labels', 'meta', 1::BIGINT, 0::BIGINT,
             |    0::BIGINT
             |  UNION ALL SELECT 'vocab', 'merges', 3::BIGINT, 0::BIGINT,
             |    0::BIGINT
             |  UNION ALL SELECT 'vocab', 'meta', 1::BIGINT, 0::BIGINT,
             |    0::BIGINT
             |) ORDER BY artifact, substore""".stripMargin)),

    // Mergeable HISTOGRAM artifact + quantile union (x173): the
    // quantile twin of x140's HLL artifact — each shard folds its order
    // totals into exact fixed-width integer cent-buckets once
    // (Profile.histogramShard), the (shard, bucket, cnt) table is
    // WRITTEN TO PARQUET as the nightly per-shard artifact, and the
    // reader answers p50/p90/p99/p100 from the bucket-sum union with
    // one cumulative window over the ~50-bucket domain — never a
    // corpus-wide sort, and unlike sampled sketches the fixed bucket
    // width bounds the error under ANY merge order. Integer arithmetic
    // end to end, so the oracle replays it exactly.
    QueryDef("x173_histogram_artifact_quantiles",
      (s, d) => {
        val dir = s"${ExtensionQueries.idxScratch}/x173_hist"
        rmTree(dir)
        val shards = Profile.histogramShard(
          tbl(s, d, "orders")
            .withColumn("shard", pmod(col("o_orderkey"), lit(4))),
          "shard", (col("o_totalprice") * 100).cast("long"),
          widthCents = 1L << 20)
        shards.write.mode("overwrite").parquet(dir)
        Profile.quantilesFromHistogram(s.read.parquet(dir),
            widthCents = 1L << 20, qsX10000 = Seq(5000, 9000, 9900, 10000))
          .orderBy("q_x10000")
      },
      Some("""WITH h AS (SELECT (o_totalprice*100)::BIGINT // 1048576
             |    AS bucket, count(*)::BIGINT AS cnt
             |  FROM orders GROUP BY 1),
             |c AS (SELECT bucket, cnt,
             |    (sum(cnt) OVER (ORDER BY bucket))::BIGINT AS cum FROM h),
             |t AS (SELECT sum(cnt)::BIGINT AS total FROM h),
             |q(q_x10000) AS (VALUES (5000), (9000), (9900), (10000))
             |SELECT q_x10000, min(bucket)::BIGINT AS bucket,
             |  (min(bucket) + 1) * 1048576 AS upper_cents
             |FROM q, c, t WHERE cum * 10000 >= q_x10000 * total
             |GROUP BY q_x10000 ORDER BY q_x10000""".stripMargin)),

    // Two-stage MATRYOSHKA retrieval (x174): coarse candidates from a
    // persisted IVF index built over the FIRST 16 of 64 dimensions
    // (x163's matryoshka serving trick — a quarter of the index bytes
    // and stage-1 dot-product work), exact full-dimension rerank of the
    // 20 candidates per anchor, top-5 emitted with full-dim cosines
    // (Similarity.truncatedIndexRerank). The oracle replays both
    // stages declaratively: truncated codebook/cells/probes, truncated-
    // cosine candidate top-20, full-vector rerank.
    QueryDef("x174_matryoshka_rerank",
      (s, d) => {
        val root = s"${ExtensionQueries.idxScratch}/x174_vec"
        rmTree(root)
        val emb = tbl(s, d, "embeddings")
        VectorIndex.buildIvfIndex(
          emb.select(col("vec_id"),
            slice(col("embedding").cast("array<double>"), 1, 16)
              .as("embedding")),
          "vec_id", "embedding", root, nlist = 8)
        graft.operators.Similarity.truncatedIndexRerank(
            emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding",
            root, dims = 16, candK = 20, k = 5, nprobe = 2)
          .select(col("query_id"), col("rank"), col("neighbor_id"),
            floor(col("cosine") * 1000000).cast("long").as("cosine_x1m"))
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH v AS (SELECT vec_id,
             |    list_transform(embedding, x -> x::DOUBLE) AS vec
             |  FROM embeddings),
             |sv AS (SELECT vec_id, vec[1:16] AS tv FROM v),
             |cb AS (SELECT vec_id AS cid, tv AS centroid FROM sv
             |  ORDER BY vec_id LIMIT 8),
             |cells AS (SELECT vec_id AS neighbor_id, tv, cid AS cell
             |  FROM (SELECT s.vec_id, s.tv, cb.cid,
             |      row_number() OVER (PARTITION BY s.vec_id
             |        ORDER BY ${dkCosine("s.tv", "cb.centroid")} DESC, cb.cid)
             |        AS rn
             |    FROM sv s CROSS JOIN cb) a
             |  WHERE rn = 1),
             |q AS (SELECT vec_id AS query_id, vec[1:16] AS qtv, vec AS qv
             |  FROM v WHERE vec_id < 10),
             |probes AS (SELECT query_id, qtv, qv, cell FROM (
             |    SELECT q.query_id, q.qtv, q.qv, cb.cid AS cell,
             |      row_number() OVER (PARTITION BY q.query_id
             |        ORDER BY ${dkCosine("q.qtv", "cb.centroid")} DESC, cb.cid)
             |        AS pr
             |    FROM q CROSS JOIN cb) p
             |  WHERE pr <= 2),
             |cand AS (SELECT query_id, neighbor_id, qv FROM (
             |    SELECT p.query_id, c.neighbor_id, p.qv,
             |      row_number() OVER (PARTITION BY p.query_id
             |        ORDER BY ${dkCosine("p.qtv", "c.tv")} DESC,
             |          c.neighbor_id) AS cr
             |    FROM probes p JOIN cells c USING (cell)
             |    WHERE p.query_id <> c.neighbor_id) x
             |  WHERE cr <= 20)
             |SELECT query_id, rank, neighbor_id, cosine_x1m FROM (
             |  SELECT cand.query_id, v.vec_id AS neighbor_id,
             |    floor(${dkCosine("cand.qv", "v.vec")} * 1000000)::BIGINT
             |      AS cosine_x1m,
             |    row_number() OVER (PARTITION BY cand.query_id
             |      ORDER BY ${dkCosine("cand.qv", "v.vec")} DESC, v.vec_id)
             |      AS rank
             |  FROM cand JOIN v ON cand.neighbor_id = v.vec_id) r
             |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // IVF RETRAIN (x175): the consumer of x171's drift alarm — rebuild
    // the codebook FROM THE STORED VECTORS (no corpus access), reassign
    // cells, reset the epoch clock (VectorIndex.retrainIvfIndex). Build
    // on the even half, absorb the odd half shifted +0.5/component
    // under fresh ids (planted drift), measure BEFORE/AFTER: mean
    // quantization error (fixed-point, floored per vector) and probe
    // recall@5 (nprobe=2) against exact brute force over the searchable
    // set for 20 drifted queries. The output carries the improvement
    // CLAIMS as booleans, so the strict gate itself certifies "error
    // drops, recall rises" (measured here: 818711 -> 385499 err,
    // 8100 -> 10000 recall at sf0.01). The oracle replays retraining's
    // two Lloyd iterations declaratively (x08d's fixed-point-mean CTE
    // blocks) — the retrain seed (first 8 stored ids) equals the build
    // codebook because drifted ids sit above 100000.
    QueryDef("x175_ivf_retrain",
      (s, d) => {
        import s.implicits._
        val root = s"${ExtensionQueries.idxScratch}/x175_vec"
        rmTree(root)
        val emb = tbl(s, d, "embeddings")
        val even = emb.filter(col("vec_id") % 2 === 0)
        val drifted = emb.filter(col("vec_id") % 2 === 1)
          .select((col("vec_id") + 100000L).as("vec_id"),
            transform(col("embedding"), x => x.cast("double") + lit(0.5))
              .as("embedding"))
        VectorIndex.buildIvfIndex(even, "vec_id", "embedding", root,
          nlist = 8)
        VectorIndex.absorbIntoIvfIndex(drifted, "vec_id", "embedding",
          root)
        val qs = drifted.filter(col("vec_id") < 100040L)
        val nq = qs.count()
        val searchable = even.select(col("vec_id"),
            col("embedding").cast("array<double>").as("embedding"))
          .unionByName(drifted)
        def avgErr(): Long = ArtifactStore
          .readStore(s, root, "vectors", "vec_id")
          .join(broadcast(s.read.parquet(s"$root/centroids")),
            col("cell") === col("cid"))
          .select(floor((lit(1.0) - graft.operators.Similarity
            .cosine(col("vec"), col("centroid"))) * 1000000)
            .cast("long").as("e"))
          .agg(expr("div(sum(e), count(1))")).head().getLong(0)
        def recall(): Long = {
          val ann = VectorIndex.probeIvfIndex(qs, root, "vec_id",
            "embedding", k = 5, nprobe = 2).select("query_id", "neighbor_id")
          val exact = graft.operators.Similarity.bruteForceTopK(qs,
            searchable, "vec_id", "embedding", k = 5)
            .select("query_id", "neighbor_id")
          10000L * ann.join(exact, Seq("query_id", "neighbor_id")).count() /
            (5L * nq)
        }
        val (preErr, preRec) = (avgErr(), recall())
        VectorIndex.retrainIvfIndex(s, root, trainIterations = 2)
        val (postErr, postRec) = (avgErr(), recall())
        Seq(("avg_err_x1m", preErr, postErr, postErr < preErr),
          ("recall_x10000", preRec, postRec, postRec > preRec))
          .toDF("metric", "pre", "post", "improved")
          .orderBy("metric")
      },
      Some {
        def lloyd(i: Int, prev: String) =
          s"""a$i AS (SELECT vec_id, vec, cid,
             |    row_number() OVER (PARTITION BY vec_id
             |      ORDER BY cc DESC, cid) AS rn
             |  FROM (SELECT av.vec_id, av.vec, $prev.cid,
             |      ${dkCosine("av.vec", s"$prev.centroid")} AS cc
             |    FROM allv av CROSS JOIN $prev)),
             |e$i AS (SELECT cid AS cell,
             |    unnest(range(1, len(vec)+1)) AS pos, unnest(vec) AS x
             |  FROM a$i WHERE rn = 1),
             |s$i AS (SELECT cell, pos,
             |    sum(floor(x * 1048576)::BIGINT) AS s, count(*) AS n
             |  FROM e$i GROUP BY 1, 2),
             |cb$i AS (SELECT cell AS cid,
             |    list(s::DOUBLE / (n * 1048576)::DOUBLE ORDER BY pos)
             |      AS centroid
             |  FROM s$i GROUP BY cell)""".stripMargin
        def phase(p: String, cb: String) =
          s"""asg_$p AS (SELECT vec_id AS neighbor_id, vec AS cv, cell,
             |    err FROM (
             |    SELECT av.vec_id, av.vec, $cb.cid AS cell,
             |      floor((1.0 - ${dkCosine("av.vec", s"$cb.centroid")})
             |        * 1000000)::BIGINT AS err,
             |      row_number() OVER (PARTITION BY av.vec_id
             |        ORDER BY ${dkCosine("av.vec", s"$cb.centroid")} DESC,
             |          $cb.cid) AS rn
             |    FROM allv av CROSS JOIN $cb) x
             |  WHERE rn = 1),
             |err_$p AS (SELECT (sum(err)::BIGINT // count(*)::BIGINT)
             |    AS e FROM asg_$p),
             |probes_$p AS (SELECT query_id, qv, cell FROM (
             |    SELECT q.query_id, q.qv, $cb.cid AS cell,
             |      row_number() OVER (PARTITION BY q.query_id
             |        ORDER BY ${dkCosine("q.qv", s"$cb.centroid")} DESC,
             |          $cb.cid) AS pr
             |    FROM q CROSS JOIN $cb) x
             |  WHERE pr <= 2),
             |ann_$p AS (SELECT query_id, neighbor_id FROM (
             |    SELECT p.query_id, c.neighbor_id,
             |      row_number() OVER (PARTITION BY p.query_id
             |        ORDER BY ${dkCosine("p.qv", "c.cv")} DESC,
             |          c.neighbor_id) AS rank
             |    FROM probes_$p p JOIN asg_$p c USING (cell)
             |    WHERE p.query_id <> c.neighbor_id) x
             |  WHERE rank <= 5),
             |rec_$p AS (SELECT ((10000 * count(*))::BIGINT //
             |      (5 * (SELECT n FROM nq))::BIGINT) AS r
             |  FROM ann_$p JOIN exact USING (query_id, neighbor_id))"""
            .stripMargin
        s"""WITH v AS (SELECT vec_id,
           |    list_transform(embedding, x -> x::DOUBLE) AS vec
           |  FROM embeddings),
           |allv AS (
           |  SELECT vec_id, vec FROM v WHERE vec_id % 2 = 0
           |  UNION ALL
           |  SELECT vec_id + 100000,
           |    list_transform(vec, x -> x + 0.5)
           |  FROM v WHERE vec_id % 2 = 1),
           |cb0 AS (SELECT vec_id AS cid, vec AS centroid FROM v
           |  WHERE vec_id % 2 = 0 ORDER BY vec_id LIMIT 8),
           |${lloyd(1, "cb0")},
           |${lloyd(2, "cb1")},
           |q AS (SELECT vec_id AS query_id, vec AS qv FROM allv
           |  WHERE vec_id > 100000 AND vec_id < 100040),
           |nq AS (SELECT count(*)::BIGINT AS n FROM q),
           |exact AS (SELECT query_id, neighbor_id FROM (
           |    SELECT q.query_id, av.vec_id AS neighbor_id,
           |      row_number() OVER (PARTITION BY q.query_id
           |        ORDER BY ${dkCosine("q.qv", "av.vec")} DESC,
           |          av.vec_id) AS rank
           |    FROM q CROSS JOIN allv av
           |    WHERE q.query_id <> av.vec_id) x
           |  WHERE rank <= 5),
           |${phase("pre", "cb0")},
           |${phase("post", "cb2")}
           |SELECT 'avg_err_x1m' AS metric,
           |  (SELECT e FROM err_pre) AS pre,
           |  (SELECT e FROM err_post) AS post,
           |  (SELECT e FROM err_post) < (SELECT e FROM err_pre)
           |    AS improved
           |UNION ALL
           |SELECT 'recall_x10000',
           |  (SELECT r FROM rec_pre), (SELECT r FROM rec_post),
           |  (SELECT r FROM rec_post) > (SELECT r FROM rec_pre)
           |ORDER BY metric""".stripMargin
      }),

    // HISTOGRAM ARTIFACT LIFECYCLE (x176): the fourth full-lifecycle
    // family — x173's per-shard histograms become a persisted,
    // incrementally-maintained artifact: build on shards {0,1}, absorb
    // shard 2, RE-absorb shard 2 (a re-delivered feed file — the
    // ledger makes it a no-op), compact (bucket-sum pre-merge; shard
    // identity moves to the ledger), absorb shard 3 AFTER the compact
    // (the post-compact idempotency case), then answer quantiles from
    // the stored buckets. Integer buckets make the pin exact: the
    // incremental union must equal a batch computation over all four
    // shards bit for bit. Cents are shifted NEGATIVE for a third of
    // the orders, exercising the floor-division bucketing (round-12
    // advisory: SQL div truncation would fold (-w, 0) and [0, w) into
    // one double-width bucket and break the width-bounded error).
    QueryDef("x176_histogram_artifact_lifecycle",
      (s, d) => {
        val root = s"${ExtensionQueries.idxScratch}/x176_hist"
        rmTree(root)
        val cents = (col("o_totalprice") * 100).cast("long") -
          lit(10000000L)
        val orders = tbl(s, d, "orders")
          .withColumn("shard", pmod(col("o_orderkey"), lit(4)))
        Profile.buildHistogramArtifact(orders.filter(col("shard") < 2),
          "shard", cents, widthCents = 1L << 20, root)
        Profile.absorbIntoHistogram(orders.filter(col("shard") === 2),
          "shard", cents, root)
        Profile.absorbIntoHistogram(orders.filter(col("shard") === 2),
          "shard", cents, root)
        Profile.compactHistogram(s, root)
        Profile.absorbIntoHistogram(orders.filter(col("shard") === 3),
          "shard", cents, root)
        Profile.quantilesFromHistogramArtifact(s, root,
            qsX10000 = Seq(2500, 5000, 9900, 10000))
          .orderBy("q_x10000")
      },
      Some("""WITH h AS (SELECT
             |    ((c - ((c % 1048576) + 1048576) % 1048576) // 1048576)
             |      AS bucket, count(*)::BIGINT AS cnt
             |  FROM (SELECT (o_totalprice*100)::BIGINT - 10000000 AS c
             |    FROM orders) GROUP BY 1),
             |c AS (SELECT bucket, cnt,
             |    (sum(cnt) OVER (ORDER BY bucket))::BIGINT AS cum FROM h),
             |t AS (SELECT sum(cnt)::BIGINT AS total FROM h),
             |q(q_x10000) AS (VALUES (2500), (5000), (9900), (10000))
             |SELECT q_x10000, min(bucket)::BIGINT AS bucket,
             |  (min(bucket) + 1) * 1048576 AS upper_cents
             |FROM q, c, t WHERE cum * 10000 >= q_x10000 * total
             |GROUP BY q_x10000 ORDER BY q_x10000""".stripMargin)),

    // PREFERENCE PAIRS (x177): the RLHF/DPO data shape — within each
    // (source, lang) candidate group, the best- and worst-scored docs
    // become the (chosen, rejected) pair, near-ties dropped by the
    // margin filter (Eval.preferencePairs). Score = whitespace token
    // count (x11's convention). ONE map-side-combined groupBy: the
    // shuffle carries a row per group, never the group's members.
    QueryDef("x177_preference_pairs",
      (s, d) => Eval.preferencePairs(tbl(s, d, "documents"),
          Seq("source", "lang"), "doc_id",
          score = size(Portable.tokens(col("text"))).cast("long"),
          minMargin = 5L)
        .orderBy("source", "lang"),
      Some("""WITH sc AS (SELECT source, lang, doc_id,
             |    len(string_split_regex(lower(text), '\s+'))::BIGINT AS s
             |  FROM documents),
             |r AS (SELECT source, lang, doc_id, s,
             |    row_number() OVER (PARTITION BY source, lang
             |      ORDER BY s DESC, doc_id) AS rt,
             |    row_number() OVER (PARTITION BY source, lang
             |      ORDER BY s ASC, doc_id) AS rb
             |  FROM sc),
             |g AS (SELECT source, lang,
             |    max(CASE WHEN rt = 1 THEN doc_id END)::BIGINT AS chosen_id,
             |    max(CASE WHEN rt = 1 THEN s END)::BIGINT AS chosen_score,
             |    max(CASE WHEN rb = 1 THEN doc_id END)::BIGINT AS rejected_id,
             |    max(CASE WHEN rb = 1 THEN s END)::BIGINT AS rejected_score
             |  FROM r GROUP BY source, lang)
             |SELECT source, lang, chosen_id, chosen_score, rejected_id,
             |  rejected_score, (chosen_score - rejected_score) AS margin
             |FROM g
             |WHERE chosen_score - rejected_score >= 5
             |  AND chosen_id <> rejected_id
             |ORDER BY source NULLS FIRST, lang NULLS FIRST""".stripMargin)),

    // IMPORTANCE SCORING (x178): DSIR-style data selection — rank the
    // corpus by hashed-unigram resemblance to the English slice
    // (TextAnalysis.importanceScores, 512 buckets). Exact-integer
    // ratio-sum surrogate for the log-ratio sum (no ln(): the x49
    // libm rule); the oracle replays the same hash, smoothing, and
    // floors.
    QueryDef("x178_importance_scores",
      (s, d) => TextAnalysis.importanceScores(tbl(s, d, "documents"),
          "doc_id", "text", isTarget = col("lang") === "en",
          buckets = 512)
        .orderBy("doc"),
      Some(s"""WITH tk AS (SELECT doc_id AS doc, (lang = 'en') AS t,
             |    unnest(string_split_regex(lower(text), '\\s+')) AS token
             |  FROM documents),
             |bk AS (SELECT doc, t, ${dkHash56("token")} % 512 AS b
             |  FROM tk WHERE len(token) > 0),
             |rat AS (SELECT b,
             |    (1000000 * (sum(CASE WHEN t THEN 1 ELSE 0 END)::BIGINT + 1))
             |      // (count(*)::BIGINT + 1) AS ratio_x1m
             |  FROM bk GROUP BY b)
             |SELECT doc, count(*)::BIGINT AS n_tokens,
             |  (sum(ratio_x1m)::BIGINT // count(*)::BIGINT) AS score_x1m
             |FROM bk JOIN rat USING (b)
             |GROUP BY doc ORDER BY doc""".stripMargin)),

    // EXPECTATIONS AUDIT (x179): the declarative data-quality contract
    // suite (Profile.expectations) — null gates, range checks, domain
    // membership, key uniqueness, referential integrity — evaluated as
    // ONE aggregate pass over the fact table plus one anti-join probe
    // per FK rule. The price-cap rule is planted to FAIL so the report
    // proves violations are counted, not just asserted zero.
    QueryDef("x179_expectations_audit",
      (s, d) => Profile.expectations(tbl(s, d, "orders"), Seq(
          Profile.RowExpectation("r1_totalprice_nonneg",
            col("o_totalprice") < 0),
          Profile.RowExpectation("r2_status_domain",
            !col("o_orderstatus").isin("O", "F", "P")),
          Profile.RowExpectation("r3_orderdate_notnull",
            col("o_orderdate").isNull),
          Profile.RowExpectation("r4_price_under_300k",
            col("o_totalprice") >= 300000),
          Profile.UniqueExpectation("r5_orderkey_unique",
            Seq("o_orderkey")),
          Profile.RefExpectation("r6_custkey_in_customer",
            Seq("o_custkey"), tbl(s, d, "customer"), Seq("c_custkey"))))
        .orderBy("expectation"),
      Some("""WITH t AS (SELECT count(*)::BIGINT AS n FROM orders),
             |v AS (
             |  SELECT 'r1_totalprice_nonneg' AS expectation,
             |    (SELECT count(*) FROM orders WHERE o_totalprice < 0)::BIGINT
             |      AS violations
             |  UNION ALL SELECT 'r2_status_domain',
             |    (SELECT count(*) FROM orders
             |      WHERE o_orderstatus NOT IN ('O', 'F', 'P'))::BIGINT
             |  UNION ALL SELECT 'r3_orderdate_notnull',
             |    (SELECT count(*) FROM orders WHERE o_orderdate IS NULL)::BIGINT
             |  UNION ALL SELECT 'r4_price_under_300k',
             |    (SELECT count(*) FROM orders
             |      WHERE o_totalprice >= 300000)::BIGINT
             |  UNION ALL SELECT 'r5_orderkey_unique',
             |    (SELECT (count(*) - count(DISTINCT o_orderkey)) FROM orders)::BIGINT
             |  UNION ALL SELECT 'r6_custkey_in_customer',
             |    (SELECT count(*) FROM orders
             |      WHERE o_custkey IS NOT NULL AND o_custkey NOT IN
             |        (SELECT c_custkey FROM customer))::BIGINT)
             |SELECT expectation, violations, (SELECT n FROM t) AS total_rows,
             |  violations = 0 AS pass
             |FROM v ORDER BY expectation""".stripMargin)),

    // FORGET CASCADE (x180): right-to-be-forgotten across artifact
    // FAMILIES — one takedown set retracted from the canonical-labels
    // store (+ its LSH index tombstones) AND the IVF vector index in
    // one orchestrated pass, then each store is re-read to certify the
    // keys are gone. live_rows are REAL post-retract store reads;
    // forgotten_remaining are semi-join counts that must be zero. The
    // oracle derives both from the base tables (counts are
    // canonical-assignment-independent).
    QueryDef("x180_forget_cascade",
      (s, d) => {
        import s.implicits._
        val root = s"${ExtensionQueries.idxScratch}/x180_forget"
        rmTree(root)
        copyTree(ExtensionQueries.labelsPathForSpec(s, d), s"$root/labels")
        copyTree(ExtensionQueries.lshIndexFor(s, d), s"$root/idx")
        VectorIndex.buildIvfIndex(tbl(s, d, "embeddings"), "vec_id",
          "embedding", s"$root/ivf", nlist = 8)
        val forgetDocs = tbl(s, d, "documents")
          .filter(col("doc_id") % 11 === 7).select("doc_id")
          .localCheckpoint()
        Dedup.retractFromLabels(forgetDocs, "doc_id", s"$root/labels",
          s"$root/idx", threshold = 0.5)
        VectorIndex.retractFromIvfIndex(
          tbl(s, d, "embeddings").filter(col("vec_id") % 11 === 7),
          "vec_id", s"$root/ivf")
        val labels = Dedup.readLabels(s, s"$root/labels")
          .localCheckpoint()
        val vectors = ArtifactStore.readStore(s, s"$root/ivf", "vectors",
          "vec_id").localCheckpoint()
        val labLive = labels.count()
        val labLeft = labels.join(broadcast(forgetDocs),
          labels("doc") === forgetDocs("doc_id"), "left_semi").count()
        val vecLive = vectors.count()
        val vecLeft = vectors.filter(pmod(col("vec_id"), lit(11)) === 7)
          .count()
        Seq(("labels", labLive, labLeft), ("vectors", vecLive, vecLeft))
          .toDF("artifact", "live_rows", "forgotten_remaining")
          .orderBy("artifact")
      },
      Some("""WITH dl AS (SELECT count(*)::BIGINT AS n FROM documents),
             |df AS (SELECT count(*)::BIGINT AS n FROM documents
             |  WHERE doc_id % 11 = 7),
             |el AS (SELECT count(*)::BIGINT AS n FROM embeddings),
             |ef AS (SELECT count(*)::BIGINT AS n FROM embeddings
             |  WHERE vec_id % 11 = 7)
             |SELECT 'labels' AS artifact,
             |  (SELECT dl.n - df.n FROM dl, df) AS live_rows,
             |  0::BIGINT AS forgotten_remaining
             |UNION ALL
             |SELECT 'vectors', (SELECT el.n - ef.n FROM el, ef), 0::BIGINT
             |ORDER BY artifact""".stripMargin)),

    // FILTERED VECTOR SEARCH (x181): metadata-predicate ANN through the
    // stored IVF index (VectorIndex.probeIvfIndexWhere) — top-5 among
    // the vec_id % 3 == 0 slice only, predicate applied BEFORE the
    // top-k (post-filtering would under-fill k — the classic filtered-
    // ANN bug) and pushed into the cell-pruned parquet scan. At
    // nprobe = nlist the answer is pin-exact to filtered brute force.
    QueryDef("x181_filtered_ann",
      (s, d) => {
        val root = s"${ExtensionQueries.idxScratch}/x181_vec"
        rmTree(root)
        val emb = tbl(s, d, "embeddings")
        VectorIndex.buildIvfIndex(emb, "vec_id", "embedding", root,
          nlist = 8)
        VectorIndex.probeIvfIndexWhere(emb.filter(col("vec_id") < 10),
            root, "vec_id", "embedding",
            keep = pmod(col("vec_id"), lit(3)) === 0, k = 5, nprobe = 8)
          .select(col("query_id"), col("rank"), col("neighbor_id"),
            floor(col("cosine") * 1000000).cast("long").as("cosine_x1m"))
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH v AS (SELECT vec_id,
             |    list_transform(embedding, x -> x::DOUBLE) AS vec
             |  FROM embeddings),
             |q AS (SELECT vec_id AS query_id, vec AS qv FROM v
             |  WHERE vec_id < 10),
             |c AS (SELECT vec_id, vec FROM v WHERE vec_id % 3 = 0),
             |ranked AS (SELECT query_id, neighbor_id, cosine,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY cosine DESC, neighbor_id) AS rank
             |  FROM (SELECT query_id, c.vec_id AS neighbor_id,
             |      ${dkCosine("qv", "c.vec")} AS cosine
             |    FROM q CROSS JOIN c WHERE query_id <> c.vec_id) s)
             |SELECT query_id, rank, neighbor_id,
             |  floor(cosine * 1000000)::BIGINT AS cosine_x1m
             |FROM ranked WHERE rank <= 5
             |ORDER BY query_id, rank""".stripMargin)),

    // HISTOGRAM-ARTIFACT DRIFT (x182): the monitoring consumer of the
    // x176 family — two persisted histogram generations (epoch B's
    // cents planted +5000: a uniform shift) compared bucket-by-bucket
    // in exact per-million shares (Profile.histogramDriftFromArtifacts;
    // total variation = div(Σ delta, 2) folds over this table). The
    // compare reads two bucket-domain-sized artifacts — never raw rows.
    QueryDef("x182_histogram_drift",
      (s, d) => {
        val rootA = s"${ExtensionQueries.idxScratch}/x182_hist_a"
        val rootB = s"${ExtensionQueries.idxScratch}/x182_hist_b"
        rmTree(rootA); rmTree(rootB)
        val ev = QueryDef.events(s, d)
          .withColumn("shard", col("event_type"))
        val cents = floor(col("value") * 100 + 0.5).cast("long")
        Profile.buildHistogramArtifact(ev, "shard", cents,
          widthCents = 1000L, rootA)
        Profile.buildHistogramArtifact(ev, "shard", cents + 5000L,
          widthCents = 1000L, rootB)
        Profile.histogramDriftFromArtifacts(s, rootA, rootB)
      },
      Some("""WITH c0 AS (SELECT floor(value*100 + 0.5)::BIGINT AS c
             |  FROM events),
             |a AS (SELECT ((c - ((c % 1000) + 1000) % 1000) // 1000)
             |    AS bucket, count(*)::BIGINT AS cnt
             |  FROM c0 GROUP BY 1),
             |b AS (SELECT ((c - ((c % 1000) + 1000) % 1000) // 1000)
             |    AS bucket, count(*)::BIGINT AS cnt
             |  FROM (SELECT c + 5000 AS c FROM c0) GROUP BY 1),
             |j AS (SELECT coalesce(a.bucket, b.bucket) AS bucket,
             |    coalesce(a.cnt, 0)::BIGINT AS cnt_a,
             |    coalesce(b.cnt, 0)::BIGINT AS cnt_b
             |  FROM a FULL OUTER JOIN b ON a.bucket = b.bucket),
             |t AS (SELECT sum(cnt_a)::BIGINT AS ta, sum(cnt_b)::BIGINT AS tb
             |  FROM j)
             |SELECT bucket, cnt_a, cnt_b,
             |  (1000000 * cnt_a) // ta AS share_a_x1m,
             |  (1000000 * cnt_b) // tb AS share_b_x1m,
             |  abs((1000000 * cnt_a) // ta - (1000000 * cnt_b) // tb)
             |    AS delta_x1m
             |FROM j, t ORDER BY bucket""".stripMargin)),

    // RETRIEVAL MRR (x183): first-relevant rank + reciprocal rank per
    // query (Eval.firstRelevantRank) over an exact top-10 — relevance =
    // same stored class label as the query. x104 prices recall
    // (hits anywhere in k); this prices WHERE the first hit landed —
    // exact integer reciprocals, no float mean.
    QueryDef("x183_retrieval_mrr",
      (s, d) => {
        val emb = tbl(s, d, "embeddings")
        Eval.firstRelevantRank(
            graft.operators.Similarity.bruteForceTopK(
              emb.filter(col("vec_id") < 50), emb, "vec_id", "embedding",
              k = 10),
            emb, "vec_id", "label")
          .orderBy("query_id")
      },
      Some(s"""WITH v AS (SELECT vec_id, label,
             |    list_transform(embedding, x -> x::DOUBLE) AS vec
             |  FROM embeddings),
             |q AS (SELECT vec_id AS query_id, label AS qlab, vec AS qv
             |  FROM v WHERE vec_id < 50),
             |ranked AS (SELECT query_id, qlab, nlab, rank FROM (
             |    SELECT q.query_id, q.qlab, c.label AS nlab,
             |      row_number() OVER (PARTITION BY q.query_id
             |        ORDER BY ${dkCosine("q.qv", "c.vec")} DESC, c.vec_id)
             |        AS rank
             |    FROM q CROSS JOIN v c WHERE q.query_id <> c.vec_id) s
             |  WHERE rank <= 10)
             |SELECT query_id,
             |  min(CASE WHEN qlab = nlab THEN rank END) AS first_rel_rank,
             |  coalesce(1000000 // min(CASE WHEN qlab = nlab THEN rank END),
             |    0)::BIGINT AS rr_x1m
             |FROM ranked GROUP BY query_id ORDER BY query_id""".stripMargin)),

    // kNN LABEL-VOTE ACCURACY (x184): the classic embedding-quality
    // eval (Eval.knnLabelVote) — each query's top-10 neighbors vote
    // with their class, majority wins (ties → smaller label), scored
    // against the query's own label. Complements x46's centroid
    // confusion with the instance-level kNN view.
    QueryDef("x184_knn_label_accuracy",
      (s, d) => {
        val emb = tbl(s, d, "embeddings")
        Eval.knnLabelVote(
            graft.operators.Similarity.bruteForceTopK(
              emb.filter(col("vec_id") < 50), emb, "vec_id", "embedding",
              k = 10),
            emb, "vec_id", "label")
          .orderBy("query_id")
      },
      Some(s"""WITH v AS (SELECT vec_id, label,
             |    list_transform(embedding, x -> x::DOUBLE) AS vec
             |  FROM embeddings),
             |q AS (SELECT vec_id AS query_id, label AS qlab, vec AS qv
             |  FROM v WHERE vec_id < 50),
             |ranked AS (SELECT query_id, qlab, nlab FROM (
             |    SELECT q.query_id, q.qlab, c.label AS nlab,
             |      row_number() OVER (PARTITION BY q.query_id
             |        ORDER BY ${dkCosine("q.qv", "c.vec")} DESC, c.vec_id)
             |        AS rank
             |    FROM q CROSS JOIN v c WHERE q.query_id <> c.vec_id) s
             |  WHERE rank <= 10),
             |votes AS (SELECT query_id, qlab AS true_label, nlab,
             |    count(*)::BIGINT AS votes
             |  FROM ranked GROUP BY 1, 2, 3),
             |win AS (SELECT query_id, true_label, nlab AS predicted_label,
             |    votes,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY votes DESC, nlab ASC) AS rn
             |  FROM votes)
             |SELECT query_id, true_label, predicted_label, votes,
             |  predicted_label = true_label AS correct
             |FROM win WHERE rn = 1 ORDER BY query_id""".stripMargin)),

    // STREAMING histogram absorb (x185): the fourth artifact family's
    // drain (StreamOps.histogramAbsorbDrain), completing the per-family
    // streaming symmetry (labels x158, vectors x167). Build on shards
    // {0,1}, stage shards 2 and 3 as SHARD-ALIGNED files
    // (stageStreamDirByKey — the ledger's idempotency unit is the
    // shard, so file boundaries must not split one), drain one
    // micro-batch per file, compact, then answer quantiles from the
    // store. Integer buckets make the pin exact: the streamed union
    // must equal a batch computation over all four shards bit for bit —
    // x176's oracle, reached stream-wise.
    QueryDef("x185_stream_histogram_absorb",
      (s, d) => {
        val root = s"${ExtensionQueries.idxScratch}/x185_hist"
        rmTree(root)
        val cents = (col("o_totalprice") * 100).cast("long") -
          lit(10000000L)
        val orders = tbl(s, d, "orders")
          .withColumn("shard", pmod(col("o_orderkey"), lit(4)))
        Profile.buildHistogramArtifact(orders.filter(col("shard") < 2),
          "shard", cents, widthCents = 1L << 20, s"$root/hist")
        val streamDir = graft.streaming.StreamOps.stageStreamDirByKey(s,
          orders.filter(col("shard") >= 2)
            .select(col("shard"), col("o_totalprice")),
          "graft-x185", "shard")
        graft.streaming.StreamOps.histogramAbsorbDrain(s, streamDir,
          s"$root/ckpt", s"$root/hist", "shard",
          (col("o_totalprice") * 100).cast("long") - lit(10000000L))
        Profile.compactHistogram(s, s"$root/hist")
        Profile.quantilesFromHistogramArtifact(s, s"$root/hist",
            qsX10000 = Seq(2500, 5000, 9900, 10000))
          .orderBy("q_x10000")
      },
      Some("""WITH h AS (SELECT
             |    ((c - ((c % 1048576) + 1048576) % 1048576) // 1048576)
             |      AS bucket, count(*)::BIGINT AS cnt
             |  FROM (SELECT (o_totalprice*100)::BIGINT - 10000000 AS c
             |    FROM orders) GROUP BY 1),
             |c AS (SELECT bucket, cnt,
             |    (sum(cnt) OVER (ORDER BY bucket))::BIGINT AS cum FROM h),
             |t AS (SELECT sum(cnt)::BIGINT AS total FROM h),
             |q(q_x10000) AS (VALUES (2500), (5000), (9900), (10000))
             |SELECT q_x10000, min(bucket)::BIGINT AS bucket,
             |  (min(bucket) + 1) * 1048576 AS upper_cents
             |FROM q, c, t WHERE cum * 10000 >= q_x10000 * total
             |GROUP BY q_x10000 ORDER BY q_x10000""".stripMargin)),

    // MAINTENANCE ADVISOR (x186): what closes the artifact-ops loop —
    // x172's census MEASURES, ArtifactStore.maintenanceAdvice DECIDES,
    // and repairStore/compact*/rebalance* act. Same staged quartet as
    // x172 (planted `.__old` debris on the LSH index, live tombstone
    // debt on the IVF index at ~12% of its rows vs the 5% threshold):
    // the advisor must order repair above compact and leave the clean
    // stores alone. Exact integers over the census frame — the advisor
    // itself runs zero FS access.
    QueryDef("x186_maintenance_advisor",
      (s, d) => {
        val root = s"${ExtensionQueries.idxScratch}/x186_advisor"
        rmTree(root)
        val docs = tbl(s, d, "documents")
        val emb = tbl(s, d, "embeddings")
        Dedup.buildLshIndex(docs.filter(col("doc_id") % 3 === 0),
          "doc_id", "text", s"$root/lsh",
          shingleSize = 3, numHashes = 16, bands = 4)
        Dedup.buildCanonicalLabels(docs.filter(col("doc_id") % 3 === 0),
          "doc_id", "text", s"$root/labels",
          shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5,
          numBuckets = 4)
        VectorIndex.buildIvfIndex(emb.filter(col("vec_id") % 2 === 0),
          "vec_id", "embedding", s"$root/ivf", nlist = 4)
        VectorIndex.retractFromIvfIndex(
          emb.filter(col("vec_id") % 16 === 2).select("vec_id"),
          "vec_id", s"$root/ivf")
        TextAnalysis.buildBpeVocab(docs, "text", steps = 3,
          s"$root/vocab")
        val planted = new java.io.File(s"$root/lsh/features.__old")
        require(planted.mkdirs(), s"could not plant $planted")
        ArtifactStore.maintenanceAdvice(
          ArtifactStore.census(s, Seq(("lsh", s"$root/lsh"),
            ("labels", s"$root/labels"), ("ivf", s"$root/ivf"),
            ("vocab", s"$root/vocab"))),
          debtX10000 = 500L)
      },
      Some("""WITH lshn AS (SELECT count(*)::BIGINT AS n FROM documents
             |  WHERE doc_id % 3 = 0),
             |ivfn AS (SELECT count(*)::BIGINT AS n FROM embeddings
             |  WHERE vec_id % 2 = 0),
             |tomb AS (SELECT count(*)::BIGINT AS n FROM embeddings
             |  WHERE vec_id % 16 = 2)
             |SELECT * FROM (
             |  SELECT 'ivf' AS artifact,
             |    (2 * ivfn.n + 6)::BIGINT AS total_rows,
             |    tomb.n AS tombstone_rows, 0::BIGINT AS crash_leftovers,
             |    CASE WHEN tomb.n * 10000 > 500 * (2 * ivfn.n + 6)
             |      THEN 'compact' ELSE 'ok' END AS action
             |  FROM ivfn, tomb
             |  UNION ALL SELECT 'labels', (2 * lshn.n + 1)::BIGINT,
             |    0::BIGINT, 0::BIGINT, 'ok' FROM lshn
             |  UNION ALL SELECT 'lsh', (5 * lshn.n + 1)::BIGINT,
             |    0::BIGINT, 1::BIGINT, 'repair' FROM lshn
             |  UNION ALL SELECT 'vocab', 4::BIGINT, 0::BIGINT,
             |    0::BIGINT, 'ok'
             |) ORDER BY artifact""".stripMargin)),

    // HISTOGRAM RETRACTION (x187): the lifecycle edge the fourth
    // artifact family lacked (labels and vectors retract; histograms
    // only absorbed + compacted). Build on shards {0,1,2}, COMPACT
    // (shard identities fold into NULL-shard merged rows — the hard
    // case), absorb shard 3, then retract shard 1 (compacted away →
    // exact NEGATIVE counts appended), replay the same retraction
    // (no-op — the ledger was freed in the same root swap as the
    // rows), retract shard 3 (physically present → rows dropped) and
    // RE-ABSORB it (the freed ledger makes re-ingest legal). Integer
    // buckets make every step lossless: the final quantiles must equal
    // a batch build over shards {0,2,3} bit for bit.
    QueryDef("x187_histogram_retract",
      (s, d) => {
        val root = s"${ExtensionQueries.idxScratch}/x187_hist"
        rmTree(root)
        val cents = (col("o_totalprice") * 100).cast("long") -
          lit(10000000L)
        val orders = tbl(s, d, "orders")
          .withColumn("shard", pmod(col("o_orderkey"), lit(4)))
        Profile.buildHistogramArtifact(orders.filter(col("shard") < 3),
          "shard", cents, widthCents = 1L << 20, s"$root/hist")
        Profile.compactHistogram(s, s"$root/hist")
        Profile.absorbIntoHistogram(orders.filter(col("shard") === 3),
          "shard", cents, s"$root/hist")
        val takedown = orders.filter(col("shard") === 1)
        Profile.retractFromHistogram(takedown, "shard", cents,
          s"$root/hist")
        Profile.retractFromHistogram(takedown, "shard", cents,
          s"$root/hist")
        Profile.retractFromHistogram(orders.filter(col("shard") === 3),
          "shard", cents, s"$root/hist")
        Profile.absorbIntoHistogram(orders.filter(col("shard") === 3),
          "shard", cents, s"$root/hist")
        Profile.quantilesFromHistogramArtifact(s, s"$root/hist",
            qsX10000 = Seq(2500, 5000, 9900, 10000))
          .orderBy("q_x10000")
      },
      Some("""WITH h AS (SELECT
             |    ((c - ((c % 1048576) + 1048576) % 1048576) // 1048576)
             |      AS bucket, count(*)::BIGINT AS cnt
             |  FROM (SELECT (o_totalprice*100)::BIGINT - 10000000 AS c
             |    FROM orders WHERE o_orderkey % 4 <> 1) GROUP BY 1),
             |c AS (SELECT bucket, cnt,
             |    (sum(cnt) OVER (ORDER BY bucket))::BIGINT AS cum FROM h),
             |t AS (SELECT sum(cnt)::BIGINT AS total FROM h),
             |q(q_x10000) AS (VALUES (2500), (5000), (9900), (10000))
             |SELECT q_x10000, min(bucket)::BIGINT AS bucket,
             |  (min(bucket) + 1) * 1048576 AS upper_cents
             |FROM q, c, t WHERE cum * 10000 >= q_x10000 * total
             |GROUP BY q_x10000 ORDER BY q_x10000""".stripMargin)),

    // MAINTENANCE EXECUTOR (x188): x186's advisor DECIDES; this runs
    // the decisions — census → advice → per-artifact dispatch (repair →
    // repairStore; compact → the family's compactor, picked from the
    // root's substore shape) in one call. Same planted quartet as
    // x172/x186 (crash debris on the LSH index, ~12% tombstone debt on
    // the IVF index at the 5% threshold, clean labels + vocab): the
    // executor must repair the LSH store and compact the IVF store —
    // and the POST-run advice over a fresh census must read all-ok
    // with the compacted row counts (vectors AND the ids sidecar both
    // shrink by the tombstone fold). Exec rows joined with post-advice
    // so the gate pins both what ran and what state it left.
    QueryDef("x188_maintenance_execute",
      (s, d) => {
        val root = s"${ExtensionQueries.idxScratch}/x188_exec"
        rmTree(root)
        val docs = tbl(s, d, "documents")
        val emb = tbl(s, d, "embeddings")
        Dedup.buildLshIndex(docs.filter(col("doc_id") % 3 === 0),
          "doc_id", "text", s"$root/lsh",
          shingleSize = 3, numHashes = 16, bands = 4)
        Dedup.buildCanonicalLabels(docs.filter(col("doc_id") % 3 === 0),
          "doc_id", "text", s"$root/labels",
          shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5,
          numBuckets = 4)
        VectorIndex.buildIvfIndex(emb.filter(col("vec_id") % 2 === 0),
          "vec_id", "embedding", s"$root/ivf", nlist = 4)
        VectorIndex.retractFromIvfIndex(
          emb.filter(col("vec_id") % 16 === 2).select("vec_id"),
          "vec_id", s"$root/ivf")
        TextAnalysis.buildBpeVocab(docs, "text", steps = 3,
          s"$root/vocab")
        val planted = new java.io.File(s"$root/lsh/features.__old")
        require(planted.mkdirs(), s"could not plant $planted")
        val arts = Seq(("lsh", s"$root/lsh"), ("labels", s"$root/labels"),
          ("ivf", s"$root/ivf"), ("vocab", s"$root/vocab"))
        val exec = Maintenance.executeMaintenance(s, arts,
          debtX10000 = 500L)
        val post = ArtifactStore.maintenanceAdvice(
            ArtifactStore.census(s, arts), debtX10000 = 500L)
          .select(col("artifact"), col("action").as("post_action"),
            col("total_rows"), col("tombstone_rows"),
            col("crash_leftovers"))
        exec.join(post, Seq("artifact")).orderBy("artifact")
      },
      Some("""WITH lshn AS (SELECT count(*)::BIGINT AS n FROM documents
             |  WHERE doc_id % 3 = 0),
             |ivfn AS (SELECT count(*)::BIGINT AS n FROM embeddings
             |  WHERE vec_id % 2 = 0),
             |tomb AS (SELECT count(*)::BIGINT AS n FROM embeddings
             |  WHERE vec_id % 16 = 2)
             |SELECT * FROM (
             |  SELECT 'ivf' AS artifact, 'compact' AS action,
             |    TRUE AS executed, 'compactIvfIndex' AS detail,
             |    'ok' AS post_action,
             |    (2 * (ivfn.n - tomb.n) + 6)::BIGINT AS total_rows,
             |    0::BIGINT AS tombstone_rows,
             |    0::BIGINT AS crash_leftovers
             |  FROM ivfn, tomb
             |  UNION ALL SELECT 'labels', 'ok', FALSE, 'clean', 'ok',
             |    (2 * lshn.n + 1)::BIGINT, 0::BIGINT, 0::BIGINT FROM lshn
             |  UNION ALL SELECT 'lsh', 'repair', TRUE, 'repairStore',
             |    'ok', (5 * lshn.n + 1)::BIGINT, 0::BIGINT, 0::BIGINT
             |  FROM lshn
             |  UNION ALL SELECT 'vocab', 'ok', FALSE, 'clean', 'ok',
             |    4::BIGINT, 0::BIGINT, 0::BIGINT
             |) ORDER BY artifact""".stripMargin)),

    // ADVISOR-DRIVEN LSH REBALANCE (x189, round-13 verdict #5): the LSH
    // index gets the labels store's geometry-maintenance loop — the
    // build records its avg bucket-dir bytes in the meta, the census
    // reads the live geometry (FS listings), the advisor emits
    // `rebalance` on 4× drift, and the executor runs
    // `Dedup.rebalanceLshIndex` (both substores re-hashed to auto-sized
    // part counts + meta refreshed, ONE root swap). The build here
    // plants a 1-byte target so the drift rule trips deterministically;
    // the strict pin is the CONSUMER contract: a probe against the
    // REBALANCED store must answer exactly the x61/x70 verified-pair
    // oracle — re-partitioning moved every row and the pruned read path
    // must still find all of them.
    QueryDef("x189_lsh_rebalance",
      (s, d) => {
        val root = s"${ExtensionQueries.idxScratch}/x189_reb"
        rmTree(root)
        val docs = tbl(s, d, "documents")
        Dedup.buildLshIndex(docs.filter(col("doc_id") % 5 =!= 0),
          "doc_id", "text", s"$root/idx",
          shingleSize = 3, numHashes = 16, bands = 4,
          bucketTargetBytes = 1L)
        val arts = Seq(("idx", s"$root/idx"))
        val exec = Maintenance.executeMaintenance(s, arts)
          .head()
        require(exec.getAs[String]("action") == "rebalance" &&
          exec.getAs[Boolean]("executed"),
          s"x189: expected an executed rebalance, got $exec")
        Dedup.probeLshIndex(docs.filter(col("doc_id") % 5 === 0),
            s"$root/idx", "doc_id", "text",
            shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5)
          .select(col("doc_a"), col("doc_b"), col("common"),
            col("size_a"), col("size_b"),
            floor(col("jaccard") * 1000000).cast("long").as("jaccard_x1m"))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH ${minHashPairsBodyFrom("documents", "doc_id", "text",
                 candCond = "l.doc % 5 = 0 AND r.doc % 5 <> 0")}
             |SELECT doc_a, doc_b, common, size_a, size_b,
             |  floor(jac*1000000)::BIGINT AS jaccard_x1m
             |FROM res WHERE jac >= 0.5 ORDER BY doc_a, doc_b""".stripMargin)),

    // ADVISOR-DRIVEN IVF RETRAIN (x190, round-14 verdict #2): the
    // vector family gets the geometry-maintenance loop x189 gave the
    // LSH index — the build records its avg cell-dir bytes in the meta
    // (cell_target_bytes), the census attaches the target to the
    // `vectors` row ONLY (the geometry it was measured on — round-14
    // advisory), the advisor emits `retrain` on 4× drift (cells are
    // codebook-derived, so the remedy is retrainIvfIndex, never a
    // re-hash), and the executor dispatches it in one atomic root swap.
    // The build plants a 1-byte target so the rule trips
    // deterministically; the absorbed +0.5-shifted odd half (x175's
    // planted drift) is the ingest shift a real trip looks like. The
    // query require()s the executed retrain and the post-retrain all-ok
    // advice (the retrain re-measures its target — the drift clock
    // resets); the strict pin is the CONSUMER contract: a probe at
    // nprobe = nlist over the RETRAINED store must answer the exact
    // brute-force cosine top-k — retraining moved every cell assignment
    // and the pruned read path must still find all of them. (At
    // nprobe = nlist the answer is codebook-independent, so the
    // Lloyd-trained centroids need no oracle replay.)
    QueryDef("x190_ivf_retrain_advice",
      (s, d) => {
        val root = s"${ExtensionQueries.idxScratch}/x190_ivf"
        rmTree(root)
        val emb = tbl(s, d, "embeddings")
        val even = emb.filter(col("vec_id") % 2 === 0)
        val drifted = emb.filter(col("vec_id") % 2 === 1)
          .select((col("vec_id") + 100000L).as("vec_id"),
            transform(col("embedding"),
              x => x.cast("double") + lit(0.5)).as("embedding"))
        VectorIndex.buildIvfIndex(even, "vec_id", "embedding",
          s"$root/idx", nlist = 4, cellTargetBytes = 1L)
        VectorIndex.absorbIntoIvfIndex(drifted, "vec_id", "embedding",
          s"$root/idx")
        val arts = Seq(("idx", s"$root/idx"))
        val exec = Maintenance.executeMaintenance(s, arts).head()
        require(exec.getAs[String]("action") == "retrain" &&
          exec.getAs[Boolean]("executed") &&
          exec.getAs[String]("detail") == "retrainIvfIndex",
          s"x190: expected an executed retrain, got $exec")
        val post = ArtifactStore.maintenanceAdvice(
          ArtifactStore.census(s, arts)).head().getAs[String]("action")
        require(post == "ok",
          s"x190: post-retrain advice must be ok, got $post")
        VectorIndex.probeIvfIndex(emb.filter(col("vec_id") < 10),
            s"$root/idx", "vec_id", "embedding", k = 10, nprobe = 4)
          .select(col("query_id"), col("rank"), col("neighbor_id"),
            floor(col("cosine") * 1000000).cast("long").as("cosine_x1m"))
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH v AS (SELECT vec_id,
             |    list_transform(embedding, x -> x::DOUBLE) AS vec
             |  FROM embeddings),
             |allv AS (
             |  SELECT vec_id, vec FROM v WHERE vec_id % 2 = 0
             |  UNION ALL
             |  SELECT vec_id + 100000,
             |    list_transform(vec, x -> x + 0.5)
             |  FROM v WHERE vec_id % 2 = 1),
             |q AS (SELECT vec_id AS query_id, vec AS qv FROM v
             |  WHERE vec_id < 10)
             |SELECT query_id, rank, neighbor_id, cosine_x1m FROM (
             |  SELECT q.query_id, a.vec_id AS neighbor_id,
             |    floor(${dkCosine("q.qv", "a.vec")} * 1000000)::BIGINT
             |      AS cosine_x1m,
             |    row_number() OVER (PARTITION BY q.query_id
             |      ORDER BY ${dkCosine("q.qv", "a.vec")} DESC, a.vec_id)
             |      AS rank
             |  FROM q CROSS JOIN allv a
             |  WHERE q.query_id <> a.vec_id) r
             |WHERE rank <= 10
             |ORDER BY query_id, rank""".stripMargin))
  )

  /** x164/x165 shared oracle: the full IVF lifecycle recomputed
    * declaratively — frozen codebook from the base (% 4 != 0) slice,
    * EVERY vector assigned to it (base and absorbed alike), queries
    * probing their 2 nearest cells, exact cosine top-10 over the cells'
    * vectors restricted to `searchableCond` (x165 filters out the
    * retracted slice; the codebook is never filtered).
    */
  private def ivfLifecycleOracle(searchableCond: String): String =
    s"""WITH v AS (SELECT vec_id,
       |    list_transform(embedding, x -> x::DOUBLE) AS vec
       |  FROM embeddings),
       |cb AS (SELECT vec_id AS cid, vec AS centroid FROM v
       |  WHERE vec_id % 4 <> 0 ORDER BY vec_id LIMIT 8),
       |cells AS (SELECT vec_id AS neighbor_id, vec AS cv, cid AS cell
       |  FROM (SELECT c.vec_id, c.vec, cb.cid,
       |      row_number() OVER (PARTITION BY c.vec_id
       |        ORDER BY ${dkCosine("c.vec", "cb.centroid")} DESC, cb.cid)
       |        AS rn
       |    FROM v c CROSS JOIN cb WHERE $searchableCond) a
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, vec AS qv FROM v
       |  WHERE vec_id < 10),
       |probes AS (SELECT query_id, qv, cell FROM (
       |    SELECT q.query_id, q.qv, cb.cid AS cell,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY ${dkCosine("q.qv", "cb.centroid")} DESC, cb.cid)
       |        AS pr
       |    FROM q CROSS JOIN cb) p
       |  WHERE pr <= 2)
       |SELECT query_id, rank, neighbor_id, cosine_x1m FROM (
       |  SELECT query_id, neighbor_id,
       |    floor(${dkCosine("p.qv", "c.cv")} * 1000000)::BIGINT
       |      AS cosine_x1m,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY ${dkCosine("p.qv", "c.cv")} DESC, c.neighbor_id)
       |      AS rank
       |  FROM probes p JOIN cells c USING (cell)
       |  WHERE p.query_id <> c.neighbor_id) r
       |WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin

  /** x152/x153 shared oracle: the FULL canonical-labels rebuild over all
    * documents — verified MinHash pairs at the production 3/16/4/0.5
    * parameters, recursive connected components, min-id canonical.
    */
  private lazy val fullLabelsOracle: String =
    s"""WITH RECURSIVE ${minHashPairsBodyFrom("documents", "doc_id", "text")},
       |pairs AS (SELECT doc_a, doc_b FROM res WHERE jac >= 0.5),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(a, b) AS (
       |  SELECT doc, doc FROM toks
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |canon AS (SELECT a AS doc, min(b) AS canonical_id
       |  FROM reach GROUP BY a)
       |SELECT doc, canonical_id, (doc = canonical_id) AS is_keeper
       |FROM canon ORDER BY doc""".stripMargin

  /** x157/x157b shared oracle source: the corpus with the retracted
    * slice removed — the full rebuild the component-bounded retraction
    * must be indistinguishable from.
    */
  // a def, not a val: the lazy oracles below evaluate during `all`'s
  // initialization, which runs BEFORE vals declared after it
  private def retractedSrc =
    "(SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 3)"

  private lazy val retractLabelsOracle: String =
    s"""WITH RECURSIVE ${minHashPairsBodyFrom(retractedSrc, "doc_id", "text")},
       |pairs AS (SELECT doc_a, doc_b FROM res WHERE jac >= 0.5),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(a, b) AS (
       |  SELECT doc, doc FROM toks
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |canon AS (SELECT a AS doc, min(b) AS canonical_id
       |  FROM reach GROUP BY a)
       |SELECT doc, canonical_id, (doc = canonical_id) AS is_keeper
       |FROM canon ORDER BY doc""".stripMargin

  private lazy val pairsAfterRetractOracle: String =
    s"""WITH ${minHashPairsBodyFrom(retractedSrc, "doc_id", "text")}
       |SELECT doc_a, doc_b, common, size_a, size_b,
       |  floor(jac*1000000)::BIGINT AS jaccard_x1m
       |FROM res WHERE jac >= 0.5 ORDER BY doc_a, doc_b""".stripMargin

  /** Recursive file-tree copy/delete for the in-place absorb chain's
    * per-evaluation scratch (driver-side, artifact-sized — the same
    * class of staging the streaming queries do with their chunk dirs).
    */
  // staging I/O pool: the two-geometry bases are ~2k files, and copying
  // (or deleting) them one at a time from the driver thread measured
  // 0.4-0.6 s per staging event (`Probe copy`, sf0.1) — pure sequential
  // syscall latency, inside the mutation twins' timed bodies and the
  // headliners' per-sample bench setup. A small shared pool turns both
  // walks into concurrent per-file work; destinations are disjoint
  // paths, so order is irrelevant.
  private lazy val stagingPool = java.util.concurrent.Executors
    .newFixedThreadPool(16,
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger()
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-staging-${n.getAndIncrement()}")
          t.setDaemon(true); t
        }
      })
  private def inStagingPool[A](work: Seq[() => A]): Unit = {
    import scala.jdk.CollectionConverters._
    val tasks = work.map(w => new java.util.concurrent.Callable[A] {
      def call(): A = w()
    })
    stagingPool.invokeAll(tasks.asJava).asScala.foreach(_.get())
  }
  private[queries] def rmTree(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    val root = new java.io.File(path)
    // subtrees (the bucket dirs) delete concurrently; the root last
    Option(root.listFiles()).foreach(kids =>
      inStagingPool(kids.toSeq.map(k => () => rm(k))))
    root.delete(); ()
  }
  private def copyTree(src: String, dst: String): Unit = {
    val s = java.nio.file.Paths.get(src)
    val t = java.nio.file.Paths.get(dst)
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(s)
    // walk is parent-before-child, so creating every dir first makes
    // the file copies order-free
    val (dirs, files) = (try walk.iterator().asScala.toVector
      finally walk.close())
      .partition(java.nio.file.Files.isDirectory(_))
    dirs.foreach(p =>
      java.nio.file.Files.createDirectories(
        t.resolve(s.relativize(p).toString)))
    inStagingPool(files.map(p => () => {
      java.nio.file.Files.copy(p, t.resolve(s.relativize(p).toString),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    }))
    // a raw copy over a (reused) scratch root is the documented
    // meta-cache escape hatch — and the substore SCHEMA cache shares
    // it (round-15 advisory): a stale schema entry would silently read
    // the fresh files through the old schema, dropping any columns a
    // newer base generation added, instead of failing. Invalidate the
    // destination root after every copy.
    graft.operators.ArtifactStore.invalidateMeta(
      org.apache.spark.sql.SparkSession.active, dst)
  }
}
