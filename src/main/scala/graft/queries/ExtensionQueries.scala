package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.Portable
import graft.operators.{ArtifactStore, AsOfJoin, Curation, Dedup, Graph, Layout, Multimodal, Profile, Quantize, RangeJoin, Retrieval, Sequence, Similarity, Skew, TextAnalysis, TimeSeries, VectorIndex}
import graft.queries.QueryDef.tbl
import graft.streaming.StreamOps

/** The training-data-pipeline extension operators (SURVEY.md §7.5 /
  * BASELINE.json north star) as oracle-checked queries over `documents`,
  * `embeddings`, and `events`. Every oracle reproduces the Spark
  * computation exactly (shared portable primitives — see
  * graft.functions.Portable), so these are full hash checks, not smoke
  * tests.
  */
object ExtensionQueries {

  private val P = Portable.P

  /** DuckDB twin of Portable.hash56. */
  private[queries] def dkHash56(expr: String) = s"('0x'||substr(md5($expr),1,14))::BIGINT"

  /** DuckDB word-k-shingle CTEs over an arbitrary `(id, text)` source —
    * chunk-level dedup (x32) reuses the document-level logic verbatim.
    */
  private[queries] def dkShinglesFrom(src: String, id: String, text: String, k: Int,
      pfx: String = "") =
    s"""${pfx}toks AS (
       |  SELECT $id AS doc, string_split_regex(lower($text), '\\s+') AS toks
       |  FROM $src),
       |${pfx}sh AS (
       |  SELECT DISTINCT doc, unnest(list_transform(range(1, greatest(len(toks)-${k - 1},1)+1),
       |    i -> array_to_string(list_slice(toks, i, i+${k - 1}), ' '))) AS shingle
       |  FROM ${pfx}toks),
       |${pfx}hs AS (SELECT doc, ${dkHash56("shingle")} AS h FROM ${pfx}sh)""".stripMargin

  private def dkShingles(k: Int) = dkShinglesFrom("documents", "doc_id", "text", k)

  /** JVM-stable scratch root for queries that persist an LSH index as part
    * of their own definition (x70/x108/x110): ONE directory per JVM,
    * reused with overwrite-mode writes, so repeated Verify/Bench/PlanSpec
    * evaluations don't orphan a fresh index tree per invocation; a
    * shutdown hook deletes it on JVM exit. (The streaming queries keep
    * per-invocation temp dirs on purpose — a reused versioned-snapshot
    * root would leak state BETWEEN runs and change their results.)
    *
    * SINGLE-THREADED-EVALUATION ASSUMPTION: these queries mutate shared
    * on-disk index state (buildLshIndex overwrite = delete-then-write), so
    * two of them evaluating concurrently in one JVM could race a rebuild
    * against a probe read. Safe today — suites fork and queries evaluate
    * sequentially in Verify/Bench/tests; a future parallel evaluator must
    * give each thread its own scratch root.
    */
  private[queries] lazy val idxScratch: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-idx-scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir.toFile)
    }))
    dir.toString
  }

  /** Build-once-per-(JVM, sf-dir) canonical-label artifact
    * (Dedup.buildCanonicalLabels) for the consumer queries (x111): the
    * first evaluation pays the corpus-wide LSH + canonicalize build, every
    * later evaluation reads the stored labels — which is the deployment
    * contract the artifact exists for (build per corpus generation, then
    * every report consumes it). Bench's min-of-warm therefore times the
    * CONSUMER cost, with the build visible in the cold column.
    */
  private val labelsBuilt = scala.collection.mutable.Set[String]()
  private def canonicalLabelsFor(s: org.apache.spark.sql.SparkSession,
      d: String): String = labelsBuilt.synchronized {
    val path = s"$idxScratch/labels_${Integer.toHexString(d.hashCode)}"
    if (!labelsBuilt(path)) {
      Dedup.buildCanonicalLabels(tbl(s, d, "documents"), "doc_id", "text",
        path, shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5)
      labelsBuilt += path
    }
    path
  }

  /** Spec/probe access to the per-(JVM, sf-dir) label artifact path. */
  private[graft] def labelsPathForSpec(s: org.apache.spark.sql.SparkSession,
      d: String): String = canonicalLabelsFor(s, d)

  /** Build-once-per-(JVM, sf-dir) BPE vocabulary artifact
    * (TextAnalysis.buildBpeVocab, 3 merges) — same contract as
    * `canonicalLabelsFor`: the first evaluation pays the training
    * loop + store write, every later one encodes from the store, which
    * is the deployment shape the artifact exists for. Bench warm runs
    * therefore time the CONSUMER, with the build in the cold column.
    */
  private val bpeVocabBuilt = scala.collection.mutable.Set[String]()
  private def bpeVocabFor(s: org.apache.spark.sql.SparkSession,
      d: String): String = bpeVocabBuilt.synchronized {
    val path = s"$idxScratch/bpevocab_${Integer.toHexString(d.hashCode)}"
    if (!bpeVocabBuilt(path)) {
      TextAnalysis.buildBpeVocab(tbl(s, d, "documents"), "text",
        steps = 3, path = path)
      bpeVocabBuilt += path
    }
    path
  }

  /** Build-once-per-(JVM, sf-dir) full-corpus LSH index
    * (Dedup.buildLshIndex, production 3/16/4 parameters) — the PAIR
    * family's shared artifact (x117b): stored features + banded buckets,
    * consumed by `Dedup.pairsFromLshIndex` with zero re-shingling. Same
    * build-on-first-use contract as `canonicalLabelsFor`.
    */
  private val lshIdxBuilt = scala.collection.mutable.Set[String]()
  private[queries] def lshIndexFor(s: org.apache.spark.sql.SparkSession,
      d: String): String = lshIdxBuilt.synchronized {
    val path = s"$idxScratch/lshidx_${Integer.toHexString(d.hashCode)}"
    if (!lshIdxBuilt(path)) {
      Dedup.buildLshIndex(tbl(s, d, "documents"), "doc_id", "text", path,
        shingleSize = 3, numHashes = 16, bands = 4)
      lshIdxBuilt += path
    }
    path
  }

  /** Build-once-per-(JVM, sf-dir) per-source LENGTH histogram artifact
    * (Profile.buildHistogramArtifact at width 1 — the lossless per-unit
    * fold) — the drift monitor's shared artifact (x92b): the first
    * evaluation pays one documents scan to fold (source, length(text))
    * histograms; every later evaluation — and the returned QUERY PLAN
    * itself — reads only the artifact. Null-text rows are excluded at
    * the fold (histogramShard drops null cents; x92b's oracle carries
    * the matching filter). Same build-on-first-use contract as
    * `canonicalLabelsFor`.
    */
  private val lenHistBuilt = scala.collection.mutable.Set[String]()
  private[queries] def lengthHistogramFor(s: org.apache.spark.sql.SparkSession,
      d: String): String = lenHistBuilt.synchronized {
    val path = s"$idxScratch/lenhist_${Integer.toHexString(d.hashCode)}"
    if (!lenHistBuilt(path)) {
      Profile.buildHistogramArtifact(
        tbl(s, d, "documents").select(col("source"), col("text")),
        "source", length(col("text")), widthCents = 1L, path = path)
      lenHistBuilt += path
    }
    path
  }

  // ---- dedup ----

  /** MinHash-LSH pair CTE chain (no leading WITH so callers can prepend
    * WITH or WITH RECURSIVE); ends with `res(doc_a, doc_b, common, size_a,
    * size_b, jac)`. */
  private[queries] def minHashPairsBodyFrom(src: String, id: String, text: String,
      candCond: String = "l.doc < r.doc", pfx: String = ""): String = {
    val numHashes = 16; val bands = 4; val r = numHashes / bands
    val minhashExprs = (0 until numHashes).map(i =>
      s"min((${Portable.coeffA(i)} * (h % $P) + ${Portable.coeffB(i)}) % $P) AS m$i")
      .mkString(",\n    ")
    val bandRows = (0 until bands).map { b =>
      val parts = (b * r until (b + 1) * r).map(i => s"m$i").mkString(", ")
      s"  SELECT doc, $b AS band, concat_ws('_', $parts) AS sig FROM ${pfx}sig"
    }.mkString("\n  UNION ALL\n")
    s"""${dkShinglesFrom(src, id, text, 3, pfx)},
       |${pfx}sig AS (SELECT doc,
       |    $minhashExprs
       |  FROM ${pfx}hs GROUP BY doc),
       |${pfx}bucket AS (
       |$bandRows),
       |${pfx}cand AS (SELECT DISTINCT l.doc AS doc_a, r.doc AS doc_b
       |  FROM ${pfx}bucket l JOIN ${pfx}bucket r ON l.band = r.band AND l.sig = r.sig AND $candCond),
       |${pfx}sizes AS (SELECT doc, count(*) AS sz FROM ${pfx}hs GROUP BY doc),
       |${pfx}com AS (SELECT c.doc_a, c.doc_b, count(*) AS common FROM ${pfx}cand c
       |  JOIN ${pfx}hs fa ON c.doc_a = fa.doc
       |  JOIN ${pfx}hs fb ON c.doc_b = fb.doc AND fa.h = fb.h
       |  GROUP BY 1, 2),
       |${pfx}res AS (SELECT com.doc_a, com.doc_b, common, sa.sz AS size_a, sb.sz AS size_b,
       |    common::DOUBLE / (sa.sz + sb.sz - common)::DOUBLE AS jac
       |  FROM ${pfx}com com JOIN ${pfx}sizes sa ON com.doc_a = sa.doc JOIN ${pfx}sizes sb ON com.doc_b = sb.doc)""".stripMargin
  }

  private val minHashPairsBody: String =
    minHashPairsBodyFrom("documents", "doc_id", "text")

  /** Dup-cluster census oracle — shared verbatim by x105 (labels computed
    * in-plan) and x105b (labels read from the stored artifact): the two
    * queries are the same report by construction.
    */
  private lazy val censusOracle: String =
    s"""WITH RECURSIVE $minHashPairsBody,
       |prs AS (SELECT doc_a, doc_b FROM res WHERE jac >= 0.5),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM prs
       |  UNION SELECT doc_b, doc_a FROM prs),
       |reach(a, b) AS (
       |  SELECT doc, doc FROM toks
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |canon AS (SELECT a AS doc, min(b) AS cid FROM reach GROUP BY a),
       |cs AS (SELECT cid, count(*)::BIGINT AS size FROM canon GROUP BY 1)
       |SELECT size, count(*)::BIGINT AS clusters
       |FROM cs GROUP BY 1 ORDER BY size""".stripMargin

  private val minHashOracle: String =
    s"""WITH $minHashPairsBody
       |SELECT doc_a, doc_b, common, size_a, size_b, floor(jac*1000000)::BIGINT AS jaccard_x1m
       |FROM res WHERE jac >= 0.5 ORDER BY doc_a, doc_b""".stripMargin

  /** Canonicalization oracle: the same pair table, closed transitively with
    * a recursive CTE; canonical id = min reachable doc id. */
  private val canonicalizeOracle: String =
    s"""WITH RECURSIVE $minHashPairsBody,
       |pairs AS (SELECT doc_a, doc_b FROM res WHERE jac >= 0.5),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(a, b) AS (
       |  SELECT doc, doc FROM toks
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
       |SELECT a AS doc, min(b) AS canonical_id, (min(b) = a) AS is_keeper
       |FROM reach GROUP BY a ORDER BY doc""".stripMargin

  /** SimHash pair CTEs (s-prefixed names so they compose with
    * minHashPairsBody in one WITH clause); exposes `shres` =
    * (doc_a, doc_b, hamming) for all chunk-colliding pairs.
    */
  private val simHashPairsBody: String = {
    val bits = Dedup.SimHashBits; val chunks = 4; val chunkBits = bits / chunks
    s"""stok AS (
       |  SELECT doc_id AS doc, unnest(string_split_regex(lower(text), '\\s+')) AS tok
       |  FROM documents),
       |sth AS (SELECT doc, ${dkHash56("tok")} AS h FROM stok),
       |sbits AS (SELECT doc, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM sth CROSS JOIN (SELECT unnest(range(0, $bits)) AS j) GROUP BY doc, j),
       |ssig AS (SELECT doc, sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS simhash
       |  FROM sbits GROUP BY doc),
       |schunked AS (SELECT doc, simhash, c, (simhash >> (c * $chunkBits)) & ${(1L << chunkBits) - 1} AS v
       |  FROM ssig CROSS JOIN (SELECT unnest(range(0, $chunks)) AS c)),
       |scand AS (SELECT DISTINCT l.doc AS doc_a, r.doc AS doc_b,
       |    l.simhash AS sa, r.simhash AS sb
       |  FROM schunked l JOIN schunked r ON l.c = r.c AND l.v = r.v AND l.doc < r.doc),
       |shres AS (SELECT doc_a, doc_b, bit_count(xor(sa, sb)) AS hamming FROM scand)""".stripMargin
  }

  private val simHashOracle: String =
    s"""WITH $simHashPairsBody
       |SELECT doc_a, doc_b, hamming FROM shres
       |WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin

  private val ngramOracle: String = {
    val n = 12
    s"""WITH g0 AS (
       |  SELECT doc_id AS doc, lower(text) AS t FROM documents),
       |grams AS (
       |  SELECT DISTINCT doc, unnest(list_transform(range(1, greatest(length(t)-${n - 1},1)+1),
       |    i -> substr(t, i, $n))) AS gram
       |  FROM g0),
       |feat AS (SELECT doc, ${dkHash56("gram")} AS feature FROM grams),
       |fc AS (SELECT feature, count(*) AS c FROM feat GROUP BY 1),
       |fk AS (SELECT f.doc, f.feature FROM feat f JOIN fc USING (feature)
       |  WHERE fc.c <= 256),
       |cand AS (SELECT DISTINCT l.doc AS doc_a, r.doc AS doc_b
       |  FROM fk l JOIN fk r ON l.feature = r.feature AND l.doc < r.doc),
       |sizes AS (SELECT doc, count(*) AS sz FROM feat GROUP BY doc),
       |com AS (SELECT c.doc_a, c.doc_b, count(*) AS common FROM cand c
       |  JOIN feat fa ON c.doc_a = fa.doc
       |  JOIN feat fb ON c.doc_b = fb.doc AND fa.feature = fb.feature
       |  GROUP BY 1, 2),
       |res AS (SELECT com.doc_a, com.doc_b, common, sa.sz AS size_a, sb.sz AS size_b,
       |    common::DOUBLE / (sa.sz + sb.sz - common)::DOUBLE AS jac
       |  FROM com JOIN sizes sa ON com.doc_a = sa.doc JOIN sizes sb ON com.doc_b = sb.doc)
       |SELECT doc_a, doc_b, common, size_a, size_b, floor(jac*1000000)::BIGINT AS jaccard_x1m
       |FROM res WHERE jac >= 0.5 ORDER BY doc_a, doc_b""".stripMargin
  }

  /** DuckDB twin of Similarity.cosine: sequential folds with a 0.0 seed. */
  private[queries] def dkCosine(a: String, b: String) = {
    def dot(x: String, y: String) =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, len($x)+1), i -> $x[i]*$y[i])), (p,q) -> p+q)"
    s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
  }

  /** DuckDB twin of Dedup.winnowingOverlap at the x125 parameters
    * (k=12, window=8, minShared=8, maxBucket=64) — shared by the
    * declarative (x125) and fused-native-Expression (x125b) queries,
    * whose fingerprints are value-identical by construction.
    */
  private lazy val winnowOracle: String =
    s"""WITH base AS (SELECT doc_id AS doc, lower(text) AS t FROM documents),
       |cp AS (SELECT doc, list_transform(
       |    range(1, greatest(length(t), 1) + 1),
       |    i -> ascii(substr(t, i, 1))::BIGINT) AS cps FROM base),
       |gh AS (SELECT doc, list_transform(
       |    range(1, greatest(len(cps) - 11, 1) + 1),
       |    i -> list_reduce(list_prepend(0::BIGINT, cps[i:i+11]),
       |      (a, c) -> (a * 131 + c) % 1000000000000037)) AS gh FROM cp),
       |fp AS (SELECT doc, unnest(list_distinct(list_transform(
       |    range(1, greatest(len(gh) - 7, 1) + 1),
       |    j -> list_min(gh[j:j+7])))) AS h FROM gh),
       |sizes AS (SELECT doc, count(*) AS sz FROM fp GROUP BY 1),
       |hc AS (SELECT h, count(*) AS c FROM fp GROUP BY 1),
       |hk AS (SELECT fp.doc, fp.h FROM fp JOIN hc USING (h)
       |  WHERE hc.c <= 64),
       |cand AS (SELECT DISTINCT l.doc AS doc_a, r.doc AS doc_b
       |  FROM hk l JOIN hk r ON l.h = r.h AND l.doc < r.doc),
       |com AS (SELECT c.doc_a, c.doc_b, count(*) AS common
       |  FROM cand c JOIN fp fa ON c.doc_a = fa.doc
       |  JOIN fp fb ON c.doc_b = fb.doc AND fa.h = fb.h
       |  GROUP BY 1, 2)
       |SELECT com.doc_a, com.doc_b, common::BIGINT AS common,
       |  sa.sz::BIGINT AS size_a, sb.sz::BIGINT AS size_b
       |FROM com JOIN sizes sa ON com.doc_a = sa.doc
       |JOIN sizes sb ON com.doc_b = sb.doc
       |WHERE common >= 8 ORDER BY doc_a, doc_b""".stripMargin

  /** DuckDB twins of the Spark sequential double folds (aggregate over
    * zip_with): dot product and squared L2 — same left-to-right index
    * order, bit-identical IEEE-754.
    */
  private def dkDot(a: String, b: String) =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, len($a)+1), i -> $a[i]*$b[i])), (p,q) -> p+q)"
  private def dkL2(a: String, b: String) =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, len($a)+1), i -> ($a[i]-$b[i])*($a[i]-$b[i]))), (p,q) -> p+q)"

  /** DuckDB twin of Quantize's exact integer dot (sequential fold, BIGINT
    * accumulator). */
  private def dkIdot(a: String, b: String) =
    s"list_reduce(list_prepend(0::BIGINT, list_transform(range(1, len($a)+1), i -> $a[i]*$b[i])), (p,q) -> p+q)"

  /** DuckDB twin of Quantize.int8 as CTEs ending in
    * `qz(vec_id, q)` — shared by x55/x56. */
  private val dkInt8: String =
    """m AS (
      |  SELECT vec_id, embedding,
      |    CASE WHEN list_max(list_transform(embedding, x -> abs(x))) > 0
      |      THEN 127.0 / list_max(list_transform(embedding, x -> abs(x)))::DOUBLE
      |      ELSE 0.0 END AS scale
      |  FROM embeddings),
      |qz AS (SELECT vec_id,
      |    list_transform(embedding, x -> floor(x::DOUBLE * scale + 0.5)::BIGINT) AS q
      |  FROM m)""".stripMargin

  /** Shared by x08 (broadcast path) and x08c (shuffle/aggregator path):
    * the two plans must produce identical rows, so they share one oracle. */
  private lazy val lshAnnOracle: String =
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec
       |    FROM embeddings),
       |b AS (SELECT vec_id, vec,
       |    (CASE WHEN vec[1] > 0 THEN 1 ELSE 0 END) + (CASE WHEN vec[2] > 0 THEN 2 ELSE 0 END) +
       |    (CASE WHEN vec[3] > 0 THEN 4 ELSE 0 END) + (CASE WHEN vec[4] > 0 THEN 8 ELSE 0 END) +
       |    (CASE WHEN vec[5] > 0 THEN 16 ELSE 0 END) + (CASE WHEN vec[6] > 0 THEN 32 ELSE 0 END) +
       |    (CASE WHEN vec[7] > 0 THEN 64 ELSE 0 END) + (CASE WHEN vec[8] > 0 THEN 128 ELSE 0 END)
       |      AS bucket
       |  FROM v),
       |q AS (SELECT vec_id AS query_id, vec AS qv, bucket FROM b WHERE vec_id < 10),
       |scored AS (SELECT query_id, c.vec_id AS neighbor_id,
       |    ${dkCosine("qv", "c.vec")} AS cosine
       |  FROM q JOIN b c USING (bucket) WHERE query_id <> c.vec_id),
       |ranked AS (SELECT query_id, neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id, floor(cosine*1000000)::BIGINT AS cosine_x1m
       |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  // ---- text ----

  /** Language-id CTE chain (t, scored, pred) — shared by x09 and the
    * mixture query x40, which strata on the predicted language.
    */
  private val langIdCtes: String = {
    val hitCols = TextAnalysis.langMarkers.map { case (lang, markers) =>
      val terms = markers.map(m =>
        s"(length(_t) - length(replace(_t, '$m', ''))) // ${m.length}").mkString(" + ")
      s"($terms) AS ${lang}_hits"
    }.mkString(",\n    ")
    val langs = TextAnalysis.langMarkers.map(_._1)
    val cases = langs.map { lang =>
      val geq = langs.filter(_ != lang).map(o => s"${lang}_hits >= ${o}_hits").mkString(" AND ")
      s"WHEN ${lang}_hits > 0 AND $geq THEN '$lang'"
    }.mkString("\n    ")
    s"""t AS (SELECT doc_id, ' ' || lower(text) || ' ' AS _t FROM documents),
       |scored AS (SELECT doc_id,
       |    $hitCols
       |  FROM t),
       |pred AS (SELECT doc_id,
       |    CASE $cases ELSE 'und' END AS predicted_lang
       |  FROM scored)""".stripMargin
  }

  private val langIdOracle: String =
    s"""WITH $langIdCtes
       |SELECT scored.doc_id, en_hits, de_hits, fr_hits, es_hits, zh_hits,
       |  predicted_lang
       |FROM scored JOIN pred USING (doc_id) ORDER BY doc_id""".stripMargin

  // ---- the query list ----

  val all: Seq[QueryDef] = Seq(

    // Exact dedup: hash-groupBy, one shuffle on the digest.
    QueryDef("x01_dedup_exact",
      (s, d) => Dedup.exact(tbl(s, d, "documents"), "doc_id", "text")
        .orderBy("content_hash"),
      Some("""SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id,
             |  count(*) AS dup_count
             |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin)),

    // Normalized-fingerprint dedup (case/whitespace-insensitive).
    QueryDef("x02_dedup_fingerprint",
      (s, d) => Dedup.fingerprint(tbl(s, d, "documents"), "doc_id", "text")
        .orderBy("fingerprint"),
      Some("""SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
             |  min(doc_id) AS keeper_id, count(*) AS dup_count
             |FROM documents GROUP BY 1 ORDER BY fingerprint""".stripMargin)),

    // MinHash + LSH banding near-dup pairs (word 3-shingles, 16 hashes,
    // 4 bands, Jaccard ≥ 0.5) with exact verification.
    QueryDef("x03_dedup_minhash_lsh",
      (s, d) => Dedup.minHashLsh(tbl(s, d, "documents"), "doc_id", "text",
        shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5)
        .select(col("doc_a"), col("doc_b"), col("common"), col("size_a"), col("size_b"),
          floor(col("jaccard") * 1000000).cast("long").as("jaccard_x1m"))
        .orderBy("doc_a", "doc_b"),
      Some(minHashOracle)),

    // SimHash near-dup pairs (48-bit signature, Hamming ≤ 3, pigeonhole
    // chunk blocking).
    QueryDef("x04_dedup_simhash",
      (s, d) => Dedup.simHash(tbl(s, d, "documents"), "doc_id", "text", maxHamming = 3)
        .orderBy("doc_a", "doc_b"),
      Some(simHashOracle)),

    // Exact character-12-gram Jaccard dedup via inverted-index join.
    QueryDef("x05_dedup_ngram_jaccard",
      (s, d) => Dedup.ngramJaccard(tbl(s, d, "documents"), "doc_id", "text",
        n = 12, threshold = 0.5)
        .select(col("doc_a"), col("doc_b"), col("common"), col("size_a"), col("size_b"),
          floor(col("jaccard") * 1000000).cast("long").as("jaccard_x1m"))
        .orderBy("doc_a", "doc_b"),
      Some(ngramOracle)),

    // Embedding-cosine near-dup within label blocks (threshold 0.3 — the
    // synthetic vectors are near-orthogonal, so this keeps the result small
    // but non-trivial).
    QueryDef("x06_dedup_embedding",
      (s, d) => Dedup.embeddingCosine(tbl(s, d, "embeddings"), "vec_id", "embedding",
        "label", threshold = 0.3)
        .select(col("id_a"), col("id_b"),
          floor(col("cosine") * 1000000).cast("long").as("cosine_x1m"))
        .orderBy("id_a", "id_b"),
      Some(s"""WITH v AS (SELECT vec_id, label,
             |    list_transform(embedding, x -> x::DOUBLE) AS vec FROM embeddings),
             |p AS (SELECT l.vec_id AS id_a, r.vec_id AS id_b,
             |    ${dkCosine("l.vec", "r.vec")} AS cosine
             |  FROM v l JOIN v r ON l.label = r.label AND l.vec_id < r.vec_id)
             |SELECT id_a, id_b, floor(cosine*1000000)::BIGINT AS cosine_x1m
             |FROM p WHERE cosine >= 0.3 ORDER BY id_a, id_b""".stripMargin)),

    // Embedding near-dup with sign-LSH blocking (the metadata-free scale
    // path for x06): pairs compared only within the same 8-bit sign bucket.
    QueryDef("x06b_dedup_embedding_lsh",
      (s, d) => Dedup.embeddingCosineLsh(tbl(s, d, "embeddings"), "vec_id", "embedding",
        bits = 8, threshold = 0.3)
        .select(col("id_a"), col("id_b"),
          floor(col("cosine") * 1000000).cast("long").as("cosine_x1m"))
        .orderBy("id_a", "id_b"),
      Some(s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec
             |    FROM embeddings),
             |b AS (SELECT vec_id, vec,
             |    (CASE WHEN vec[1] > 0 THEN 1 ELSE 0 END) + (CASE WHEN vec[2] > 0 THEN 2 ELSE 0 END) +
             |    (CASE WHEN vec[3] > 0 THEN 4 ELSE 0 END) + (CASE WHEN vec[4] > 0 THEN 8 ELSE 0 END) +
             |    (CASE WHEN vec[5] > 0 THEN 16 ELSE 0 END) + (CASE WHEN vec[6] > 0 THEN 32 ELSE 0 END) +
             |    (CASE WHEN vec[7] > 0 THEN 64 ELSE 0 END) + (CASE WHEN vec[8] > 0 THEN 128 ELSE 0 END)
             |      AS blk
             |  FROM v),
             |p AS (SELECT l.vec_id AS id_a, r.vec_id AS id_b,
             |    ${dkCosine("l.vec", "r.vec")} AS cosine
             |  FROM b l JOIN b r ON l.blk = r.blk AND l.vec_id < r.vec_id)
             |SELECT id_a, id_b, floor(cosine*1000000)::BIGINT AS cosine_x1m
             |FROM p WHERE cosine >= 0.3 ORDER BY id_a, id_b""".stripMargin)),

    // Brute-force cosine top-5 for the first 10 vectors (exact ANN
    // baseline).
    QueryDef("x07_ann_bruteforce",
      (s, d) => {
        val emb = tbl(s, d, "embeddings")
        Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "embedding", k = 5)
          .select(col("query_id"), col("rank"), col("neighbor_id"),
            floor(col("cosine") * 1000000).cast("long").as("cosine_x1m"))
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec
             |    FROM embeddings),
             |q AS (SELECT vec_id AS query_id, vec AS qv FROM v WHERE vec_id < 10),
             |scored AS (SELECT query_id, c.vec_id AS neighbor_id,
             |    ${dkCosine("qv", "c.vec")} AS cosine
             |  FROM q CROSS JOIN v c WHERE query_id <> c.vec_id),
             |ranked AS (SELECT query_id, neighbor_id, cosine,
             |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
             |  FROM scored)
             |SELECT query_id, rank, neighbor_id, floor(cosine*1000000)::BIGINT AS cosine_x1m
             |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // Same search through the fused native Catalyst expression
    // (graft.functions.CosineSimilarity, whole-stage codegen) — identical
    // bits, one array pass instead of three; same oracle as x07.
    QueryDef("x07b_ann_native_expr",
      (s, d) => {
        val emb = tbl(s, d, "embeddings")
        Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "embedding", k = 5, scorer = Similarity.cosineNative)
          .select(col("query_id"), col("rank"), col("neighbor_id"),
            floor(col("cosine") * 1000000).cast("long").as("cosine_x1m"))
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec
             |    FROM embeddings),
             |q AS (SELECT vec_id AS query_id, vec AS qv FROM v WHERE vec_id < 10),
             |scored AS (SELECT query_id, c.vec_id AS neighbor_id,
             |    ${dkCosine("qv", "c.vec")} AS cosine
             |  FROM q CROSS JOIN v c WHERE query_id <> c.vec_id),
             |ranked AS (SELECT query_id, neighbor_id, cosine,
             |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
             |  FROM scored)
             |SELECT query_id, rank, neighbor_id, floor(cosine*1000000)::BIGINT AS cosine_x1m
             |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // Sign-bit LSH-bucketed ANN (8 hyperplane bits → 256 buckets): the
    // scale path — candidates shrink ~256×, recall < 1 by construction.
    QueryDef("x08_ann_lsh",
      (s, d) => {
        val emb = tbl(s, d, "embeddings")
        Similarity.lshTopK(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "embedding", k = 3, bits = 8)
          .select(col("query_id"), col("rank"), col("neighbor_id"),
            floor(col("cosine") * 1000000).cast("long").as("cosine_x1m"))
          .orderBy("query_id", "rank")
      },
      Some(lshAnnOracle)),

    // Same ANN semantics through the LARGE-query-side plan: shuffle bucket
    // join (no forced broadcast) + bounded-state TopKDoubleAggregator
    // instead of the row_number window. Same oracle as x08 — the two
    // execution strategies must agree row for row.
    QueryDef("x08c_ann_lsh_shuffle",
      (s, d) => {
        val emb = tbl(s, d, "embeddings")
        Similarity.lshTopK(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "embedding", k = 3, bits = 8, broadcastQueries = false)
          .select(col("query_id"), col("rank"), col("neighbor_id"),
            floor(col("cosine") * 1000000).cast("long").as("cosine_x1m"))
          .orderBy("query_id", "rank")
      },
      Some(lshAnnOracle)),

    // IVF ANN (8 cells, 2 probes): centroid codebook → max_by cell
    // assignment → probe-cell equi-join. The other scale path beside LSH;
    // the oracle rebuilds the same cells and probes in SQL.
    QueryDef("x08b_ann_ivf",
      (s, d) => {
        val emb = tbl(s, d, "embeddings")
        Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "embedding", k = 3, nlist = 8, nprobe = 2)
          .select(col("query_id"), col("rank"), col("neighbor_id"),
            floor(col("cosine") * 1000000).cast("long").as("cosine_x1m"))
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec
             |    FROM embeddings),
             |cb AS (SELECT vec_id AS cid, vec AS centroid FROM v ORDER BY vec_id LIMIT 8),
             |asg AS (SELECT vec_id, vec, cid,
             |    row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
             |  FROM (SELECT v.vec_id, v.vec, cb.cid,
             |      ${dkCosine("v.vec", "cb.centroid")} AS cc
             |    FROM v CROSS JOIN cb)),
             |cells AS (SELECT vec_id AS neighbor_id, vec AS cv, cid AS cell
             |  FROM asg WHERE rn = 1),
             |q AS (SELECT vec_id AS query_id, vec AS qv FROM v WHERE vec_id < 10),
             |probes AS (SELECT query_id, qv, cid AS cell FROM (
             |    SELECT query_id, qv, cid,
             |      row_number() OVER (PARTITION BY query_id ORDER BY qc DESC, cid) AS pr
             |    FROM (SELECT q.query_id, q.qv, cb.cid,
             |        ${dkCosine("q.qv", "cb.centroid")} AS qc
             |      FROM q CROSS JOIN cb))
             |  WHERE pr <= 2),
             |scored AS (SELECT query_id, c.neighbor_id,
             |    ${dkCosine("p.qv", "c.cv")} AS cosine
             |  FROM probes p JOIN cells c USING (cell)
             |  WHERE p.query_id <> c.neighbor_id),
             |ranked AS (SELECT query_id, neighbor_id, cosine,
             |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
             |  FROM scored)
             |SELECT query_id, rank, neighbor_id, floor(cosine*1000000)::BIGINT AS cosine_x1m
             |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)),

    // IVF ANN with a TRAINED codebook: two fixed-point Lloyd k-means
    // iterations refine the seed centroids before the probe. The
    // fixed-point mean (exact long sums of floor(x·2^20), divided back in
    // double space) is order-independent, so the oracle replays training
    // bit-for-bit in SQL — same assignments, same centroids, same final
    // ranking.
    QueryDef("x08d_ann_ivf_trained",
      (s, d) => {
        val emb = tbl(s, d, "embeddings")
        Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "embedding", k = 3, nlist = 8, nprobe = 2,
          trainIterations = 2)
          .select(col("query_id"), col("rank"), col("neighbor_id"),
            floor(col("cosine") * 1000000).cast("long").as("cosine_x1m"))
          .orderBy("query_id", "rank")
      },
      Some {
        // One Lloyd iteration: assign (argmax cosine, ties → smaller cid),
        // explode components, fixed-point mean per (cell, pos), reassemble.
        def lloyd(i: Int, prev: String) =
          s"""a$i AS (SELECT vec_id, vec, cid,
             |    row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
             |  FROM (SELECT v.vec_id, v.vec, $prev.cid,
             |      ${dkCosine("v.vec", s"$prev.centroid")} AS cc
             |    FROM v CROSS JOIN $prev)),
             |e$i AS (SELECT cid AS cell, unnest(range(1, len(vec)+1)) AS pos,
             |    unnest(vec) AS x
             |  FROM a$i WHERE rn = 1),
             |s$i AS (SELECT cell, pos, sum(floor(x * 1048576)::BIGINT) AS s, count(*) AS n
             |  FROM e$i GROUP BY 1, 2),
             |cb$i AS (SELECT cell AS cid,
             |    list(s::DOUBLE / (n * 1048576)::DOUBLE ORDER BY pos) AS centroid
             |  FROM s$i GROUP BY cell)""".stripMargin
        s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec
           |    FROM embeddings),
           |cb0 AS (SELECT vec_id AS cid, vec AS centroid FROM v ORDER BY vec_id LIMIT 8),
           |${lloyd(1, "cb0")},
           |${lloyd(2, "cb1")},
           |asg AS (SELECT vec_id, vec, cid,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
           |  FROM (SELECT v.vec_id, v.vec, cb2.cid,
           |      ${dkCosine("v.vec", "cb2.centroid")} AS cc
           |    FROM v CROSS JOIN cb2)),
           |cells AS (SELECT vec_id AS neighbor_id, vec AS cv, cid AS cell
           |  FROM asg WHERE rn = 1),
           |q AS (SELECT vec_id AS query_id, vec AS qv FROM v WHERE vec_id < 10),
           |probes AS (SELECT query_id, qv, cid AS cell FROM (
           |    SELECT query_id, qv, cid,
           |      row_number() OVER (PARTITION BY query_id ORDER BY qc DESC, cid) AS pr
           |    FROM (SELECT q.query_id, q.qv, cb2.cid,
           |        ${dkCosine("q.qv", "cb2.centroid")} AS qc
           |      FROM q CROSS JOIN cb2))
           |  WHERE pr <= 2),
           |scored AS (SELECT query_id, c.neighbor_id,
           |    ${dkCosine("p.qv", "c.cv")} AS cosine
           |  FROM probes p JOIN cells c USING (cell)
           |  WHERE p.query_id <> c.neighbor_id),
           |ranked AS (SELECT query_id, neighbor_id, cosine,
           |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
           |  FROM scored)
           |SELECT query_id, rank, neighbor_id, floor(cosine*1000000)::BIGINT AS cosine_x1m
           |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
      }),

    // Language id (stopword-marker n-gram heuristic).
    QueryDef("x09_text_langid",
      (s, d) => TextAnalysis.languageId(tbl(s, d, "documents"), "doc_id", "text")
        .select("doc_id", "en_hits", "de_hits", "fr_hits", "es_hits", "zh_hits",
          "predicted_lang")
        .orderBy("doc_id"),
      Some(langIdOracle)),

    // Quality metrics (exact integers).
    QueryDef("x10_text_quality",
      (s, d) => TextAnalysis.qualityScore(tbl(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, length(text) AS chars,
             |  len(string_split_regex(lower(text), '\s+')) AS words,
             |  (100 * length(replace(text, ' ', ''))) //
             |    greatest(len(string_split_regex(lower(text), '\s+')), 1) AS avg_word_len_x100,
             |  length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digits,
             |  length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS punct,
             |  length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS uppercase,
             |  len(list_distinct(string_split_regex(lower(text), '\s+'))) AS distinct_words
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Composite quality gate (keep/drop + inspectable reasons) — the
    // training-data curation filter, exact integer thresholds.
    QueryDef("x10b_text_quality_filter",
      (s, d) => TextAnalysis.qualityFilter(tbl(s, d, "documents"), "doc_id", "text",
        minChars = 60, maxChars = 100000, minWords = 8,
        maxDigitRatioPct = 10, maxPunctRatioPct = 5)
        .select("doc_id", "chars", "words", "digit_ratio_pct", "punct_ratio_pct", "keep")
        .orderBy("doc_id"),
      Some("""WITH m AS (SELECT doc_id, length(text) AS chars,
             |    len(string_split_regex(lower(text), '\s+')) AS words,
             |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digits,
             |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS punct
             |  FROM documents)
             |SELECT doc_id, chars, words,
             |  (100 * digits) // greatest(chars, 1) AS digit_ratio_pct,
             |  (100 * punct) // greatest(chars, 1) AS punct_ratio_pct,
             |  (chars >= 60 AND chars <= 100000 AND words >= 8
             |    AND (100 * digits) // greatest(chars, 1) <= 10
             |    AND (100 * punct) // greatest(chars, 1) <= 5) AS keep
             |FROM m ORDER BY doc_id""".stripMargin)),

    // Token counting: whitespace + BPE-ish lexer regex.
    QueryDef("x11_text_tokencount",
      (s, d) => TextAnalysis.tokenCounts(tbl(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  len(string_split_regex(lower(text), '\s+')) AS ws_tokens,
             |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_ish_tokens,
             |  (100 * length(text)) //
             |    greatest(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')), 1)
             |    AS chars_per_token_x100
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Document fingerprinting: normalized md5 + word-level rolling hash.
    QueryDef("x12_text_fingerprint",
      (s, d) => TextAnalysis.fingerprint(tbl(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
             |  md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
             |  list_reduce(list_prepend(0::BIGINT,
             |    list_transform(string_split_regex(lower(text), '\\s+'),
             |      w -> ${dkHash56("w")} % $P)),
             |    (acc, h) -> (acc * 31 + h) % $P) AS rolling_hash
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Multimodal plumbing: binary media column → typed metadata via a
    // typed mapPartitions decode stage (decode stubbed, plumbing real).
    QueryDef("x13_multimodal_meta",
      (s, d) => Multimodal.extractMeta(s,
        Multimodal.mediaFromDocuments(s, tbl(s, d, "documents")))
        .orderBy("media_id"),
      Some("""SELECT doc_id AS media_id, octet_length(encode(text)) AS byte_length,
             |  md5(text) AS content_md5, 'fake/raw' AS format,
             |  octet_length(encode(text)) % 640 + 1 AS width,
             |  octet_length(encode(text)) % 480 + 1 AS height,
             |  3 AS channels
             |FROM documents ORDER BY media_id""".stripMargin)),

    // Frame sampling (row-exploding mapPartitions stage): 64-byte frames,
    // every 2nd one, with an unsigned-byte-sum checksum per frame. The
    // oracle re-slices the ASCII text with ord(substr(..)).
    QueryDef("x13b_multimodal_frames",
      (s, d) => Multimodal.sampleFrames(s,
        Multimodal.mediaFromDocuments(s, tbl(s, d, "documents")),
        frameSize = 64, stride = 2)
        .orderBy("media_id", "frame_idx"),
      Some("""WITH f AS (
             |  SELECT doc_id, text,
             |    unnest(range(0, ((length(text) + 63) // 64))) AS frame_idx
             |  FROM documents),
             |s AS (SELECT doc_id, frame_idx,
             |    least(64, length(text) - frame_idx * 64) AS frame_len,
             |    list_reduce(list_prepend(0, list_transform(
             |      range(1, least(64, length(text) - frame_idx * 64) + 1),
             |      i -> ord(substr(text, frame_idx * 64 + i, 1)))), (a, b) -> a + b) AS frame_sum
             |  FROM f WHERE frame_idx % 2 = 0)
             |SELECT doc_id AS media_id, frame_idx::INT AS frame_idx,
             |  frame_len::INT AS frame_len, frame_sum::BIGINT AS frame_sum
             |FROM s ORDER BY media_id, frame_idx""".stripMargin)),

    // Stub 1-D resize (nearest-neighbor byte resample to 128 bytes): 1:1
    // binary-in/binary-out mapPartitions stage; checksum oracle-checked.
    QueryDef("x13c_multimodal_resize",
      (s, d) => Multimodal.resizeStub(s,
        Multimodal.mediaFromDocuments(s, tbl(s, d, "documents")), target = 128)
        .select("media_id", "out_len", "out_sum")
        .orderBy("media_id"),
      Some("""SELECT doc_id AS media_id, 128 AS out_len,
             |  list_reduce(list_prepend(0, list_transform(range(0, 128),
             |    i -> ord(substr(text, ((i * length(text)) // 128) + 1, 1)))),
             |    (a, b) -> a + b)::BIGINT AS out_sum
             |FROM documents WHERE length(text) > 0 ORDER BY media_id""".stripMargin)),

    // Stub feature extraction (byte histogram, 8 buckets) exploded to rows
    // so every bucket count is under the exact oracle check.
    QueryDef("x13d_multimodal_features",
      (s, d) => Multimodal.byteHistogramFeatures(s,
        Multimodal.mediaFromDocuments(s, tbl(s, d, "documents")), buckets = 8)
        .select(col("media_id"), posexplode(col("counts")).as(Seq("bucket", "cnt")))
        .orderBy("media_id", "bucket"),
      Some("""WITH b AS (
             |  SELECT doc_id,
             |    unnest(list_transform(range(1, length(text) + 1),
             |      i -> ord(substr(text, i, 1)) // 32)) AS bucket
             |  FROM documents),
             |c AS (SELECT doc_id, bucket, count(*) AS cnt FROM b GROUP BY 1, 2),
             |g AS (SELECT doc_id, unnest(range(0, 8)) AS bucket FROM documents)
             |SELECT g.doc_id AS media_id, g.bucket::INT AS bucket,
             |  coalesce(c.cnt, 0)::BIGINT AS cnt
             |FROM g LEFT JOIN c ON g.doc_id = c.doc_id AND g.bucket = c.bucket
             |ORDER BY media_id, bucket""".stripMargin)),

    // Structured Streaming windowed aggregation (event time + watermark),
    // checked against the batch-equivalent SQL.
    QueryDef("x14_stream_window_agg",
      // The APPEND-mode drain (round-8): windows finalize + evict at the
      // watermark and append to a parquet sink — the unbounded-safe shape.
      // Same result as the complete-mode windowedEventAgg on a bounded
      // backlog, which the unchanged oracle certifies.
      (s, d) => StreamOps.windowedEventAggAppend(s, s"$d/events.parquet")
        .orderBy("event_type", "window_start"),
      Some("""SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS window_start,
             |  count(*) AS events,
             |  sum((floor(value * 100 + 0.5))::BIGINT)::BIGINT AS sum_cents
             |FROM events GROUP BY 1, 2 ORDER BY event_type, window_start""".stripMargin)),

    // Gap-based sessionization (session_window, 4 h gap) — the oracle
    // rebuilds sessions with the classic gaps-and-islands SQL.
    QueryDef("x15_sessionize",
      (s, d) => StreamOps.sessionize(s, QueryDef.events(s, d), gap = "4 hours")
        .orderBy("user_id", "session_start"),
      Some("""WITH o AS (
             |  SELECT user_id, ts, value,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |           OR ts - lag(ts) OVER w >= INTERVAL 4 HOUR THEN 1 ELSE 0 END AS new_s
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
             |s AS (
             |  SELECT user_id, ts, value,
             |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
             |      ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM o)
             |SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
             |  count(*) AS events, sum((floor(value * 100 + 0.5))::BIGINT)::BIGINT AS sum_cents
             |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin)),

    // Silver-layer JSON flattening (SURVEY.md §7.5): from_json over a raw
    // JSON payload column → typed columns + aggregation, the bronze→silver
    // step for API response bodies.
    QueryDef("x17_json_flatten",
      (s, d) => QueryDef.events(s, d)
        .withColumn("k", from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("events"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy("event_type"),
      Some("""SELECT event_type, count(*) AS events,
             |  sum(CAST(json_extract(props, '$.k') AS INTEGER))::BIGINT AS sum_k,
             |  min(CAST(json_extract(props, '$.k') AS INTEGER)) AS min_k,
             |  max(CAST(json_extract(props, '$.k') AS INTEGER)) AS max_k
             |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // Custom streaming state (mapGroupsWithState): running per-user counts,
    // update-mode memory sink; totals equal the batch aggregation.
    QueryDef("x16_stateful_counts",
      (s, d) => StreamOps.statefulUserCounts(s, s"$d/events.parquet",
        queryName = s"stateful_${System.nanoTime()}")
        .orderBy("user_id"),
      Some("""SELECT user_id, count(*) AS events
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Near-dup canonicalization: minhash pairs → connected components via
    // min-label propagation; each doc maps to its cluster's minimum id.
    // The oracle closes the same pair table with a recursive CTE.
    QueryDef("x19_dedup_canonicalize",
      (s, d) => {
        val docs = tbl(s, d, "documents")
        val pairs = Dedup.minHashLsh(docs, "doc_id", "text",
          shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5)
          .select("doc_a", "doc_b")
        Dedup.canonicalize(docs, "doc_id", pairs).orderBy("doc")
      },
      Some(canonicalizeOracle)),

    // Salted skew join (8-way salt on l_suppkey): result must be IDENTICAL
    // to the plain join — the oracle is the unsalted SQL.
    QueryDef("x18_salted_join",
      (s, d) => Skew.saltedJoin(
        tbl(s, d, "lineitem").select("l_orderkey", "l_suppkey", "l_extendedprice"),
        tbl(s, d, "supplier").select("s_suppkey", "s_name"),
        factKey = "l_suppkey", dimKey = "s_suppkey",
        saltSource = col("l_orderkey"), salt = 8)
        .groupBy("s_name")
        .agg(count(lit(1)).as("items"),
          sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long")).as("revenue_cents"))
        .orderBy("s_name"),
      Some("""SELECT s_name, count(*) AS items,
             |  sum((floor(l_extendedprice*100 + 0.5))::BIGINT)::BIGINT AS revenue_cents
             |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
             |GROUP BY 1 ORDER BY s_name""".stripMargin)),

    // Streaming deduplication: dropDuplicatesWithinWatermark over the event
    // stream, projected to the dedup key — the streaming twin of x01.
    // State is bounded by the watermark horizon; the oracle is batch
    // DISTINCT over the same keys.
    QueryDef("x20_stream_dedup",
      (s, d) => StreamOps.streamingDedup(s, s"$d/events.parquet",
        keyCols = Seq("user_id", "event_type"),
        queryName = s"stream_dedup_${System.nanoTime()}")
        .orderBy("user_id", "event_type"),
      Some("""SELECT DISTINCT user_id, event_type FROM events
             |ORDER BY user_id, event_type""".stripMargin)),

    // Watermarked stream-stream join: purchase stream × view stream within
    // a 6-hour attribution window, both sides unbounded. The time-range
    // condition + per-side watermarks bound the join state (Spark evicts
    // buffered rows past watermark + lag); the oracle is the equivalent
    // batch interval join.
    QueryDef("x34_stream_stream_join",
      (s, d) => StreamOps.streamStreamJoin(s, s"$d/events.parquet",
        maxLag = "6 HOUR", queryName = s"stream_ssj_${System.nanoTime()}")
        .select(col("p_user").as("user_id"), col("p_event"), col("v_event"),
          date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss").as("p_ts"),
          date_format(col("v_ts"), "yyyy-MM-dd HH:mm:ss").as("v_ts"))
        .orderBy("user_id", "p_event", "v_event"),
      Some("""SELECT p.user_id, p.event_id AS p_event, v.event_id AS v_event,
             |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS p_ts,
             |  strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS v_ts
             |FROM events p JOIN events v
             |  ON p.user_id = v.user_id AND p.event_type = 'purchase'
             |  AND v.event_type = 'view'
             |  AND v.ts >= p.ts - INTERVAL 6 HOUR AND v.ts <= p.ts
             |ORDER BY 1, 2, 3""".stripMargin)),

    // Custom typed Aggregator: bounded-memory top-k per group (k-capped
    // merge state + map-side partial agg — the 100 TB path where a window
    // row_number would sort entire groups). Oracle = the window formulation.
    QueryDef("x22_topk_aggregator",
      (s, d) => {
        val topk = graft.functions.TopKAggregator.topK(5)
        QueryDef.events(s, d)
          .withColumn("v", floor(col("value") * 100 + 0.5).cast("long"))
          .groupBy("event_type")
          .agg(topk(col("event_id"), col("v")).as("top"))
          .select(col("event_type"), posexplode(col("top")))
          .select(col("event_type"), (col("pos") + 1).cast("int").as("rank"),
            col("col._1").as("event_id"), col("col._2").as("value_cents"))
          .orderBy("event_type", "rank")
      },
      Some("""SELECT event_type, rank, event_id, value_cents FROM (
             |  SELECT event_type, event_id, (floor(value*100 + 0.5))::BIGINT AS value_cents,
             |    row_number() OVER (PARTITION BY event_type
             |      ORDER BY (floor(value*100 + 0.5))::BIGINT DESC, event_id)::INT AS rank
             |  FROM events)
             |WHERE rank <= 5 ORDER BY event_type, rank""".stripMargin)),

    // Text cleaning (curation normalization pass): tag strip + whitespace
    // collapse + trim, byte-exact against the oracle's regex twins.
    QueryDef("x24_text_clean",
      (s, d) => TextAnalysis.clean(tbl(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  trim(regexp_replace(regexp_replace(text, '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g')) AS cleaned,
             |  length(trim(regexp_replace(regexp_replace(text, '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g')))::INT AS cleaned_len
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Key-based upsert (the MERGE WHEN MATCHED UPDATE / NOT MATCHED INSERT
    // subset): updates win on key collision, unmatched base rows survive.
    // One anti-join shuffle; updates broadcast under AQE when small.
    QueryDef("x25_upsert_by_key",
      (s, d) => {
        val base = tbl(s, d, "orders").select(col("o_orderkey"),
          col("o_orderstatus"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("price_cents"))
        val updates = tbl(s, d, "orders").filter(col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
            floor(col("o_totalprice") * 200 + 0.5).cast("long").as("price_cents"))
        graft.operators.Merge.upsertByKey(base, updates, "o_orderkey")
          .orderBy("o_orderkey")
      },
      Some("""WITH updates AS (
             |  SELECT o_orderkey, 'U' AS o_orderstatus,
             |    (floor(o_totalprice*200 + 0.5))::BIGINT AS price_cents
             |  FROM orders WHERE o_orderkey % 7 = 0),
             |base AS (
             |  SELECT o_orderkey, o_orderstatus,
             |    (floor(o_totalprice*100 + 0.5))::BIGINT AS price_cents
             |  FROM orders)
             |SELECT * FROM updates
             |UNION ALL
             |SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
             |ORDER BY o_orderkey""".stripMargin)),

    // Detector-agreement analytics (dedup-tuning evaluation): how do the
    // MinHash-LSH and SimHash candidate sets overlap? Full outer join of
    // the two pair tables → (both, minhash_only, simhash_only) counts.
    QueryDef("x26_detector_agreement",
      (s, d) => {
        val docs = tbl(s, d, "documents")
        val mh = Dedup.minHashLsh(docs, "doc_id", "text",
          shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5)
          .select(col("doc_a").as("m_a"), col("doc_b").as("m_b"))
        val sh = Dedup.simHash(docs, "doc_id", "text", maxHamming = 3)
          .select(col("doc_a").as("s_a"), col("doc_b").as("s_b"))
        mh.join(sh, col("m_a") === col("s_a") && col("m_b") === col("s_b"), "full_outer")
          .agg(
            sum(when(col("m_a").isNotNull && col("s_a").isNotNull, 1L).otherwise(0L)).as("both_pairs"),
            sum(when(col("m_a").isNotNull && col("s_a").isNull, 1L).otherwise(0L)).as("minhash_only"),
            sum(when(col("m_a").isNull && col("s_a").isNotNull, 1L).otherwise(0L)).as("simhash_only"))
      },
      Some(s"""WITH $minHashPairsBody,
             |$simHashPairsBody,
             |mhpairs AS (SELECT doc_a, doc_b FROM res WHERE jac >= 0.5),
             |shpairs AS (SELECT doc_a, doc_b FROM shres WHERE hamming <= 3)
             |SELECT
             |  sum(CASE WHEN m.doc_a IS NOT NULL AND s.doc_a IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS both_pairs,
             |  sum(CASE WHEN m.doc_a IS NOT NULL AND s.doc_a IS NULL THEN 1 ELSE 0 END)::BIGINT AS minhash_only,
             |  sum(CASE WHEN m.doc_a IS NULL AND s.doc_a IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS simhash_only
             |FROM mhpairs m FULL OUTER JOIN shpairs s
             |  ON m.doc_a = s.doc_a AND m.doc_b = s.doc_b""".stripMargin)),

    // Deterministic hash sampling: the seedless 20%-slice that is the SAME
    // 20% on every rerun, partitioning, and engine — reproducible dev
    // slices of a 100 TB corpus. Pure pushed-down filter, no shuffle.
    QueryDef("x27_deterministic_sample",
      (s, d) => TextAnalysis.deterministicSample(
        tbl(s, d, "documents"), "doc_id", keep = 20, outOf = 100)
        .select("doc_id")
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id FROM documents
             |WHERE ${dkHash56("doc_id::VARCHAR")} % 100 < 20
             |ORDER BY doc_id""".stripMargin)),

    // Backward as-of join (AsOfJoin.backward — union+window, ONE
    // shuffle+sort, no join): each purchase picks up the latest
    // at-or-before view value per user. The oracle mirrors the same
    // union trick in SQL (portable, no ASOF dialect dependence).
    QueryDef("x28_asof_join",
      (s, d) => {
        val ev = QueryDef.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select("user_id", "ts", "event_id")
        val views = ev.filter(col("event_type") === "view")
          .groupBy("user_id", "ts").agg(max("value").as("view_value"))
        AsOfJoin.backward(purchases, views, "user_id", "ts", Seq("view_value"))
          .select(col("user_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
            col("event_id"),
            date_format(col("asof_ts"), "yyyy-MM-dd HH:mm:ss").as("view_ts"),
            floor(col("asof_view_value") * 100 + 0.5).cast("long").as("view_cents"))
          .orderBy("user_id", "ts", "event_id")
      },
      Some("""WITH p AS (SELECT user_id, ts, event_id FROM events
             |  WHERE event_type = 'purchase'),
             |v AS (SELECT user_id, ts, max(value) AS view_value FROM events
             |  WHERE event_type = 'view' GROUP BY 1, 2),
             |u AS (
             |  SELECT user_id, ts, event_id, NULL::TIMESTAMP AS r_ts,
             |    NULL::DOUBLE AS r_v, 1 AS il FROM p
             |  UNION ALL
             |  SELECT user_id, ts, NULL, ts, view_value, 0 FROM v),
             |w AS (SELECT user_id, ts, event_id, il,
             |    last_value(r_ts IGNORE NULLS) OVER win AS view_ts,
             |    last_value(r_v IGNORE NULLS) OVER win AS view_value
             |  FROM u WINDOW win AS (PARTITION BY user_id ORDER BY ts, il
             |    ROWS UNBOUNDED PRECEDING))
             |SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts, event_id,
             |  strftime(view_ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
             |  (floor(view_value * 100 + 0.5))::BIGINT AS view_cents
             |FROM w WHERE il = 1 ORDER BY user_id, ts, event_id""".stripMargin)),

    // Forward as-of join (AsOfJoin.forward — same union+window plan with
    // the time axis reversed): each purchase picks up the EARLIEST
    // at-or-after view value per user (the "next quote" direction pandas
    // merge_asof and DuckDB ASOF both offer). The views side is
    // pre-aggregated on (user_id, ts) one line above, so this entry also
    // exercises the validateUnique=false single-shuffle plan.
    QueryDef("x28b_asof_join_forward",
      (s, d) => {
        val ev = QueryDef.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select("user_id", "ts", "event_id")
        val views = ev.filter(col("event_type") === "view")
          .groupBy("user_id", "ts").agg(max("value").as("view_value"))
        AsOfJoin.forward(purchases, views, "user_id", "ts", Seq("view_value"),
            validateUnique = false)
          .select(col("user_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
            col("event_id"),
            date_format(col("asof_ts"), "yyyy-MM-dd HH:mm:ss").as("view_ts"),
            floor(col("asof_view_value") * 100 + 0.5).cast("long").as("view_cents"))
          .orderBy("user_id", "ts", "event_id")
      },
      Some("""WITH p AS (SELECT user_id, ts, event_id FROM events
             |  WHERE event_type = 'purchase'),
             |v AS (SELECT user_id, ts, max(value) AS view_value FROM events
             |  WHERE event_type = 'view' GROUP BY 1, 2),
             |u AS (
             |  SELECT user_id, ts, event_id, NULL::TIMESTAMP AS r_ts,
             |    NULL::DOUBLE AS r_v, 1 AS il FROM p
             |  UNION ALL
             |  SELECT user_id, ts, NULL, ts, view_value, 0 FROM v),
             |w AS (SELECT user_id, ts, event_id, il,
             |    last_value(r_ts IGNORE NULLS) OVER win AS view_ts,
             |    last_value(r_v IGNORE NULLS) OVER win AS view_value
             |  FROM u WINDOW win AS (PARTITION BY user_id ORDER BY ts DESC, il
             |    ROWS UNBOUNDED PRECEDING))
             |SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts, event_id,
             |  strftime(view_ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
             |  (floor(view_value * 100 + 0.5))::BIGINT AS view_cents
             |FROM w WHERE il = 1 ORDER BY user_id, ts, event_id""".stripMargin)),

    // As-of join with a staleness bound (pandas merge_asof `tolerance`):
    // matches older than 1 hour are nulled out as a post-window projection
    // — same single-shuffle plan as x28b, plus the bound a production
    // feature join always carries (a quote from last week must not price
    // today's trade).
    QueryDef("x28c_asof_join_tolerance",
      (s, d) => {
        val ev = QueryDef.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select("user_id", "ts", "event_id")
        val views = ev.filter(col("event_type") === "view")
          .groupBy("user_id", "ts").agg(max("value").as("view_value"))
        AsOfJoin.backward(purchases, views, "user_id", "ts", Seq("view_value"),
            validateUnique = false, tolerance = Some(expr("INTERVAL 1 HOUR")))
          .select(col("user_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
            col("event_id"),
            date_format(col("asof_ts"), "yyyy-MM-dd HH:mm:ss").as("view_ts"),
            floor(col("asof_view_value") * 100 + 0.5).cast("long").as("view_cents"))
          .orderBy("user_id", "ts", "event_id")
      },
      Some("""WITH p AS (SELECT user_id, ts, event_id FROM events
             |  WHERE event_type = 'purchase'),
             |v AS (SELECT user_id, ts, max(value) AS view_value FROM events
             |  WHERE event_type = 'view' GROUP BY 1, 2),
             |u AS (
             |  SELECT user_id, ts, event_id, NULL::TIMESTAMP AS r_ts,
             |    NULL::DOUBLE AS r_v, 1 AS il FROM p
             |  UNION ALL
             |  SELECT user_id, ts, NULL, ts, view_value, 0 FROM v),
             |w AS (SELECT user_id, ts, event_id, il,
             |    last_value(r_ts IGNORE NULLS) OVER win AS view_ts,
             |    last_value(r_v IGNORE NULLS) OVER win AS view_value
             |  FROM u WINDOW win AS (PARTITION BY user_id ORDER BY ts, il
             |    ROWS UNBOUNDED PRECEDING))
             |SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts, event_id,
             |  CASE WHEN view_ts >= ts - INTERVAL 1 HOUR
             |    THEN strftime(view_ts, '%Y-%m-%d %H:%M:%S') END AS view_ts,
             |  CASE WHEN view_ts >= ts - INTERVAL 1 HOUR
             |    THEN (floor(view_value * 100 + 0.5))::BIGINT END AS view_cents
             |FROM w WHERE il = 1 ORDER BY user_id, ts, event_id""".stripMargin)),

    // Bucketized point-in-interval range join (RangeJoin.pointInInterval):
    // lineitem ship-days against 91-day order windows, then a per-interval
    // rollup. The oracle uses the direct inequality join — the bucketed
    // plan must reproduce it exactly.
    QueryDef("x29_range_join",
      (s, d) => {
        val points = tbl(s, d, "lineitem")
          .filter(col("l_orderkey") % 89 === 0)
          .select(col("l_orderkey"), col("l_linenumber"),
            datediff(col("l_shipdate").cast("date"), lit("1970-01-01").cast("date"))
              .cast("long").as("ship_day"))
        val intervals = tbl(s, d, "orders")
          .filter(col("o_orderkey") % 97 === 0)
          .select(col("o_orderkey"),
            datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
              .cast("long").as("start_day"))
          .withColumn("end_day", col("start_day") + 90)
        RangeJoin.pointInInterval(points, intervals,
            "ship_day", "start_day", "end_day", bucketWidth = 64)
          .groupBy("o_orderkey")
          .agg(count(lit(1)).as("pts"), min("ship_day").as("first_day"),
            max("ship_day").as("last_day"))
          .orderBy("o_orderkey")
      },
      Some("""WITH p AS (SELECT l_orderkey, l_linenumber,
             |    date_diff('day', DATE '1970-01-01', l_shipdate::DATE)::BIGINT AS ship_day
             |  FROM lineitem WHERE l_orderkey % 89 = 0),
             |i AS (SELECT o_orderkey,
             |    date_diff('day', DATE '1970-01-01', o_orderdate::DATE)::BIGINT AS start_day
             |  FROM orders WHERE o_orderkey % 97 = 0)
             |SELECT o_orderkey, count(*)::BIGINT AS pts, min(ship_day)::BIGINT AS first_day,
             |  max(ship_day)::BIGINT AS last_day
             |FROM i JOIN p ON ship_day BETWEEN start_day AND start_day + 90
             |GROUP BY 1 ORDER BY o_orderkey""".stripMargin)),

    // Interval × interval overlap join (RangeJoin.intervalOverlap): 91-day
    // order windows of one order slice against 45-day windows of another,
    // each overlapping pair emitted exactly once from its canonical
    // first-shared bucket. The oracle uses the direct inequality join —
    // the bucketized plan must reproduce it exactly.
    QueryDef("x29b_interval_overlap",
      (s, d) => {
        def windows(modulus: Int, span: Int, prefix: String) =
          tbl(s, d, "orders")
            .filter(col("o_orderkey") % modulus === 0)
            .select(col("o_orderkey").as(s"${prefix}_key"),
              datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
                .cast("long").as(s"${prefix}_start"))
            .withColumn(s"${prefix}_end", col(s"${prefix}_start") + span)
        RangeJoin.intervalOverlap(
            windows(97, 90, "a"), windows(89, 44, "b"),
            "a_start", "a_end", "b_start", "b_end", bucketWidth = 64)
          .select(col("a_key"), col("b_key"),
            (least(col("a_end"), col("b_end")) -
              greatest(col("a_start"), col("b_start")) + 1).as("overlap_days"))
          .orderBy("a_key", "b_key")
      },
      Some("""WITH a AS (SELECT o_orderkey AS a_key,
             |    date_diff('day', DATE '1970-01-01', o_orderdate::DATE)::BIGINT AS a_start
             |  FROM orders WHERE o_orderkey % 97 = 0),
             |b AS (SELECT o_orderkey AS b_key,
             |    date_diff('day', DATE '1970-01-01', o_orderdate::DATE)::BIGINT AS b_start
             |  FROM orders WHERE o_orderkey % 89 = 0)
             |SELECT a_key, b_key,
             |  (least(a_start + 90, b_start + 44) - greatest(a_start, b_start) + 1)::BIGINT
             |    AS overlap_days
             |FROM a JOIN b ON a_start <= b_start + 44 AND b_start <= a_start + 90
             |ORDER BY a_key, b_key""".stripMargin)),

    // Sliding-window chunking (TextAnalysis.chunk — map-only, no shuffle):
    // 40-token windows advancing by 30 (10-token overlap). The oracle
    // regenerates every chunk with DuckDB list slicing — text, index, and
    // token count all hash-checked.
    QueryDef("x30_doc_chunking",
      (s, d) => TextAnalysis.chunk(tbl(s, d, "documents"), "doc_id", "text",
          window = 40, stride = 30)
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          col("chunk_text"), col("chunk_tokens"))
        .orderBy("doc_id", "chunk_idx"),
      Some("""WITH t AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
             |  FROM documents),
             |n AS (SELECT doc_id, toks,
             |    CASE WHEN len(toks) <= 40 THEN 1
             |         ELSE 1 + CAST(ceil((len(toks) - 40)::DOUBLE / 30) AS INT) END AS nc
             |  FROM t),
             |c AS (SELECT doc_id, toks, unnest(range(0, nc)) AS chunk_idx FROM n)
             |SELECT doc_id, chunk_idx,
             |  array_to_string(toks[chunk_idx*30+1 : chunk_idx*30+40], ' ') AS chunk_text,
             |  len(toks[chunk_idx*30+1 : chunk_idx*30+40])::BIGINT AS chunk_tokens
             |FROM c ORDER BY doc_id, chunk_idx""".stripMargin)),

    // Corpus token-frequency head (the Zipf table): explode → count →
    // global top-50 via orderBy+limit, which plans TakeOrderedAndProject
    // (per-partition top-k, k-sized merge on the driver — never a full
    // global sort).
    QueryDef("x31_token_frequency",
      (s, d) => tbl(s, d, "documents")
        .select(explode(Portable.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(50),
      Some("""SELECT t AS token, count(*)::BIGINT AS n
             |FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS t
             |      FROM documents)
             |GROUP BY 1 ORDER BY n DESC, token LIMIT 50""".stripMargin)),

    // End-to-end curation composition — THE 100 TB training-data pipeline
    // shape, as one dataflow: clean → chunk (40/30 sliding windows) →
    // chunk-level MinHash-LSH near-dup drop (keep-lowest chunk id) →
    // quality gate → per-doc survival summary. Every stage is an existing
    // operator; this entry proves they compose without glue shuffles
    // (clean and chunk are map-only; dedup adds its own equi-joins; the
    // drop anti-join broadcasts the small pair set under AQE).
    QueryDef("x32_curation_pipeline",
      (s, d) => {
        val cleaned = TextAnalysis.clean(tbl(s, d, "documents"), "doc_id", "text")
        val chunks = TextAnalysis.chunk(cleaned, "doc_id", "cleaned",
            window = 40, stride = 30)
          .withColumn("chunk_id", col("doc_id") * 1000 + col("chunk_idx"))
        val dupPairs = Dedup.minHashLsh(chunks, "chunk_id", "chunk_text",
          shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5)
        val surviving = chunks.join(
          dupPairs.select(col("doc_b").as("chunk_id")).distinct(),
          Seq("chunk_id"), "left_anti")
        val kept = TextAnalysis.qualityFilter(surviving, "chunk_id", "chunk_text",
            minChars = 50, maxChars = 100000, minWords = 5,
            maxDigitRatioPct = 30, maxPunctRatioPct = 20)
          .filter(col("keep"))
          .withColumn("doc_id", expr("chunk_id div 1000"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("kept_chunks"), sum("words").cast("long").as("kept_words"))
        chunks.groupBy("doc_id").agg(count(lit(1)).as("total_chunks"))
          .join(kept, Seq("doc_id"), "left")
          .select(col("doc_id"), col("total_chunks"),
            coalesce(col("kept_chunks"), lit(0L)).as("kept_chunks"),
            coalesce(col("kept_words"), lit(0L)).as("kept_words"))
          .orderBy("doc_id")
      },
      Some {
        val cleanExpr =
          "trim(regexp_replace(regexp_replace(text, '<[^>]*>', ' ', 'g'), '\\s+', ' ', 'g'))"
        s"""WITH cl AS (SELECT doc_id, $cleanExpr AS cleaned FROM documents),
           |ctoks AS (SELECT doc_id, string_split_regex(lower(cleaned), '\\s+') AS ctk FROM cl),
           |nch AS (SELECT doc_id, ctk,
           |    CASE WHEN len(ctk) <= 40 THEN 1
           |         ELSE 1 + CAST(ceil((len(ctk) - 40)::DOUBLE / 30) AS INT) END AS nc
           |  FROM ctoks),
           |chk AS (SELECT doc_id, ctk, unnest(range(0, nc)) AS chunk_idx FROM nch),
           |chunks AS (SELECT doc_id, chunk_idx, doc_id*1000 + chunk_idx AS chunk_id,
           |    array_to_string(ctk[chunk_idx*30+1 : chunk_idx*30+40], ' ') AS chunk_text
           |  FROM chk),
           |${minHashPairsBodyFrom("chunks", "chunk_id", "chunk_text")},
           |dropped AS (SELECT DISTINCT doc_b AS chunk_id FROM res WHERE jac >= 0.5),
           |surv AS (SELECT c.* FROM chunks c LEFT JOIN dropped d USING (chunk_id)
           |  WHERE d.chunk_id IS NULL),
           |q AS (SELECT doc_id, length(chunk_text) AS chars,
           |    len(string_split_regex(lower(chunk_text), '\\s+')) AS words,
           |    length(chunk_text) - length(regexp_replace(chunk_text, '[0-9]', '', 'g')) AS digits,
           |    length(chunk_text) - length(regexp_replace(chunk_text, '[.,!?;:]', '', 'g')) AS punct
           |  FROM surv),
           |kept AS (SELECT doc_id, count(*) AS kept_chunks, sum(words)::BIGINT AS kept_words
           |  FROM q
           |  WHERE chars >= 50 AND chars <= 100000 AND words >= 5
           |    AND (100 * digits) // greatest(chars, 1) <= 30
           |    AND (100 * punct) // greatest(chars, 1) <= 20
           |  GROUP BY doc_id),
           |tot AS (SELECT doc_id, count(*) AS total_chunks FROM chunks GROUP BY doc_id)
           |SELECT t.doc_id, total_chunks,
           |  coalesce(kept_chunks, 0)::BIGINT AS kept_chunks,
           |  coalesce(kept_words, 0)::BIGINT AS kept_words
           |FROM tot t LEFT JOIN kept k USING (doc_id) ORDER BY doc_id""".stripMargin
      }),

    // Benchmark decontamination: a deterministic 10% hash-slice of the
    // corpus stands in for the eval set; every remaining doc is scored by
    // distinct-5-gram overlap against the eval set's (broadcast) shingle
    // hashes. The near-dup pairs the dedup family finds straddle the split,
    // so real contamination shows up.
    QueryDef("x35_decontamination",
      (s, d) => {
        val docs = tbl(s, d, "documents")
        val split = Portable.hash56(col("doc_id").cast("string")) % 10
        Curation.decontaminate(
          docs.filter(split =!= 0), docs.filter(split === 0),
          "doc_id", "text", shingleSize = 5, thresholdPct = 20)
          .orderBy("doc_id")
      },
      Some(s"""WITH ev AS (SELECT doc_id, text FROM documents
             |    WHERE ${dkHash56("doc_id::VARCHAR")} % 10 = 0),
             |co AS (SELECT doc_id, text FROM documents
             |    WHERE ${dkHash56("doc_id::VARCHAR")} % 10 <> 0),
             |ctoks AS (SELECT doc_id AS doc, string_split_regex(lower(text), '\\s+') AS toks
             |  FROM co),
             |csh AS (SELECT DISTINCT doc, unnest(list_transform(range(1, greatest(len(toks)-4,1)+1),
             |    i -> array_to_string(list_slice(toks, i, i+4), ' '))) AS shingle
             |  FROM ctoks),
             |chs AS (SELECT DISTINCT doc, ${dkHash56("shingle")} AS h FROM csh),
             |etoks AS (SELECT string_split_regex(lower(text), '\\s+') AS toks FROM ev),
             |esh AS (SELECT DISTINCT unnest(list_transform(range(1, greatest(len(toks)-4,1)+1),
             |    i -> array_to_string(list_slice(toks, i, i+4), ' '))) AS shingle
             |  FROM etoks),
             |ehs AS (SELECT DISTINCT ${dkHash56("shingle")} AS h FROM esh),
             |tot AS (SELECT doc, count(*)::BIGINT AS total_shingles FROM chs GROUP BY doc),
             |mat AS (SELECT doc, count(*)::BIGINT AS matched_shingles
             |  FROM chs JOIN ehs USING (h) GROUP BY doc)
             |SELECT t.doc AS doc_id, total_shingles,
             |  coalesce(matched_shingles, 0)::BIGINT AS matched_shingles,
             |  (100 * coalesce(matched_shingles, 0)) // greatest(total_shingles, 1) AS overlap_pct,
             |  (100 * coalesce(matched_shingles, 0)) // greatest(total_shingles, 1) >= 20
             |    AS contaminated
             |FROM tot t LEFT JOIN mat m ON t.doc = m.doc ORDER BY doc_id""".stripMargin)),

    // Repetition / boilerplate detection (Gopher-style): modal-2-gram
    // dominance and repeated-2-gram mass per doc, exact integer percents.
    QueryDef("x36_repetition",
      (s, d) => Curation.repetitionStats(tbl(s, d, "documents"), "doc_id", "text", n = 2)
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id AS doc, string_split_regex(lower(text), '\s+') AS toks
             |  FROM documents),
             |g AS (SELECT doc, unnest(list_transform(range(1, greatest(len(toks)-1,1)+1),
             |    i -> array_to_string(list_slice(toks, i, i+1), ' '))) AS shingle
             |  FROM t),
             |c AS (SELECT doc, shingle, count(*) AS cnt FROM g GROUP BY doc, shingle),
             |a AS (SELECT doc, sum(cnt)::BIGINT AS total_ngrams,
             |    count(*)::BIGINT AS distinct_ngrams, max(cnt)::BIGINT AS top_ngram_count
             |  FROM c GROUP BY doc)
             |SELECT doc AS doc_id, total_ngrams, distinct_ngrams, top_ngram_count,
             |  (100 * top_ngram_count) // greatest(total_ngrams, 1) AS top_ngram_pct,
             |  (100 * (total_ngrams - distinct_ngrams)) // greatest(total_ngrams, 1)
             |    AS dup_ngram_pct
             |FROM a ORDER BY doc_id""".stripMargin)),

    // PII detection + redaction. Deterministic synthetic PII is appended to
    // every 7th doc IN BOTH ENGINES so the regex match-and-replace path is
    // actually exercised (the synthetic corpus carries no organic PII) —
    // counts AND the redacted text itself are hash-compared.
    QueryDef("x37_pii_redaction",
      (s, d) => {
        val seeded = tbl(s, d, "documents").select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 7 === 0,
              concat(lit(" Contact user"), col("doc_id").cast("string"),
                lit("@example.com or 10.0."), (col("doc_id") % 256).cast("string"),
                lit(".77, tel 555-"),
                lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-1234.")))
              .otherwise(lit(""))).as("text"))
        Curation.redactPii(seeded, "doc_id", "text").orderBy("doc_id")
      },
      Some(s"""WITH seeded AS (SELECT doc_id, text ||
             |    CASE WHEN doc_id % 7 = 0
             |      THEN ' Contact user' || doc_id::VARCHAR || '@example.com or 10.0.' ||
             |        (doc_id % 256)::VARCHAR || '.77, tel 555-' ||
             |        lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-1234.'
             |      ELSE '' END AS text
             |  FROM documents)
             |SELECT doc_id,
             |  len(regexp_extract_all(text, '${Curation.EmailRe}')) AS emails,
             |  len(regexp_extract_all(text, '${Curation.Ipv4Re}')) AS ips,
             |  len(regexp_extract_all(text, '${Curation.PhoneRe}')) AS phones,
             |  regexp_replace(regexp_replace(regexp_replace(text,
             |    '${Curation.EmailRe}', '<EMAIL>', 'g'),
             |    '${Curation.Ipv4Re}', '<IP>', 'g'),
             |    '${Curation.PhoneRe}', '<PHONE>', 'g') AS redacted
             |FROM seeded ORDER BY doc_id""".stripMargin)),

    // Training-sequence packing (concat-and-chunk): documents laid end to
    // end per hash-shard and cut into 256-token sequences; one row per
    // (doc, sequence) occupancy. The oracle replays the same shard +
    // running-sum arithmetic.
    QueryDef("x38_sequence_packing",
      (s, d) => Curation.packSequences(tbl(s, d, "documents"), "doc_id", "text",
          capacity = 256, numShards = 8)
        .orderBy("doc_id", "seq_id"),
      Some(s"""WITH b AS (SELECT doc_id,
             |    len(string_split_regex(lower(text), '\\s+'))::BIGINT AS doc_tokens,
             |    (${dkHash56("doc_id::VARCHAR")} % 8)::INT AS shard
             |  FROM documents),
             |c AS (SELECT doc_id, shard, doc_tokens,
             |    (sum(doc_tokens) OVER (PARTITION BY shard ORDER BY doc_id
             |      ROWS UNBOUNDED PRECEDING))::BIGINT AS end_off
             |  FROM b),
             |s AS (SELECT doc_id, shard, doc_tokens, end_off,
             |    end_off - doc_tokens AS start_off FROM c),
             |e AS (SELECT doc_id, shard, doc_tokens, start_off, end_off,
             |    unnest(range(start_off // 256, (end_off - 1) // 256 + 1)) AS seq_id
             |  FROM s)
             |SELECT doc_id, shard, seq_id, doc_tokens,
             |  greatest(start_off, seq_id * 256) - seq_id * 256 AS offset_in_seq,
             |  least(end_off, (seq_id + 1) * 256) - greatest(start_off, seq_id * 256)
             |    AS tokens_in_seq
             |FROM e ORDER BY doc_id, seq_id""".stripMargin)),

    // Corpus-informed rarity: global token document-frequency table joined
    // back per doc — the two-pass corpus-statistics pattern (TF-IDF
    // building block), exact integers.
    QueryDef("x39_rarity_score",
      (s, d) => Curation.rarityScore(tbl(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH dt AS (SELECT DISTINCT doc_id,
             |    unnest(string_split_regex(lower(text), '\s+')) AS token
             |  FROM documents),
             |dfreq AS (SELECT token, count(*)::BIGINT AS df FROM dt GROUP BY token)
             |SELECT doc_id, count(*)::BIGINT AS distinct_tokens,
             |  sum(df)::BIGINT AS df_sum,
             |  (100 * sum(df)::BIGINT) // greatest(count(*)::BIGINT, 1) AS mean_df_x100
             |FROM dt JOIN dfreq USING (token)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Data mixture: language-stratified deterministic sampling (en 60% /
    // de 30% / rest 10%) + per-language epoch weights (en×1, de×2, und
    // dropped, other langs ×3) — the sampling/mixing knobs of a training
    // run, fully reproducible because the slice is hash-deterministic.
    QueryDef("x40_data_mixture",
      (s, d) => {
        val lang = TextAnalysis.languageId(tbl(s, d, "documents"), "doc_id", "text")
          .select(col("doc_id"), col("predicted_lang"))
        val sampled = Curation.stratifiedSample(lang, "doc_id", "predicted_lang",
          rates = Map("en" -> 60, "de" -> 30), defaultRate = 10)
        Curation.replicateByWeight(sampled, "predicted_lang",
          weights = Map("en" -> 1, "de" -> 2, "und" -> 0), defaultWeight = 3)
          .orderBy("doc_id", "copy")
      },
      Some(s"""WITH $langIdCtes,
             |sampled AS (SELECT doc_id, predicted_lang FROM pred
             |  WHERE ${dkHash56("doc_id::VARCHAR")} % 100 <
             |    CASE predicted_lang WHEN 'en' THEN 60 WHEN 'de' THEN 30 ELSE 10 END),
             |w AS (SELECT doc_id, predicted_lang,
             |    CASE predicted_lang WHEN 'en' THEN 1 WHEN 'de' THEN 2
             |      WHEN 'und' THEN 0 ELSE 3 END AS wt
             |  FROM sampled)
             |SELECT doc_id, predicted_lang, unnest(range(1, wt + 1))::INT AS copy
             |FROM w WHERE wt >= 1 ORDER BY doc_id, copy""".stripMargin)),

    // Streaming curation: the continuous-ingest twin of the batch curation
    // family — documents stream in as files, each micro-batch is
    // PII-scrubbed then quality-gated on the redacted text. Map-only,
    // stateless, append-mode; the oracle is the batch equivalent.
    QueryDef("x41_stream_curation",
      (s, d) => StreamOps.streamingCuration(s, s"$d/documents.parquet",
          queryName = "graft_x41", minChars = 60, minWords = 8)
        .orderBy("doc_id"),
      Some(s"""WITH red AS (SELECT doc_id,
             |    len(regexp_extract_all(text, '${Curation.EmailRe}')) AS emails,
             |    len(regexp_extract_all(text, '${Curation.Ipv4Re}')) AS ips,
             |    len(regexp_extract_all(text, '${Curation.PhoneRe}')) AS phones,
             |    regexp_replace(regexp_replace(regexp_replace(text,
             |      '${Curation.EmailRe}', '<EMAIL>', 'g'),
             |      '${Curation.Ipv4Re}', '<IP>', 'g'),
             |      '${Curation.PhoneRe}', '<PHONE>', 'g') AS redacted
             |  FROM documents)
             |SELECT doc_id, emails, ips, phones,
             |  length(redacted) AS chars,
             |  len(string_split_regex(lower(redacted), '\\s+')) AS words
             |FROM red
             |WHERE length(redacted) >= 60
             |  AND len(string_split_regex(lower(redacted), '\\s+')) >= 8
             |ORDER BY doc_id""".stripMargin)),

    // Per-language quality quota: keep the 10 highest-scoring docs per
    // predicted language ("best N per source"), selected with the
    // bounded-state TopKAggregator — per-group state is k entries and
    // merges map-side, so the shuffle carries languages × k rows, never a
    // whole group sorted through a window (x22's contract applied to the
    // curation use case). Score = words·1000 + distinct words, exact ints.
    QueryDef("x42_quality_quota",
      (s, d) => {
        val docs = tbl(s, d, "documents")
        val lang = TextAnalysis.languageId(docs, "doc_id", "text")
          .select(col("doc_id"), col("predicted_lang"))
        val scored = docs.select(col("doc_id"),
          (size(Portable.tokens(col("text"))) * 1000 +
            size(array_distinct(Portable.tokens(col("text"))))).cast("long").as("score"))
        val topk = graft.functions.TopKAggregator.topK(10)
        lang.join(scored, Seq("doc_id"))
          .groupBy("predicted_lang")
          .agg(topk(col("doc_id"), col("score")).as("top"))
          .select(col("predicted_lang"), posexplode(col("top")))
          .select(col("predicted_lang"), (col("pos") + 1).cast("int").as("rank"),
            col("col._1").as("doc_id"), col("col._2").as("score"))
          .orderBy("predicted_lang", "rank")
      },
      Some(s"""WITH $langIdCtes,
             |q AS (SELECT doc_id,
             |    (len(string_split_regex(lower(text), '\\s+')) * 1000 +
             |     len(list_distinct(string_split_regex(lower(text), '\\s+'))))::BIGINT AS score
             |  FROM documents)
             |SELECT predicted_lang, rank, doc_id, score FROM (
             |  SELECT predicted_lang, p.doc_id AS doc_id, score,
             |    row_number() OVER (PARTITION BY predicted_lang
             |      ORDER BY score DESC, p.doc_id)::INT AS rank
             |  FROM pred p JOIN q ON p.doc_id = q.doc_id)
             |WHERE rank <= 10 ORDER BY predicted_lang, rank""".stripMargin)),

    // Corpus card: the per-(source, language) release report every dataset
    // ships — doc counts, exact-duplicate collapse (distinct text hashes),
    // token mass, mean length — with ROLLUP subtotals per source and a
    // grand total, all in ONE aggregation pass (b05's Expand guarantee).
    // Uses the documents table's real source/lang columns.
    QueryDef("x43_corpus_report",
      (s, d) => {
        tbl(s, d, "documents").createOrReplaceTempView("x43_docs")
        s.sql("""SELECT coalesce(source, 'ALL') AS source,
                |  coalesce(lang, 'ALL') AS lang,
                |  count(*) AS docs,
                |  count(DISTINCT md5(text)) AS distinct_texts,
                |  sum(cast(size(split(lower(text), '\\s+')) AS BIGINT)) AS total_tokens,
                |  sum(length(text)) div count(*) AS mean_chars
                |FROM x43_docs
                |GROUP BY ROLLUP(source, lang)
                |ORDER BY source, lang""".stripMargin)
      },
      Some("""SELECT coalesce(source, 'ALL') AS source,
             |  coalesce(lang, 'ALL') AS lang,
             |  count(*)::BIGINT AS docs,
             |  count(DISTINCT md5(text))::BIGINT AS distinct_texts,
             |  sum(len(string_split_regex(lower(text), '\s+')))::BIGINT AS total_tokens,
             |  sum(length(text))::BIGINT // count(*) AS mean_chars
             |FROM documents
             |GROUP BY ROLLUP(source, lang) ORDER BY source, lang""".stripMargin)),

    // Per-label embedding centroids — the cluster-audit aggregate of an
    // embedding table (labels = the embeddings table's real label column).
    // Components are quantized to 1e-6 integers BEFORE summing (float →
    // double cast is exact, double×1e6 floor is deterministic), so the
    // centroid arithmetic is exact integer math in both engines — no
    // float-summation-order drift. One posexplode (dim-bounded) + one
    // (label, dim) aggregation: scales as rows × dim, map-side combined.
    QueryDef("x44_label_centroids",
      (s, d) => tbl(s, d, "embeddings")
        .select(col("label"),
          expr("transform(embedding, x -> cast(floor(cast(x AS double) * 1000000) AS bigint))")
            .as("q"))
        .select(col("label"), posexplode(col("q")))
        .groupBy("label", "pos")
        .agg(sum("col").as("s"), count(lit(1)).as("n"))
        .select(col("label"), col("pos"), col("n"),
          expr("div(s, n)").as("centroid_x1m"))
        .orderBy("label", "pos"),
      Some("""WITH q AS (SELECT label,
             |    list_transform(embedding, x -> floor(x::DOUBLE * 1000000)::BIGINT) AS q
             |  FROM embeddings),
             |e AS (SELECT label, i - 1 AS pos, q[i] AS v
             |  FROM (SELECT label, q, unnest(range(1, len(q) + 1)) AS i FROM q))
             |SELECT label, pos::INT AS pos, count(*)::BIGINT AS n,
             |  sum(v)::BIGINT // count(*)::BIGINT AS centroid_x1m
             |FROM e GROUP BY label, pos ORDER BY label, pos""".stripMargin)),

    // Cross-source duplication matrix: MinHash-LSH near-dup pairs
    // attributed to the (source, source) combination of their endpoints —
    // the corpus forensics that shows WHICH sources mirror each other
    // (unordered source pair via least/greatest, so each combination is
    // one row). Reuses x03's candidate machinery; the joins back to the
    // source column are doc-id equi-joins.
    QueryDef("x45_source_dup_matrix",
      (s, d) => {
        val docs = tbl(s, d, "documents")
        val pairs = Dedup.minHashLsh(docs, "doc_id", "text",
          shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5)
          .select("doc_a", "doc_b")
        val src = docs.select(col("doc_id"), col("source"))
        pairs
          .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), Seq("doc_a"))
          .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), Seq("doc_b"))
          .select(least(col("sa"), col("sb")).as("source_1"),
            greatest(col("sa"), col("sb")).as("source_2"))
          .groupBy("source_1", "source_2").agg(count(lit(1)).as("dup_pairs"))
          .orderBy("source_1", "source_2")
      },
      Some(s"""WITH $minHashPairsBody,
             |pairs AS (SELECT doc_a, doc_b FROM res WHERE jac >= 0.5),
             |lab AS (SELECT least(da.source, db.source) AS source_1,
             |    greatest(da.source, db.source) AS source_2
             |  FROM pairs
             |  JOIN documents da ON pairs.doc_a = da.doc_id
             |  JOIN documents db ON pairs.doc_b = db.doc_id)
             |SELECT source_1, source_2, count(*)::BIGINT AS dup_pairs
             |FROM lab GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Nearest-centroid confusion matrix — the embedding-quality audit that
    // pairs with x44: every vector is assigned to its nearest label
    // centroid (exact integer squared distance in the 1e-6 quantized
    // space; ties break on the smaller label) and the (true label,
    // assigned label) counts show cluster separability. Centroids are FEW
    // (one per label) — the assignment join is a broadcast, the corpus
    // never shuffles for it; the same shape IVF uses for cell assignment.
    QueryDef("x46_centroid_confusion",
      (s, d) => {
        val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("label"),
          expr("transform(embedding, x -> cast(floor(cast(x AS double) * 1000000) AS bigint))")
            .as("q"))
        val cent = emb.select(col("label").as("clabel"), posexplode(col("q")))
          .groupBy("clabel", "pos")
          .agg(sum("col").as("s"), count(lit(1)).as("n"))
          .groupBy("clabel")
          .agg(expr("transform(array_sort(collect_list(struct(pos, s div n AS c))), x -> x.c)")
            .as("cvec"))
        val dist = emb.crossJoin(broadcast(cent))
          .select(col("vec_id"), col("label"), col("clabel"),
            expr("aggregate(zip_with(q, cvec, (a, b) -> (a - b) * (a - b)), 0L, (acc, v) -> acc + v)")
              .as("dist"))
        dist.groupBy("vec_id", "label")
          .agg(min(struct(col("dist"), col("clabel"))).as("m"))
          .select(col("label"), col("m.clabel").as("assigned"))
          .groupBy("label", "assigned").agg(count(lit(1)).as("n"))
          .orderBy("label", "assigned")
      },
      Some("""WITH q AS (SELECT vec_id, label,
             |    list_transform(embedding, x -> floor(x::DOUBLE * 1000000)::BIGINT) AS q
             |  FROM embeddings),
             |e AS (SELECT label AS clabel, i - 1 AS pos, q[i] AS v
             |  FROM (SELECT label, q, unnest(range(1, len(q) + 1)) AS i FROM q)),
             |cc AS (SELECT clabel, pos, sum(v)::BIGINT // count(*)::BIGINT AS c
             |  FROM e GROUP BY clabel, pos),
             |cent AS (SELECT clabel, list(c ORDER BY pos) AS cvec FROM cc GROUP BY clabel),
             |d AS (SELECT vec_id, label, clabel,
             |    list_reduce(list_prepend(0::BIGINT,
             |      list_transform(range(1, len(q) + 1), i -> (q[i] - cvec[i]) * (q[i] - cvec[i]))),
             |      (a, b) -> a + b) AS dist
             |  FROM q CROSS JOIN cent),
             |best AS (SELECT vec_id, label, clabel AS assigned FROM (
             |  SELECT vec_id, label, clabel,
             |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, clabel) AS rn
             |  FROM d) WHERE rn = 1)
             |SELECT label, assigned, count(*)::BIGINT AS n
             |FROM best GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Funnel: per-user stage-progression depth through THREE consecutive
    // view → click → purchase conversion cycles (9 stages — deep enough
    // that users spread across depths), greedy earliest-match with each
    // stage strictly after the previously matched event in (ts, event_id)
    // order. One fold per user over a single shuffle — no
    // MATCH_RECOGNIZE, no 8-deep self-join chain like the oracle's
    // formulation (which is the equivalent chained first-occurrence-after
    // definition, generated below).
    QueryDef("x47_funnel",
      (s, d) => Sequence.funnel(QueryDef.events(s, d),
          "user_id", "ts", "event_id", "event_type", funnelStages)
        .groupBy("reached").agg(count(lit(1)).as("users"))
        .orderBy("reached"),
      Some(funnelOracle)),

    // Retention triangle: users bucketed by first-activity week (cohort),
    // counted per (cohort, weeks-since-cohort) — the week-over-week
    // retention report. Two shuffles (first-week per user, then the
    // cohort×week distinct count); ISO Monday weeks in both engines.
    QueryDef("x48_retention_cohorts",
      (s, d) => {
        val ev = QueryDef.events(s, d)
          .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
        val firstWk = ev.groupBy("user_id").agg(min("wk").as("cw"))
        ev.join(firstWk, Seq("user_id"))
          .groupBy(col("cw"), col("wk"))
          .agg(countDistinct("user_id").as("users"))
          .select(date_format(col("cw"), "yyyy-MM-dd").as("cohort_week"),
            expr("div(datediff(wk, cw), 7)").as("offset_weeks"), col("users"))
          .orderBy("cohort_week", "offset_weeks")
      },
      Some("""WITH ev AS (SELECT user_id, date_trunc('week', ts) AS wk FROM events),
             |f AS (SELECT user_id, min(wk) AS cw FROM ev GROUP BY user_id)
             |SELECT strftime(cw, '%Y-%m-%d') AS cohort_week,
             |  date_diff('day', cw, wk) // 7 AS offset_weeks,
             |  count(DISTINCT user_id)::BIGINT AS users
             |FROM ev JOIN f USING (user_id)
             |GROUP BY cw, wk ORDER BY cohort_week, offset_weeks""".stripMargin)),

    // Distinctive terms (exact TF-IDF ranking, Curation.distinctiveTerms):
    // per doc, top-3 tokens by tf desc / df asc / token — integer-exact
    // (no ln(), whose libm rounding drifts across engines). The window
    // partition is one doc's distinct tokens — bounded by doc length.
    QueryDef("x49_distinctive_terms",
      (s, d) => Curation.distinctiveTerms(
          tbl(s, d, "documents"), "doc_id", "text", k = 3)
        .orderBy("doc_id", "rank"),
      Some("""WITH dt AS (
             |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS token
             |  FROM documents),
             |tf AS (SELECT doc_id, token, count(*)::BIGINT AS tf FROM dt GROUP BY 1, 2),
             |dft AS (SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY 1)
             |SELECT doc_id, rank, token, tf, df FROM (
             |  SELECT tf.doc_id, row_number() OVER (PARTITION BY tf.doc_id
             |      ORDER BY tf.tf DESC, dft.df ASC, tf.token ASC)::INT AS rank,
             |    tf.token, tf.tf AS tf, dft.df AS df
             |  FROM tf JOIN dft USING (token))
             |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)),

    // Column profiler (Profile.columns): one-pass per-column stats over
    // orders, unpivoted via stack. Exact multi-distinct (Expand + partial
    // agg); min/max as engine-portable strings (int/varchar columns only).
    QueryDef("x50_column_profile",
      (s, d) => Profile.columns(tbl(s, d, "orders"),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy("column_name"),
      Some("""WITH p AS (
             |  SELECT 'o_orderkey' AS column_name, count(o_orderkey)::BIGINT AS non_null_count,
             |    (count(*) - count(o_orderkey))::BIGINT AS null_count,
             |    count(DISTINCT o_orderkey)::BIGINT AS distinct_count,
             |    min(o_orderkey)::VARCHAR AS min_value, max(o_orderkey)::VARCHAR AS max_value
             |  FROM orders
             |  UNION ALL
             |  SELECT 'o_custkey', count(o_custkey)::BIGINT, (count(*) - count(o_custkey))::BIGINT,
             |    count(DISTINCT o_custkey)::BIGINT, min(o_custkey)::VARCHAR, max(o_custkey)::VARCHAR
             |  FROM orders
             |  UNION ALL
             |  SELECT 'o_orderstatus', count(o_orderstatus)::BIGINT, (count(*) - count(o_orderstatus))::BIGINT,
             |    count(DISTINCT o_orderstatus)::BIGINT, min(o_orderstatus), max(o_orderstatus)
             |  FROM orders
             |  UNION ALL
             |  SELECT 'o_orderpriority', count(o_orderpriority)::BIGINT, (count(*) - count(o_orderpriority))::BIGINT,
             |    count(DISTINCT o_orderpriority)::BIGINT, min(o_orderpriority), max(o_orderpriority)
             |  FROM orders)
             |SELECT * FROM p ORDER BY column_name""".stripMargin)),

    // Int8 embedding quantization (Quantize.int8): per-vector symmetric
    // scalar quantization, checked via exact integer aggregates of the
    // quantized array plus the scale at 1e-6 resolution. Map-only.
    QueryDef("x51_embedding_quantize",
      (s, d) => Quantize.int8(tbl(s, d, "embeddings"), "embedding")
        .select(col("vec_id"),
          expr("aggregate(q, 0L, (a, x) -> a + x)").as("q_sum"),
          expr("array_min(q)").as("q_min"),
          expr("array_max(q)").as("q_max"),
          expr("cast(size(filter(q, x -> x != 0)) as int)").as("q_nonzero"),
          floor(col("scale") * 1e6).cast("long").as("scale_x1e6"))
        .orderBy("vec_id"),
      Some("""WITH m AS (
             |  SELECT vec_id, embedding,
             |    CASE WHEN list_max(list_transform(embedding, x -> abs(x))) > 0
             |      THEN 127.0 / list_max(list_transform(embedding, x -> abs(x)))::DOUBLE
             |      ELSE 0.0 END AS scale
             |  FROM embeddings),
             |u AS (
             |  SELECT vec_id, floor(e::DOUBLE * scale + 0.5)::BIGINT AS qe
             |  FROM (SELECT vec_id, scale, unnest(embedding) AS e FROM m))
             |SELECT u.vec_id, sum(qe)::BIGINT AS q_sum, min(qe)::INT AS q_min,
             |  max(qe)::INT AS q_max,
             |  sum(CASE WHEN qe <> 0 THEN 1 ELSE 0 END)::INT AS q_nonzero,
             |  floor(any_value(scale) * 1e6)::BIGINT AS scale_x1e6
             |FROM u JOIN m USING (vec_id)
             |GROUP BY u.vec_id ORDER BY u.vec_id""".stripMargin)),

    // Incremental dedup (Dedup.incrementalNew): a fresh batch (doc_id % 5
    // = 0) probed against the already-ingested index (the rest) — only
    // fingerprints new to BOTH survive. The steady-state production shape:
    // anti-join on the fingerprint, then the in-batch groupBy reuses the
    // same partitioning.
    QueryDef("x52_incremental_dedup",
      (s, d) => {
        val docs = tbl(s, d, "documents")
        Dedup.incrementalNew(
            docs.filter(col("doc_id") % 5 === 0),
            docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text")
          .orderBy("fingerprint")
      },
      Some("""WITH fp AS (SELECT doc_id,
             |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
             |  FROM documents),
             |b AS (SELECT * FROM fp WHERE doc_id % 5 = 0),
             |i AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 5 <> 0)
             |SELECT fingerprint, min(doc_id) AS keeper_id, count(*)::BIGINT AS dup_count
             |FROM b WHERE fingerprint NOT IN (SELECT fingerprint FROM i)
             |GROUP BY 1 ORDER BY fingerprint""".stripMargin)),

    // Stream-static enrichment: the event stream joins the customer
    // dimension snapshot per micro-batch (stateless broadcast join),
    // rolled up per market segment. Since round 9 the global rollup runs
    // THROUGH the windowed append drain (watermark-finalized per-day
    // rows, state evicted at the watermark, totals summed batch-side over
    // the immutable appended log) — the complete-mode
    // streamStaticEnrich's unbounded re-emitted state never enters the
    // oracle surface. Batch-equivalent semantics, so plain SQL is the
    // oracle.
    QueryDef("x53_stream_static_enrich",
      (s, d) => StreamOps.streamStaticEnrichAppendTotals(s, s"$d/events.parquet",
          tbl(s, d, "customer").select(col("c_custkey"), col("c_mktsegment")),
          "user_id", "c_custkey", "c_mktsegment")
        .orderBy("c_mktsegment"),
      Some("""SELECT c_mktsegment, count(*)::BIGINT AS events,
             |  sum((floor(value*100 + 0.5))::BIGINT)::BIGINT AS sum_cents
             |FROM events e JOIN customer c ON e.user_id = c.c_custkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Semantic dedup end-to-end: sign-LSH-blocked cosine pairs over the
    // embedding space feed connected-component canonicalization — the
    // "SemDeDup" composition (embedding near-dup graph → one survivor per
    // semantic cluster). Candidate generation is the metadata-free LSH
    // bucket join (never vectors²); the component fold is the same
    // bounded-round label propagation as x19.
    QueryDef("x54_semantic_dedup",
      (s, d) => {
        val emb = tbl(s, d, "embeddings")
        val pairs = Dedup.embeddingCosineLsh(emb, "vec_id", "embedding",
            bits = 8, threshold = 0.3)
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
        Dedup.canonicalize(emb.select("vec_id"), "vec_id", pairs)
          .orderBy("doc")
      },
      Some(s"""WITH RECURSIVE v AS (SELECT vec_id,
             |    list_transform(embedding, x -> x::DOUBLE) AS vec FROM embeddings),
             |b AS (SELECT vec_id, vec,
             |    (CASE WHEN vec[1] > 0 THEN 1 ELSE 0 END) + (CASE WHEN vec[2] > 0 THEN 2 ELSE 0 END) +
             |    (CASE WHEN vec[3] > 0 THEN 4 ELSE 0 END) + (CASE WHEN vec[4] > 0 THEN 8 ELSE 0 END) +
             |    (CASE WHEN vec[5] > 0 THEN 16 ELSE 0 END) + (CASE WHEN vec[6] > 0 THEN 32 ELSE 0 END) +
             |    (CASE WHEN vec[7] > 0 THEN 64 ELSE 0 END) + (CASE WHEN vec[8] > 0 THEN 128 ELSE 0 END)
             |      AS blk
             |  FROM v),
             |pairs AS (SELECT l.vec_id AS doc_a, r.vec_id AS doc_b
             |  FROM b l JOIN b r ON l.blk = r.blk AND l.vec_id < r.vec_id
             |  WHERE ${dkCosine("l.vec", "r.vec")} >= 0.3),
             |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
             |  UNION SELECT doc_b, doc_a FROM pairs),
             |reach(a, b) AS (
             |  SELECT vec_id, vec_id FROM v
             |  UNION
             |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
             |SELECT a AS doc, min(b) AS canonical_id, (min(b) = a) AS is_keeper
             |FROM reach GROUP BY a ORDER BY doc""".stripMargin)),

    // Compressed-domain ANN (Quantize.dotTopK): top-5 by int8 quantized
    // dot product — exact integer arithmetic end to end, so this is a
    // full hash check (the float-cosine paths freeze through ×1e6-floor;
    // here nothing needs freezing).
    QueryDef("x55_ann_quantized",
      (s, d) => {
        val emb = tbl(s, d, "embeddings")
        Quantize.dotTopK(emb.filter(col("vec_id") < 10), emb,
            "vec_id", "embedding", k = 5)
          .orderBy("query_id", "rank")
      },
      Some("""WITH m AS (
             |  SELECT vec_id, embedding,
             |    CASE WHEN list_max(list_transform(embedding, x -> abs(x))) > 0
             |      THEN 127.0 / list_max(list_transform(embedding, x -> abs(x)))::DOUBLE
             |      ELSE 0.0 END AS scale
             |  FROM embeddings),
             |qz AS (SELECT vec_id,
             |    list_transform(embedding, x -> floor(x::DOUBLE * scale + 0.5)::BIGINT) AS q
             |  FROM m),
             |sc AS (SELECT l.vec_id AS query_id, r.vec_id AS neighbor_id,
             |    list_reduce(list_prepend(0::BIGINT,
             |      list_transform(range(1, len(l.q)+1), i -> l.q[i]*r.q[i])),
             |      (p, s) -> p + s) AS qdot
             |  FROM qz l JOIN qz r ON r.vec_id <> l.vec_id
             |  WHERE l.vec_id < 10)
             |SELECT query_id, rank, neighbor_id, qdot FROM (
             |  SELECT query_id, neighbor_id, qdot,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY qdot DESC, neighbor_id)::INT AS rank
             |  FROM sc)
             |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // IVF×SQ8 (Quantize.ivfDotTopK): the FAISS IVF-SQ composition — cells
    // and in-cell scoring both in the int8 domain, so no float vector ever
    // reaches a shuffle. Exact integer arithmetic end to end → full hash
    // oracle.
    QueryDef("x56_ann_ivf_sq8",
      (s, d) => {
        val emb = tbl(s, d, "embeddings")
        Quantize.ivfDotTopK(emb.filter(col("vec_id") < 10), emb,
            "vec_id", "embedding", k = 3, nlist = 8, nprobe = 2)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH $dkInt8,
             |cb AS (SELECT vec_id AS cid, q AS ccode FROM qz ORDER BY vec_id LIMIT 8),
             |asg AS (SELECT vec_id, q, cid,
             |    row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
             |  FROM (SELECT z.vec_id, z.q, cb.cid,
             |      ${dkIdot("z.q", "cb.ccode")} AS cc
             |    FROM qz z CROSS JOIN cb)),
             |cells AS (SELECT vec_id AS neighbor_id, q AS cq, cid AS cell
             |  FROM asg WHERE rn = 1),
             |qq AS (SELECT vec_id AS query_id, q AS qcode FROM qz WHERE vec_id < 10),
             |probes AS (SELECT query_id, qcode, cid AS cell FROM (
             |    SELECT query_id, qcode, cid,
             |      row_number() OVER (PARTITION BY query_id ORDER BY qc DESC, cid) AS pr
             |    FROM (SELECT qq.query_id, qq.qcode, cb.cid,
             |        ${dkIdot("qq.qcode", "cb.ccode")} AS qc
             |      FROM qq CROSS JOIN cb))
             |  WHERE pr <= 2),
             |scored AS (SELECT query_id, c.neighbor_id,
             |    ${dkIdot("p.qcode", "c.cq")} AS qdot
             |  FROM probes p JOIN cells c USING (cell)
             |  WHERE p.query_id <> c.neighbor_id)
             |SELECT query_id, rank, neighbor_id, qdot FROM (
             |  SELECT query_id, neighbor_id, qdot,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY qdot DESC, neighbor_id)::INT AS rank
             |  FROM scored)
             |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)),

    // Paragraph-granularity exact dedup (Dedup.paragraphDedup): the
    // boilerplate scrubber. The synthetic corpus has no newlines, so the
    // query first rebuilds paragraph structure deterministically (3-token
    // groups joined by \n) and then runs the newline-split operator on it;
    // 1413 of 7460 distinct paragraphs recur across docs at sf0.01, so
    // dup_para_count and the scrubbed text both carry real signal.
    QueryDef("x57_paragraph_dedup",
      (s, d) => {
        val docs = tbl(s, d, "documents")
          .select(col("doc_id"), split(col("text"), "\\s+").as("__t"))
          .select(col("doc_id"), concat_ws("\n",
            transform(
              sequence(lit(0), greatest(expr("div(size(__t) + 2, 3)"), lit(1)) - 1),
              i => concat_ws(" ", slice(col("__t"), i * 3 + 1, lit(3))))).as("text"))
        Dedup.paragraphDedup(docs, "doc_id", "text").orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks
             |    FROM documents),
             |p0 AS (SELECT doc_id,
             |    list_transform(range(greatest((len(toks)+2)//3, 1)),
             |      i -> array_to_string(toks[(i*3+1):(i*3+3)], ' ')) AS paras
             |  FROM t),
             |p AS (SELECT doc_id, unnest(range(len(paras))) AS para_idx,
             |    unnest(paras) AS para FROM p0),
             |pp AS (SELECT doc_id, para_idx, trim(para) AS para
             |  FROM p WHERE trim(para) <> ''),
             |f AS (SELECT md5(trim(regexp_replace(lower(para), '\s+', ' ', 'g'))) AS ph,
             |    count(DISTINCT doc_id) AS n_docs
             |  FROM pp GROUP BY 1),
             |j AS (SELECT doc_id, para_idx, para, n_docs FROM pp
             |  JOIN f ON md5(trim(regexp_replace(lower(para), '\s+', ' ', 'g'))) = f.ph)
             |SELECT doc_id, count(*)::BIGINT AS para_count,
             |  sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END)::BIGINT AS dup_para_count,
             |  coalesce(string_agg(CASE WHEN n_docs = 1 THEN para END,
             |    chr(10) ORDER BY para_idx), '') AS scrubbed_text
             |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Model-based quality scoring (TextAnalysis.modelQualityScore): a
    // fixed-point linear classifier over the engineered quality signals —
    // exact integer features × integer weights, threshold 2300 ≈ the
    // corpus median so the keep flag splits for real.
    QueryDef("x58_quality_model",
      (s, d) => TextAnalysis.modelQualityScore(tbl(s, d, "documents"),
          "doc_id", "text", threshold = 2300L)
        .select("doc_id", "avg_word_len_x100", "distinct_ratio_pct",
          "digit_ratio_pct", "punct_ratio_pct", "upper_ratio_pct", "words",
          "score", "keep")
        .orderBy("doc_id"),
      Some(s"""$dkQualityModelCtes
             |SELECT doc_id, avg_word_len_x100, distinct_ratio_pct,
             |  digit_ratio_pct, punct_ratio_pct, upper_ratio_pct, words,
             |  score, (score >= 2300) AS keep
             |FROM scored ORDER BY doc_id""".stripMargin)),

    // Threshold-filter variant: the actual curation gate — keep only docs
    // the linear model scores at/above threshold.
    QueryDef("x58b_quality_model_filter",
      (s, d) => TextAnalysis.modelQualityScore(tbl(s, d, "documents"),
          "doc_id", "text", threshold = 2300L)
        .filter(col("keep"))
        .select("doc_id", "score")
        .orderBy("doc_id"),
      Some(s"""$dkQualityModelCtes
             |SELECT doc_id, score FROM scored
             |WHERE score >= 2300 ORDER BY doc_id""".stripMargin)),

    // Streaming CDC apply (StreamOps.cdcApply) as a gated query: fold the
    // lineitem "change stream" (key l_orderkey, order l_linenumber) into a
    // last-writer-wins snapshot through the real foreachBatch + versioned-
    // snapshot machinery, then read latestSnapshot back. Single staged file
    // -> one micro-batch, so batch-granularity fold == global row_number
    // and plain SQL is the oracle. (Restart-safety is separately covered
    // by CdcApplySpec's crash-replay tests.) The testdata lineitem has
    // duplicate (l_orderkey, l_linenumber) pairs, so qty_cents joins the
    // ordering as a determinism tiebreaker — the picked row is then fully
    // determined by its own output columns.
    QueryDef("x59_cdc_snapshot",
      (s, d) => {
        val root = java.nio.file.Files.createTempDirectory("graft-cdc-q").toString
        val ckpt = java.nio.file.Files.createTempDirectory("graft-cdc-q-ckpt").toString
        val stage = java.nio.file.Files.createTempDirectory("graft-cdc-q-in")
          .resolve("changes.parquet")
        tbl(s, d, "lineitem").select(
            col("l_orderkey"), col("l_linenumber"),
            floor(col("l_quantity") * 100 + 0.5).cast("long").as("qty_cents"))
          .coalesce(1).write.parquet(stage.toString)
        StreamOps.cdcApply(s, stage.toString, root, "l_orderkey",
          Seq("l_linenumber", "qty_cents"), queryName = s"cdcq_${System.nanoTime()}",
          checkpointDir = Some(ckpt))
        StreamOps.latestSnapshot(s, root).get.orderBy("l_orderkey")
      },
      Some("""SELECT l_orderkey, l_linenumber, qty_cents
             |FROM (SELECT l_orderkey, l_linenumber,
             |    floor(l_quantity*100 + 0.5)::BIGINT AS qty_cents,
             |    row_number() OVER (PARTITION BY l_orderkey
             |      ORDER BY l_linenumber DESC, floor(l_quantity*100 + 0.5) DESC) AS rn
             |  FROM lineitem)
             |WHERE rn = 1 ORDER BY l_orderkey""".stripMargin)),

    // Quality-aware canonical selection — SemDeDup as production runs it:
    // near-dup clusters keep their BEST-quality member, not the min id.
    // MinHash-LSH pairs -> connected components -> join the fixed-point
    // quality model -> argmax(score, tie smaller id) per cluster. The
    // cluster fold and the scorer reuse x19/x58 machinery unchanged.
    QueryDef("x60_dedup_keep_best",
      (s, d) => {
        val docs = tbl(s, d, "documents")
        val pairs = Dedup.minHashLsh(docs, "doc_id", "text",
            shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5)
          .select("doc_a", "doc_b")
        val labels = Dedup.canonicalize(docs.select("doc_id"), "doc_id", pairs)
        val scores = TextAnalysis.modelQualityScore(docs, "doc_id", "text")
          .select(col("doc_id"), col("score"))
        labels.join(scores, labels("doc") === scores("doc_id"))
          .groupBy(col("canonical_id"))
          .agg(max_by(col("doc_id"), struct(col("score"), -col("doc_id"))).as("best_doc"),
            max(col("score")).as("best_score"),
            count(lit(1)).as("cluster_size"))
          .orderBy("canonical_id")
      },
      Some(s"""WITH RECURSIVE $minHashPairsBody,
             |pairs AS (SELECT doc_a, doc_b FROM res WHERE jac >= 0.5),
             |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
             |  UNION SELECT doc_b, doc_a FROM pairs),
             |reach(a, b) AS (
             |  SELECT doc, doc FROM toks
             |  UNION
             |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
             |labels AS (SELECT a AS doc, min(b) AS canonical_id FROM reach GROUP BY a),
             |$dkQualityModelBody,
             |ranked AS (SELECT l.canonical_id, sc.doc_id, sc.score,
             |    row_number() OVER (PARTITION BY l.canonical_id
             |      ORDER BY sc.score DESC, sc.doc_id) AS rn,
             |    count(*) OVER (PARTITION BY l.canonical_id) AS cluster_size
             |  FROM labels l JOIN scored sc ON l.doc = sc.doc_id)
             |SELECT canonical_id, doc_id AS best_doc, score AS best_score,
             |  cluster_size::BIGINT AS cluster_size
             |FROM ranked WHERE rn = 1 ORDER BY canonical_id""".stripMargin)),

    // Incremental NEAR-dup (Dedup.incrementalNearDup): the fresh batch
    // (doc_id % 5 = 0) LSH-probed against the already-ingested index (the
    // rest) — x52's exact probe at shingle granularity. Candidates are
    // cross-side band collisions only; the oracle runs the same signature
    // pipeline over the union and restricts candidate pairs to the split.
    QueryDef("x61_incremental_neardup",
      (s, d) => {
        val docs = tbl(s, d, "documents")
        Dedup.incrementalNearDup(
            docs.filter(col("doc_id") % 5 === 0),
            docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
            shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5)
          .select(col("doc_a"), col("doc_b"), col("common"), col("size_a"),
            col("size_b"),
            floor(col("jaccard") * 1000000).cast("long").as("jaccard_x1m"))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH ${minHashPairsBodyFrom("documents", "doc_id", "text",
                 candCond = "l.doc % 5 = 0 AND r.doc % 5 <> 0")}
             |SELECT doc_a, doc_b, common, size_a, size_b,
             |  floor(jac*1000000)::BIGINT AS jaccard_x1m
             |FROM res WHERE jac >= 0.5 ORDER BY doc_a, doc_b""".stripMargin)),

    // Bloom-prefiltered incremental dedup (Dedup.bloomProbeNew): x52's
    // exact semantics behind a broadcast bit-array membership sketch —
    // provably-novel batch docs (some probe bit unset) skip the anti-join
    // shuffle entirely. The sketch never reaches the oracle: Bloom has no
    // false negatives, so the output is bit-identical to incrementalNew
    // and x52's plain-SQL oracle applies unchanged (different split so the
    // two queries don't alias).
    QueryDef("x62_bloom_incremental_dedup",
      (s, d) => {
        val docs = tbl(s, d, "documents")
        Dedup.bloomProbeNew(
            docs.filter(col("doc_id") % 3 === 0),
            docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text",
            numBits = 1L << 20, numHashes = 5)
          .orderBy("fingerprint")
      },
      Some("""WITH fp AS (SELECT doc_id,
             |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
             |  FROM documents),
             |b AS (SELECT * FROM fp WHERE doc_id % 3 = 0),
             |i AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 3 <> 0)
             |SELECT fingerprint, min(doc_id) AS keeper_id, count(*)::BIGINT AS dup_count
             |FROM b WHERE fingerprint NOT IN (SELECT fingerprint FROM i)
             |GROUP BY 1 ORDER BY fingerprint""".stripMargin)),

    // Cluster-balanced sampling (Similarity.clusterBalancedSample): IVF
    // cell assignment (8 cells, sample quantizer) then a deterministic
    // 25-per-cell hash-ranked quota — the diversity-sampling curation
    // stage. The oracle rebuilds assignment with the x08b CTEs and ranks
    // by the same portable hash56.
    QueryDef("x63_cluster_balanced_sample",
      (s, d) => Similarity.clusterBalancedSample(
          tbl(s, d, "embeddings"), "vec_id", "embedding",
          nlist = 8, perCell = 25)
        .orderBy("cell", "cell_rank"),
      Some(s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec
             |    FROM embeddings),
             |cb AS (SELECT vec_id AS cid, vec AS centroid FROM v ORDER BY vec_id LIMIT 8),
             |asg AS (SELECT vec_id, cid,
             |    row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
             |  FROM (SELECT v.vec_id, cb.cid,
             |      ${dkCosine("v.vec", "cb.centroid")} AS cc
             |    FROM v CROSS JOIN cb)),
             |cells AS (SELECT vec_id, cid AS cell FROM asg WHERE rn = 1),
             |ranked AS (SELECT vec_id, cell,
             |    row_number() OVER (PARTITION BY cell
             |      ORDER BY ${dkHash56("vec_id::VARCHAR")}, vec_id) AS cell_rank
             |  FROM cells)
             |SELECT vec_id, cell, cell_rank FROM ranked
             |WHERE cell_rank <= 25 ORDER BY cell, cell_rank""".stripMargin)),

    // Exact quantiles via distributed histogram (Profile.exactQuantiles):
    // p25/p50/p75/p90/p99 of document length, inverse-CDF (PERCENTILE_DISC)
    // in exact integer arithmetic — no global sort, no approx sketch. The
    // cumulative window runs over the HISTOGRAM (|domain| rows), which is
    // the one place a single-partition window is the right plan.
    QueryDef("x64_exact_quantiles",
      (s, d) => Profile.exactQuantiles(
          tbl(s, d, "documents").select(length(col("text")).as("len")),
          "len", Seq(2500, 5000, 7500, 9000, 9900))
        .orderBy("q_x10k"),
      Some("""WITH h AS (SELECT length(text)::BIGINT AS v, count(*)::BIGINT AS cnt
             |    FROM documents WHERE text IS NOT NULL GROUP BY 1),
             |c AS (SELECT v, cnt,
             |    sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
             |      AND CURRENT ROW) AS cum,
             |    sum(cnt) OVER () AS n FROM h),
             |t AS (SELECT unnest([2500, 5000, 7500, 9000, 9900]) AS q_x10k)
             |SELECT q_x10k, min(v) AS value FROM c CROSS JOIN t
             |WHERE cum >= (q_x10k::BIGINT * n + 9999) // 10000
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Vocabulary coverage (TextAnalysis.vocabCoverage): top-500 corpus
    // vocabulary by token frequency (ties lexicographic), then each doc's
    // out-of-vocabulary rate in exact fixed point — the tokenizer-fit
    // gate. Top-V cut is TakeOrderedAndProject; the 500-row vocab
    // broadcasts to the membership probe.
    QueryDef("x65_vocab_coverage",
      (s, d) => TextAnalysis.vocabCoverage(
          tbl(s, d, "documents"), "doc_id", "text", vocabSize = 500)
        .orderBy("doc_id"),
      Some("""WITH toks AS (SELECT doc_id,
             |    unnest(string_split_regex(lower(text), '\s+')) AS tok
             |  FROM documents),
             |vf AS (SELECT tok, count(*)::BIGINT AS freq FROM toks GROUP BY 1),
             |vocab AS (SELECT tok FROM vf ORDER BY freq DESC, tok LIMIT 500)
             |SELECT t.doc_id, count(*)::BIGINT AS total_tokens,
             |  sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)::BIGINT AS oov_tokens,
             |  (sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)::BIGINT * 1000000)
             |    // count(*)::BIGINT AS oov_x1m
             |FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
             |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin)),

    // Fuzzy decontamination: x35 catches exact n-gram overlap with the
    // eval set; this catches PARAPHRASED leakage — corpus docs that
    // NEAR-duplicate an eval doc (shingle Jaccard via the x61 LSH probe),
    // folded to one row per contaminated doc with its best-matching eval
    // doc (argmax jaccard, tie → smaller eval id). Eval side is tiny and
    // fixed, so at 100 TB its signatures broadcast and the corpus pays
    // one LSH pass — never corpus × eval.
    QueryDef("x66_fuzzy_decontamination",
      (s, d) => {
        val docs = tbl(s, d, "documents")
        Dedup.incrementalNearDup(
            docs.filter(col("doc_id") % 11 =!= 0),   // corpus
            docs.filter(col("doc_id") % 11 === 0),   // "benchmark" slice
            "doc_id", "text",
            shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5)
          .groupBy(col("doc_a").as("doc_id"))
          .agg(max_by(col("doc_b"), struct(col("jaccard"), -col("doc_b"))).as("eval_doc"),
            floor(max(col("jaccard")) * 1000000).cast("long").as("jaccard_x1m"))
          .orderBy("doc_id")
      },
      Some(s"""WITH ${minHashPairsBodyFrom("documents", "doc_id", "text",
                 candCond = "l.doc % 11 <> 0 AND r.doc % 11 = 0")},
             |hits AS (SELECT doc_a, doc_b, jac,
             |    row_number() OVER (PARTITION BY doc_a
             |      ORDER BY jac DESC, doc_b) AS rn,
             |    max(jac) OVER (PARTITION BY doc_a) AS best
             |  FROM res WHERE jac >= 0.5)
             |SELECT doc_a AS doc_id, doc_b AS eval_doc,
             |  floor(best*1000000)::BIGINT AS jaccard_x1m
             |FROM hits WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // Streaming dedup ingestion (StreamOps.streamDedupIngest): documents
    // arrive as a file stream; each micro-batch anti-joins the persisted
    // fingerprint index, collapses in-batch dups, appends the novel
    // survivors as a new index version (cdcApply's versioned-snapshot +
    // _SUCCESS + strictly-below-batchId restart machinery). One staged
    // file -> one batch, so the final index equals plain fingerprint
    // dedup and SQL is the oracle; cross-batch precedence and crash
    // replay are pinned in CdcApplySpec.
    QueryDef("x67_stream_dedup_ingest",
      (s, d) => {
        val root = java.nio.file.Files.createTempDirectory("graft-sdi-q").toString
        val ckpt = java.nio.file.Files.createTempDirectory("graft-sdi-q-ckpt").toString
        val stage = java.nio.file.Files.createTempDirectory("graft-sdi-q-in")
          .resolve("docs.parquet")
        tbl(s, d, "documents").select("doc_id", "text")
          .coalesce(1).write.parquet(stage.toString)
        StreamOps.streamDedupIngest(s, stage.toString, root, "doc_id", "text",
          queryName = s"sdi_${System.nanoTime()}", checkpointDir = Some(ckpt))
        StreamOps.latestSnapshot(s, root).get.orderBy("fingerprint")
      },
      Some("""SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
             |  min(doc_id) AS keeper_id
             |FROM documents GROUP BY 1 ORDER BY fingerprint""".stripMargin)),

    // Within-doc line dedup (TextAnalysis.dedupLines): the testdata corpus
    // is single-line, so the query plants the production shape — a
    // boilerplate line repeated around the doc's two halves — and the
    // scrub must keep exactly the first occurrence, order preserved,
    // map-only. The oracle rebuilds the same synthetic doc and dedups via
    // window + ordered string_agg.
    QueryDef("x68_line_dedup",
      (s, d) => {
        val b = "SUBSCRIBE TO OUR NEWSLETTER"
        val synth = tbl(s, d, "documents").select(col("doc_id"),
          concat_ws("\n", lit(b),
            expr("substring(text, 1, cast(div(length(text), 2) as int))"), lit(b),
            expr("substring(text, cast(div(length(text), 2) as int) + 1)"), lit(b))
            .as("text"))
        TextAnalysis.dedupLines(synth, "doc_id", "text").orderBy("doc_id")
      },
      Some("""WITH src AS (SELECT doc_id,
             |    'SUBSCRIBE TO OUR NEWSLETTER' || chr(10) ||
             |    substr(text, 1, length(text)//2) || chr(10) ||
             |    'SUBSCRIBE TO OUR NEWSLETTER' || chr(10) ||
             |    substr(text, length(text)//2 + 1) || chr(10) ||
             |    'SUBSCRIBE TO OUR NEWSLETTER' AS text
             |  FROM documents),
             |l AS (SELECT doc_id,
             |    unnest(string_split(text, chr(10))) AS line,
             |    generate_subscripts(string_split(text, chr(10)), 1) AS idx
             |  FROM src),
             |k AS (SELECT doc_id, line, idx,
             |    row_number() OVER (PARTITION BY doc_id, line ORDER BY idx) AS rn
             |  FROM l)
             |SELECT doc_id, count(*)::BIGINT AS line_count,
             |  (count(*) - sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END))::BIGINT AS dup_lines,
             |  string_agg(CASE WHEN rn = 1 THEN line END, chr(10) ORDER BY idx) AS deduped_text
             |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Quality-binned (curriculum) sampling — three operator families in
    // the shape production curation actually chains them: the fixed-point
    // quality model (x58) scores every doc; exact histogram quantiles
    // (x64) cut the score distribution at p25/p50/p75; each doc lands in
    // a bin (count of cuts strictly below its score) and keeps a
    // deterministic per-bin rate (top quartile 100%, then 50/25/10) via
    // the portable hash — more high-quality data, a reproducible trickle
    // of the tail. Quantile cuts broadcast (3 longs); the rest is
    // map-only over the score projection.
    QueryDef("x69_quality_binned_sample",
      (s, d) => {
        val scores = TextAnalysis.modelQualityScore(
          tbl(s, d, "documents"), "doc_id", "text").select(col("doc_id"), col("score"))
        val cuts = Profile.exactQuantiles(scores, "score", Seq(2500, 5000, 7500))
          .agg(sort_array(collect_list(col("value"))).as("cuts"))
        val rates = array(lit(10), lit(25), lit(50), lit(100))
        scores.crossJoin(broadcast(cuts))
          .withColumn("bin", size(filter(col("cuts"), c => col("score") > c)))
          .filter(Portable.hash56(col("doc_id").cast("string")) % 100 <
            element_at(rates, col("bin") + 1))
          .select(col("doc_id"), col("score"), col("bin"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $dkQualityModelBody,
             |h AS (SELECT score AS v, count(*)::BIGINT AS cnt FROM scored GROUP BY 1),
             |c AS (SELECT v, sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
             |      PRECEDING AND CURRENT ROW) AS cum,
             |    sum(cnt) OVER () AS n FROM h),
             |t AS (SELECT unnest([2500, 5000, 7500]) AS q),
             |cuts AS (SELECT q, min(v) AS cut FROM c CROSS JOIN t
             |  WHERE cum >= (q::BIGINT * n + 9999) // 10000 GROUP BY q),
             |binned AS (SELECT sc.doc_id, sc.score,
             |    (SELECT count(*) FROM cuts WHERE sc.score > cut)::INT AS bin
             |  FROM scored sc)
             |SELECT doc_id, score, bin FROM binned
             |WHERE ${dkHash56("doc_id::VARCHAR")} % 100 <
             |  CASE bin WHEN 3 THEN 100 WHEN 2 THEN 50 WHEN 1 THEN 25 ELSE 10 END
             |ORDER BY doc_id""".stripMargin)),

    // Persisted LSH index (Dedup.buildLshIndex / probeLshIndex): the
    // index side's signatures are built ONCE, written to parquet, and the
    // probe reads the store instead of re-shingling the corpus — the
    // steady-state crawl-ingest read path. Result contract identical to
    // x61 (same probe, different split), so the same oracle CTE chain
    // applies with the split condition flipped to %7.
    QueryDef("x70_persisted_lsh_probe",
      (s, d) => {
        val docs = tbl(s, d, "documents")
        val idxPath = s"$idxScratch/x70"
        Dedup.buildLshIndex(docs.filter(col("doc_id") % 7 =!= 0), "doc_id", "text",
          idxPath, shingleSize = 3, numHashes = 16, bands = 4)
        Dedup.probeLshIndex(docs.filter(col("doc_id") % 7 === 0), idxPath,
            "doc_id", "text", shingleSize = 3, numHashes = 16, bands = 4,
            threshold = 0.5)
          .select(col("doc_a"), col("doc_b"), col("common"), col("size_a"),
            col("size_b"),
            floor(col("jaccard") * 1000000).cast("long").as("jaccard_x1m"))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH ${minHashPairsBodyFrom("documents", "doc_id", "text",
                 candCond = "l.doc % 7 = 0 AND r.doc % 7 <> 0")}
             |SELECT doc_a, doc_b, common, size_a, size_b,
             |  floor(jac*1000000)::BIGINT AS jaccard_x1m
             |FROM res WHERE jac >= 0.5 ORDER BY doc_a, doc_b""".stripMargin)),

    // Corpus bigram table (TextAnalysis.bigramTable): top-200 adjacent
    // token pairs — the table a BPE merge step / n-gram LM / collocation
    // miner consumes. Map-only pair explode, one keyed shuffle,
    // TakeOrdered cut. The oracle zips each doc's token list against its
    // own tail via DuckDB's aligned parallel unnest.
    QueryDef("x71_bigram_table",
      (s, d) => TextAnalysis.bigramTable(tbl(s, d, "documents"), "text", k = 200),
      Some("""WITH toks AS (SELECT string_split_regex(lower(text), '\s+') AS t
             |    FROM documents),
             |p AS (SELECT unnest(t[1:len(t)-1]) AS tok_a,
             |    unnest(t[2:len(t)]) AS tok_b FROM toks)
             |SELECT tok_a, tok_b, count(*)::BIGINT AS pair_count FROM p
             |GROUP BY 1, 2 ORDER BY pair_count DESC, tok_a, tok_b
             |LIMIT 200""".stripMargin)),

    // Positional skip-gram table (TextAnalysis.skipGramTable, window 3):
    // distance-tagged forward co-occurrences — word2vec pair generation /
    // positional collocations. The oracle unions one aligned-unnest slice
    // pair per distance (greatest() guards short docs against DuckDB's
    // negative-index list slicing).
    QueryDef("x72_skipgram_table",
      (s, d) => TextAnalysis.skipGramTable(tbl(s, d, "documents"), "text",
        window = 3, k = 200),
      Some("""WITH toks AS (SELECT string_split_regex(lower(text), '\s+') AS t
             |    FROM documents),
             |p AS (
             |  SELECT unnest(t[1:greatest(len(t)-1, 0)]) AS tok_a,
             |    unnest(t[2:len(t)]) AS tok_b, 1 AS distance FROM toks
             |  UNION ALL SELECT unnest(t[1:greatest(len(t)-2, 0)]),
             |    unnest(t[3:len(t)]), 2 FROM toks
             |  UNION ALL SELECT unnest(t[1:greatest(len(t)-3, 0)]),
             |    unnest(t[4:len(t)]), 3 FROM toks)
             |SELECT tok_a, tok_b, distance, count(*)::BIGINT AS pair_count FROM p
             |GROUP BY 1, 2, 3 ORDER BY pair_count DESC, tok_a, tok_b, distance
             |LIMIT 200""".stripMargin)),

    // SCD2 history (Sequence.scd2): the events change log folded into
    // type-2 versioned rows — each change valid from its own sequence
    // number until the key's next change (NULL = current). One lead()
    // window pass, no join; the full-history complement of x59's
    // latest-snapshot CDC fold.
    QueryDef("x73_scd2_history",
      (s, d) => {
        val ev = QueryDef.events(s, d).select(col("user_id"), col("event_id"),
          floor(col("value") * 100 + 0.5).cast("long").as("value_cents"))
        Sequence.scd2(ev, "user_id", "event_id")
          .select(col("user_id"), col("event_id"), col("value_cents"),
            col("valid_from"), col("valid_to"), col("is_current"))
          .orderBy("user_id", "event_id")
      },
      Some("""SELECT user_id, event_id,
             |  floor(value*100 + 0.5)::BIGINT AS value_cents,
             |  event_id AS valid_from,
             |  lead(event_id) OVER w AS valid_to,
             |  (lead(event_id) OVER w IS NULL) AS is_current
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
             |ORDER BY user_id, event_id""".stripMargin)),

    // Batch gap-sessionization (Sequence.sessionizeBatch, 1h gap): the
    // window-function idiom over historical events — x15's streaming
    // session_window for data at rest. Exact integer microsecond
    // arithmetic end to end.
    QueryDef("x74_sessionize_batch",
      (s, d) => Sequence.sessionizeBatch(QueryDef.events(s, d),
          "user_id", "ts", "event_id", gapSeconds = 3600)
        .orderBy("key", "session_idx"),
      Some("""WITH e AS (SELECT user_id AS key, epoch_us(ts) AS t_us,
             |    event_id AS eid FROM events),
             |f AS (SELECT key, t_us, eid,
             |    CASE WHEN t_us - lag(t_us) OVER (PARTITION BY key
             |        ORDER BY t_us, eid) > 3600000000 THEN 1 ELSE 0 END AS ns
             |  FROM e),
             |g AS (SELECT key, t_us,
             |    sum(ns) OVER (PARTITION BY key ORDER BY t_us, eid
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS si
             |  FROM f)
             |SELECT key, si::BIGINT AS session_idx,
             |  min(t_us) AS session_start_us, max(t_us) AS session_end_us,
             |  count(*)::BIGINT AS events
             |FROM g GROUP BY 1, 2 ORDER BY key, session_idx""".stripMargin)),

    // Content-anchored exact-substring dedup (Dedup.substringDedup, k=64
    // chars, anchor density 1/16): character-level verbatim-copy spans
    // counted per doc — the substring-dedup family member between
    // exact-doc and shingle Jaccard, with winnowing-style content-defined
    // anchors so copies align regardless of offset. The oracle replays
    // the same anchor filter with generate_series + hash56.
    QueryDef("x75_substring_dedup",
      (s, d) => Dedup.substringDedup(tbl(s, d, "documents"), "doc_id", "text",
          k = 64, stride = 16, minDocs = 2)
        .orderBy("doc")
        .select(col("doc"), col("total_spans"), col("shared_spans")),
      Some(s"""WITH g AS (SELECT doc_id,
             |    unnest(generate_series(1, length(text)-63)) AS pos
             |    FROM documents WHERE length(text) >= 64),
             |a AS (SELECT g.doc_id, g.pos FROM g JOIN documents d USING (doc_id)
             |  WHERE ${dkHash56("substr(d.text, g.pos, 8)")} % 16 = 0),
             |gr AS (SELECT a.doc_id, md5(substr(d.text, a.pos, 64)) AS h
             |  FROM a JOIN documents d USING (doc_id)),
             |freq AS (SELECT h, count(DISTINCT doc_id) AS nd FROM gr GROUP BY h)
             |SELECT doc_id AS doc, count(*)::BIGINT AS total_spans,
             |  sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)::BIGINT AS shared_spans
             |FROM gr JOIN freq USING (h)
             |GROUP BY 1 ORDER BY doc""".stripMargin)),

    // Fixed-point BM25 retrieval (Retrieval.bm25, k1=1.2 b=0.75, rational
    // Robertson idf): lexical corpus search / data-selection scoring. The
    // term filter runs before the postings shuffle; df and corpus stats
    // broadcast back. The oracle replays the identical integer arithmetic.
    QueryDef("x76_bm25",
      (s, d) => Retrieval.bm25(tbl(s, d, "documents"), "doc_id", "text",
          Seq("spark", "vector", "merge"))
        .orderBy("doc")
        .select(col("doc"), col("matched_terms"), col("dl"), col("score_x1e3")),
      Some("""WITH tok AS (SELECT doc_id AS doc,
             |    string_split_regex(lower(text), '\s+') AS toks FROM documents),
             |dls AS (SELECT doc, len(toks)::BIGINT AS dl FROM tok),
             |stats AS (SELECT count(*)::BIGINT AS n_docs,
             |    (100 * sum(dl)) // count(*) AS avgdl_x100 FROM dls),
             |post0 AS (SELECT doc, unnest(toks) AS term FROM tok),
             |post AS (SELECT doc, term, count(*)::BIGINT AS tf FROM post0
             |  WHERE term IN ('spark', 'vector', 'merge') GROUP BY 1, 2),
             |dft AS (SELECT term, count(*)::BIGINT AS df FROM post GROUP BY 1),
             |sc AS (SELECT p.doc, d.dl,
             |    ((1000000 * (2 * s.n_docs - 2 * f.df + 1)) // (2 * f.df + 1)) // 1000
             |      AS idf_x1e3,
             |    (1000000 * p.tf * 220 * 100 * s.avgdl_x100) //
             |      (s.avgdl_x100 * (10000 * p.tf + 120 * 25) + 120 * 75 * 100 * d.dl)
             |      AS tfc_x1e6
             |  FROM post p JOIN dls d USING (doc) JOIN dft f USING (term)
             |  CROSS JOIN stats s)
             |SELECT doc, count(*)::BIGINT AS matched_terms, min(dl)::BIGINT AS dl,
             |  sum((idf_x1e3 * tfc_x1e6) // 1000000)::BIGINT AS score_x1e3
             |FROM sc GROUP BY doc ORDER BY doc""".stripMargin)),

    // Fixed-point PageRank (Graph.pageRank, 3 supersteps, d=0.85) over the
    // temporal-affinity graph: consecutive users within each event_type by
    // (ts, event_id) form a directed edge. Edge-partitioned join-agg per
    // superstep, rank state localCheckpoint'ed — the Pregel shape in plain
    // relational operators. Oracle: the same three iterations as chained
    // CTEs with identical integer floors.
    QueryDef("x77_pagerank",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = QueryDef.events(s, d)
        val w = Window.partitionBy("event_type").orderBy("ts", "event_id")
        val edges = ev
          .withColumn("src", lag("user_id", 1).over(w))
          .filter(col("src").isNotNull && col("src") =!= col("user_id"))
          .select(col("src"), col("user_id").as("dst"))
        Graph.pageRank(edges, "src", "dst", iterations = 3, dampingX100 = 85)
          .orderBy("node")
      },
      Some {
        val S = "1000000000000"
        def cr(i: Int) =
          s"""c$i AS (SELECT e.dst AS node, sum(r.r // o.outdeg) AS contrib
             |  FROM edges e JOIN r${i - 1} r ON e.src = r.node
             |  JOIN outdeg o ON e.src = o.node GROUP BY 1),
             |r$i AS (SELECT n.node, (15 * ($S // ns.n)) // 100
             |    + COALESCE((85 * c.contrib) // 100, 0) AS r
             |  FROM nodes n CROSS JOIN ns LEFT JOIN c$i c ON n.node = c.node)""".stripMargin
        s"""WITH ev AS (SELECT event_type, epoch_us(ts) AS t_us, event_id, user_id
           |    FROM events),
           |le AS (SELECT user_id AS dst, lag(user_id) OVER (
           |    PARTITION BY event_type ORDER BY t_us, event_id) AS src FROM ev),
           |edges AS (SELECT DISTINCT src, dst FROM le
           |  WHERE src IS NOT NULL AND src <> dst),
           |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
           |outdeg AS (SELECT src AS node, count(*)::BIGINT AS outdeg
           |  FROM edges GROUP BY 1),
           |ns AS (SELECT count(*)::BIGINT AS n FROM nodes),
           |r0 AS (SELECT node, ($S // n) AS r FROM nodes, ns),
           |${cr(1)},
           |${cr(2)},
           |${cr(3)}
           |SELECT n.node, COALESCE(o.outdeg, 0)::BIGINT AS outdeg,
           |  r.r::BIGINT AS rank_x1e12
           |FROM nodes n LEFT JOIN outdeg o ON n.node = o.node
           |JOIN r3 r ON n.node = r.node ORDER BY n.node""".stripMargin
      }),

    // Z-order layout (Layout.clusterByZ, 8-bit buckets): events clustered
    // along the Morton curve of (user bucket, day bucket); per 16×16-cell
    // stats prove the locality a 100 TB writer banks on — every cell's
    // min/max span ≤ 16 in BOTH dimensions, so parquet min/max prunes on
    // either. Oracle replays the interleave with the same shift/AND/OR.
    QueryDef("x78_zorder_layout",
      (s, d) => {
        val ev = QueryDef.events(s, d).select(col("event_id"),
          (col("user_id") % 256).as("ub"),
          expr("div(unix_micros(ts), 86400000000) % 256").as("db"))
        Layout.clusterByZ(ev, col("ub"), col("db"), bits = 8, numPartitions = 8)
          .groupBy(expr("div(zkey, 256)").as("cell"))
          .agg(count(lit(1)).as("n"),
            min("ub").as("min_ub"), max("ub").as("max_ub"),
            min("db").as("min_db"), max("db").as("max_db"))
          .orderBy("cell")
      },
      Some {
        val interleave = (0 until 8).flatMap(i => Seq(
          s"(((ub >> $i) & 1) << ${2 * i + 1})",
          s"(((db >> $i) & 1) << ${2 * i})")).mkString(" | ")
        s"""WITH ev AS (SELECT event_id, user_id % 256 AS ub,
           |    (epoch_us(ts) // 86400000000) % 256 AS db FROM events),
           |z AS (SELECT ev.*, $interleave AS zkey FROM ev)
           |SELECT zkey // 256 AS cell, count(*)::BIGINT AS n,
           |  min(ub)::BIGINT AS min_ub, max(ub)::BIGINT AS max_ub,
           |  min(db)::BIGINT AS min_db, max(db)::BIGINT AS max_db
           |FROM z GROUP BY 1 ORDER BY cell""".stripMargin
      }),

    // Leakage-safe train/val/test split (Curation.leakageSafeSplit over
    // minhash-LSH near-dup clusters, 10% test / 5% val): whole clusters
    // land in one split, so held-out docs never have a near-copy in train.
    // Oracle: the canonicalize recursive closure + the same hash slice of
    // the cluster id.
    QueryDef("x79_cluster_split",
      (s, d) => {
        val docs = tbl(s, d, "documents")
        val pairs = Dedup.minHashLsh(docs, "doc_id", "text",
          shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5)
          .select("doc_a", "doc_b")
        Curation.leakageSafeSplit(docs, "doc_id", pairs, valPct = 5, testPct = 10)
          .orderBy("doc")
      },
      Some(s"""WITH RECURSIVE $minHashPairsBody,
             |pairs AS (SELECT doc_a, doc_b FROM res WHERE jac >= 0.5),
             |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
             |  UNION SELECT doc_b, doc_a FROM pairs),
             |reach(a, b) AS (
             |  SELECT doc, doc FROM toks
             |  UNION
             |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
             |canon AS (SELECT a AS doc, min(b) AS canonical_id FROM reach GROUP BY a)
             |SELECT doc, canonical_id,
             |  CASE WHEN ${dkHash56("canonical_id::VARCHAR")} % 100 < 10 THEN 'test'
             |       WHEN ${dkHash56("canonical_id::VARCHAR")} % 100 < 15 THEN 'val'
             |       ELSE 'train' END AS split
             |FROM canon ORDER BY doc""".stripMargin)),

    // Regular-grid resampling with linear interpolation
    // (TimeSeries.resampleLinear, 6-hour grid per user): the tempo/Flint
    // resample surface in exact integer arithmetic — one keyed window
    // shuffle, then a map-side explode of each observation interval into
    // the grid points it owns. The oracle replays the ceil-aligned grid
    // and the sign-split magnitude division.
    QueryDef("x80_resample",
      (s, d) => {
        val step = 21600000000L // 6 h in micros
        val obs = QueryDef.events(s, d)
          .select(col("user_id"), expr("unix_micros(ts)").as("t_us"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
          .groupBy("user_id", "t_us").agg(sum("cents").as("cents"))
        TimeSeries.resampleLinear(obs, "user_id", "t_us", "cents", step)
          .orderBy("user_id", "grid_us")
      },
      Some("""WITH obs AS (SELECT user_id, epoch_us(ts) AS t,
             |    sum(floor(value*100 + 0.5)::BIGINT)::BIGINT AS v
             |  FROM events GROUP BY 1, 2),
             |w AS (SELECT user_id, t AS t0, v AS v0,
             |    lead(t) OVER (PARTITION BY user_id ORDER BY t) AS t1,
             |    lead(v) OVER (PARTITION BY user_id ORDER BY t) AS v1,
             |    min(t) OVER (PARTITION BY user_id) AS g0
             |  FROM obs),
             |g AS (SELECT user_id, t0, v0, t1, v1,
             |    unnest(generate_series(
             |      g0 + ((t0 - g0 + 21599999999) // 21600000000) * 21600000000,
             |      coalesce(t1 - 1, t0), 21600000000)) AS grid
             |  FROM w)
             |SELECT user_id, grid AS grid_us,
             |  (CASE WHEN grid = t0 THEN v0
             |       WHEN v1 >= v0 THEN v0 + ((v1 - v0) * (grid - t0)) // (t1 - t0)
             |       ELSE v0 - ((v0 - v1) * (grid - t0)) // (t1 - t0) END)::BIGINT
             |    AS value_cents,
             |  grid <> t0 AS interpolated
             |FROM g ORDER BY user_id, grid_us""".stripMargin)),

    // OHLC downsampling (TimeSeries.ohlc, 1-day buckets per user):
    // open/high/low/close + count/sum in ONE aggregation pass via
    // min_by/max_by on the (ts, event_id) tie-break — no window, no
    // self-join. The oracle uses first/last window values and collapses.
    QueryDef("x81_ohlc",
      (s, d) => TimeSeries.ohlc(
          QueryDef.events(s, d).select(col("user_id"),
            expr("unix_micros(ts)").as("t_us"), col("event_id"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents")),
          "user_id", "t_us", "event_id", "cents", bucketUs = 86400000000L)
        .orderBy("user_id", "bucket"),
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id AS eid,
             |    floor(value*100 + 0.5)::BIGINT AS v FROM events),
             |b AS (SELECT user_id, t // 86400000000 AS bucket, t, eid, v FROM e),
             |wv AS (SELECT user_id, bucket, v,
             |    first_value(v) OVER (PARTITION BY user_id, bucket
             |      ORDER BY t, eid) AS open,
             |    last_value(v) OVER (PARTITION BY user_id, bucket
             |      ORDER BY t, eid
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS close
             |  FROM b)
             |SELECT user_id, bucket, min(open)::BIGINT AS open,
             |  max(v)::BIGINT AS high, min(v)::BIGINT AS low,
             |  min(close)::BIGINT AS close, count(*)::BIGINT AS n,
             |  sum(v)::BIGINT AS sum_cents
             |FROM wv GROUP BY 1, 2 ORDER BY user_id, bucket""".stripMargin)),

    // Corpus-LM surprise scoring (TextAnalysis.lmSurprise): the
    // perplexity-filter stage in exact integer arithmetic — self-trained
    // bigram stats, per-doc mean inverse conditional probability. The
    // oracle retrains the same counts and replays the same floors.
    QueryDef("x82_lm_surprise",
      (s, d) => TextAnalysis.lmSurprise(tbl(s, d, "documents"), "doc_id", "text")
        .orderBy("doc"),
      Some("""WITH toks AS (SELECT doc_id AS doc,
             |    string_split_regex(lower(text), '\s+') AS tk FROM documents),
             |bp AS (SELECT doc, unnest(list_transform(
             |    range(1, greatest(len(tk), 1)),
             |    i -> {'a': tk[i], 'b': tk[i+1]})) AS p FROM toks),
             |bp2 AS (SELECT doc, p.a AS a, p.b AS b FROM bp),
             |pc AS (SELECT a, b, count(*)::BIGINT AS pc FROM bp2 GROUP BY 1, 2),
             |ac AS (SELECT a, sum(pc)::BIGINT AS ac FROM pc GROUP BY 1),
             |sc AS (SELECT b.a, b.b, (1000000 * c.ac) // b.pc AS sup
             |  FROM pc b JOIN ac c USING (a))
             |SELECT doc, count(*)::BIGINT AS n_bigrams,
             |  (sum(sup) // count(*))::BIGINT AS surprise_x1e6
             |FROM bp2 JOIN sc USING (a, b)
             |GROUP BY doc ORDER BY doc""".stripMargin)),

    // Hot-key diagnostics (Skew.hotKeys, top 20 users at fan-out 32): the
    // measurement that decides when x18's salting is worth it — per-key
    // share and skew factor vs an average reducer at the given shuffle
    // width. TakeOrdered cut, one-row total broadcast.
    QueryDef("x83_hot_keys",
      (s, d) => Skew.hotKeys(QueryDef.events(s, d), "user_id",
          topK = 20, partitions = 32)
        .orderBy(col("cnt").desc, col("key")),
      Some("""WITH c AS (SELECT user_id AS key, count(*)::BIGINT AS cnt
             |  FROM events GROUP BY 1),
             |t AS (SELECT sum(cnt)::BIGINT AS total FROM c)
             |SELECT key, cnt, (10000 * cnt) // total AS pct_x10000,
             |  (100 * cnt * 32) // total AS skew_x100
             |FROM c, t ORDER BY cnt DESC, key LIMIT 20""".stripMargin)),

    // Robust outliers (Profile.madOutliers, k=3): per-event-type median /
    // MAD over cents with inverse-CDF medians — the heavy-tail-safe
    // quality filter. Histogram-shaped both passes; the oracle replays
    // the identical cumulative-count medians.
    QueryDef("x84_mad_outliers",
      (s, d) => Profile.madOutliers(
          QueryDef.events(s, d).select(col("event_type"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents")),
          "event_type", "cents", kX100 = 300)
        .orderBy("key"),
      Some("""WITH e AS (SELECT event_type AS key,
             |    floor(value*100 + 0.5)::BIGINT AS v FROM events),
             |h1 AS (SELECT key, v, count(*)::BIGINT AS cnt FROM e GROUP BY 1, 2),
             |c1 AS (SELECT key, v,
             |    sum(cnt) OVER (PARTITION BY key ORDER BY v
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             |    sum(cnt) OVER (PARTITION BY key) AS n
             |  FROM h1),
             |med AS (SELECT key, min(v)::BIGINT AS med FROM c1
             |  WHERE cum >= (n + 1) // 2 GROUP BY 1),
             |d AS (SELECT e.key, e.v, med.med, abs(e.v - med.med) AS ad
             |  FROM e JOIN med USING (key)),
             |h2 AS (SELECT key, ad, count(*)::BIGINT AS cnt FROM d GROUP BY 1, 2),
             |c2 AS (SELECT key, ad,
             |    sum(cnt) OVER (PARTITION BY key ORDER BY ad
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             |    sum(cnt) OVER (PARTITION BY key) AS n
             |  FROM h2),
             |mad AS (SELECT key, min(ad)::BIGINT AS mad FROM c2
             |  WHERE cum >= (n + 1) // 2 GROUP BY 1)
             |SELECT d.key, count(*)::BIGINT AS n, min(d.med)::BIGINT AS med,
             |  min(mad.mad)::BIGINT AS mad,
             |  sum(CASE WHEN d.ad * 100 > 300 * mad.mad THEN 1 ELSE 0 END)::BIGINT
             |    AS outliers
             |FROM d JOIN mad USING (key)
             |GROUP BY 1 ORDER BY key""".stripMargin)),

    // Time-scoped exact dedup (Dedup.timeScopedDedup, 2-day horizon over
    // the events props payload): burst duplicates within the horizon drop,
    // refreshes after a quiet gap keep — the crawl/re-crawl policy as one
    // digest-keyed window pass. Oracle replays the lag + running-sum pair.
    QueryDef("x85_timescoped_dedup",
      (s, d) => Dedup.timeScopedDedup(
          QueryDef.events(s, d).select(col("event_id"), col("props"),
            expr("unix_micros(ts)").as("t_us")),
          "event_id", "props", "t_us", horizonUs = 172800000000L)
        .orderBy("event_id"),
      Some("""WITH e AS (SELECT event_id, md5(props) AS fp, epoch_us(ts) AS t
             |  FROM events),
             |f AS (SELECT event_id, fp, t,
             |    CASE WHEN t - lag(t) OVER (PARTITION BY fp ORDER BY t, event_id)
             |           > 172800000000
             |         OR lag(t) OVER (PARTITION BY fp ORDER BY t, event_id) IS NULL
             |      THEN 1 ELSE 0 END AS nw
             |  FROM e),
             |g AS (SELECT event_id, t, nw,
             |    sum(nw) OVER (PARTITION BY fp ORDER BY t, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS burst
             |  FROM f)
             |SELECT event_id, t AS ts, burst::BIGINT AS burst, nw = 1 AS keep
             |FROM g ORDER BY event_id""".stripMargin)),

    // Token-budget waterfilling (Curation.tokenBudget, 20k of ~27k
    // tokens): per-source caps at the common waterfilling level — the
    // exact mixture-planning allocation. The corpus collapses to one row
    // per source before any window runs; the level broadcasts back.
    QueryDef("x86_token_budget",
      (s, d) => Curation.tokenBudget(tbl(s, d, "documents"),
          "source", "text", budgetTokens = 20000L)
        .orderBy("source"),
      Some("""WITH m AS (SELECT source,
             |    sum(len(string_split_regex(lower(text), '\s+')))::BIGINT AS tokens
             |  FROM documents GROUP BY 1),
             |r AS (SELECT source, tokens,
             |    coalesce(sum(tokens) OVER (ORDER BY tokens, source
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix,
             |    count(*) OVER () - row_number() OVER (ORDER BY tokens, source) + 1
             |      AS remaining
             |  FROM m),
             |lvl AS (SELECT (SELECT (20000 - prefix) // remaining FROM r
             |    WHERE prefix + remaining * tokens > 20000
             |    ORDER BY tokens, source LIMIT 1) AS level)
             |SELECT m.source, m.tokens,
             |  least(m.tokens, coalesce(l.level, m.tokens))::BIGINT AS allocated,
             |  ((10000 * least(m.tokens, coalesce(l.level, m.tokens)))
             |    // greatest(m.tokens, 1))::BIGINT AS rate_x10000
             |FROM m CROSS JOIN lvl l ORDER BY m.source""".stripMargin)),

    // Streaming OHLC candles (StreamOps.streamingOhlc, 1-day windows per
    // user): min_by/max_by update incrementally in watermark-bounded
    // state — real-time candlesticks with no raw-tick buffering. The
    // oracle is the batch x81 computation re-keyed to the window start.
    QueryDef("x87_stream_ohlc",
      // Append-mode drain (round-8): candles finalize + evict at the
      // watermark; same result on a bounded backlog, unchanged oracle.
      (s, d) => StreamOps.streamingOhlcAppend(s, s"$d/events.parquet")
        .orderBy("user_id", "bucket"),
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id AS eid,
             |    floor(value*100 + 0.5)::BIGINT AS v FROM events),
             |b AS (SELECT user_id, t // 86400000000 AS bucket, t, eid, v FROM e),
             |wv AS (SELECT user_id, bucket, v,
             |    first_value(v) OVER (PARTITION BY user_id, bucket
             |      ORDER BY t, eid) AS open,
             |    last_value(v) OVER (PARTITION BY user_id, bucket
             |      ORDER BY t, eid
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS close
             |  FROM b)
             |SELECT user_id, bucket, min(open)::BIGINT AS open,
             |  max(v)::BIGINT AS high, min(v)::BIGINT AS low,
             |  min(close)::BIGINT AS close, count(*)::BIGINT AS n,
             |  sum(v)::BIGINT AS sum_cents
             |FROM wv GROUP BY 1, 2 ORDER BY user_id, bucket""".stripMargin)),

    // The whole engine in one query: the corpus→training-set funnel.
    // raw → exact dedup → near-dup canonicalization → benchmark
    // decontamination (eval = the hash-slice-0 docs, which leave the
    // corpus at that stage) → model quality gate (x58's scorer, threshold
    // 2300) → sequence packing (256-token sequences, 8 shards). One row
    // per stage with surviving docs + tokens (packed: sequences +
    // packed tokens — conservation of the stage-4 token mass is visible
    // in the report). Every stage reuses the already-oracle-checked
    // operator; the oracle composes the same CTE bodies end to end.
    QueryDef("x88_curation_funnel",
      (s, d) => curationFunnel(tbl(s, d, "documents")),
      Some(funnelReportOracle)),

    // The funnel FROM THE STORED LABEL ARTIFACT (x88b): identical report
    // to x88 — shared oracle — with the near-dup stage consuming the
    // write-once canonical-labels table instead of re-running the
    // corpus-wide LSH + label propagation inline (the x111-vs-x103
    // consumer-side drop, applied to the funnel). With x105b/x111 this
    // makes the three most expensive report queries share ONE label build
    // per corpus generation.
    QueryDef("x88b_funnel_from_labels",
      (s, d) => curationFunnel(tbl(s, d, "documents"),
        labelsPath = Some(canonicalLabelsFor(s, d))),
      Some(funnelReportOracle)),

    // Streaming hot-key monitor (top 20 users): x83's diagnostics
    // maintained in streaming state — the live skew dashboard. Since
    // round 9 the global count runs THROUGH the windowed append drain
    // (per-(day, key) windows finalize + evict at the watermark; the
    // global count is the batch-side sum of each key's immutable day
    // counts — exact because count decomposes over the day partition),
    // so no oracle query keeps one counter per key forever. Oracle is
    // the batch top-k count.
    QueryDef("x89_stream_hot_keys",
      (s, d) => StreamOps.streamingHotKeysGlobalTopK(s, s"$d/events.parquet",
          "user_id", k = 20)
        .orderBy(col("cnt").desc, col("key")),
      Some("""SELECT user_id AS key, count(*)::BIGINT AS cnt
             |FROM events GROUP BY 1
             |ORDER BY cnt DESC, key LIMIT 20""".stripMargin)),

    // Point-in-time-correct feature join (x90): the feature-store
    // pattern — cumulative per-user view features (running count/sum as
    // of each feature timestamp) attached to purchase events via
    // AsOfJoin.backward, so a training row can never see a feature value
    // from AFTER its own timestamp (feature leakage). Single-shuffle
    // union+window as-of; features pre-aggregated per (user, ts).
    QueryDef("x90_pit_features",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = QueryDef.events(s, d)
        val views = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id"), expr("unix_micros(ts)").as("t"))
          .agg(count(lit(1)).as("vn"),
            sum(floor(col("value") * 100 + 0.5).cast("long")).as("vs"))
        val w = Window.partitionBy("user_id").orderBy("t")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val feats = views.select(col("user_id"), col("t"),
          sum(col("vn")).over(w).as("views"),
          sum(col("vs")).over(w).as("view_cents"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), expr("unix_micros(ts)").as("t"))
        AsOfJoin.backward(purchases, feats, "user_id", "t",
            Seq("views", "view_cents"), validateUnique = false)
          .select(col("event_id"), col("user_id"), col("t").as("ts"),
            coalesce(col("asof_views"), lit(0L)).as("views"),
            coalesce(col("asof_view_cents"), lit(0L)).as("view_cents"))
          .orderBy("event_id")
      },
      Some("""WITH v AS (SELECT user_id, epoch_us(ts) AS t, count(*)::BIGINT AS vn,
             |    sum(floor(value*100 + 0.5)::BIGINT)::BIGINT AS vs
             |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
             |f AS (SELECT user_id, t,
             |    sum(vn) OVER (PARTITION BY user_id ORDER BY t
             |      ROWS UNBOUNDED PRECEDING) AS views,
             |    sum(vs) OVER (PARTITION BY user_id ORDER BY t
             |      ROWS UNBOUNDED PRECEDING) AS view_cents
             |  FROM v),
             |p AS (SELECT event_id, user_id, epoch_us(ts) AS t FROM events
             |  WHERE event_type = 'purchase'),
             |j AS (SELECT p.event_id, p.user_id, p.t, f.views, f.view_cents,
             |    row_number() OVER (PARTITION BY p.event_id ORDER BY f.t DESC) AS rn
             |  FROM p LEFT JOIN f ON p.user_id = f.user_id AND f.t <= p.t)
             |SELECT event_id, user_id, t AS ts,
             |  coalesce(views, 0)::BIGINT AS views,
             |  coalesce(view_cents, 0)::BIGINT AS view_cents
             |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin)),

    // Rolling 7-day distinct actives (Sequence.rollingActives): exact
    // trailing COUNT DISTINCT per observed day via contribute-and-regroup
    // (map-side fan-out of deduped activity to window-end days) — no
    // range join, no per-frame buffering. The WAU curve, exactly.
    QueryDef("x91_rolling_actives",
      (s, d) => Sequence.rollingActives(
          QueryDef.events(s, d).withColumn("t_us", expr("unix_micros(ts)")),
          "user_id", "t_us", windowDays = 7)
        .orderBy("day"),
      Some("""WITH du AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day,
             |    user_id FROM events),
             |obs AS (SELECT DISTINCT day FROM du),
             |c AS (SELECT day + unnest([0, 1, 2, 3, 4, 5, 6]) AS rday, user_id
             |  FROM du),
             |r AS (SELECT rday, count(DISTINCT user_id)::BIGINT AS actives
             |  FROM c GROUP BY 1)
             |SELECT o.day, r.actives FROM obs o JOIN r ON r.rday = o.day
             |ORDER BY o.day""".stripMargin)),

    // Per-source distribution drift (Profile.categoryDrift over doc
    // lengths, global quartile cuts): each source's bucket shares vs the
    // corpus shares, worst deviation in basis points — the data-quality
    // monitor that catches a source shipping suddenly-different
    // documents. Empty buckets count as drift.
    QueryDef("x92_source_drift",
      (s, d) => Profile.categoryDrift(
          tbl(s, d, "documents").select(col("source"), length(col("text")).as("len")),
          "source", "len", Seq(2500, 5000, 7500))
        .orderBy("cat"),
      Some("""WITH base AS (SELECT source AS cat, length(text)::BIGINT AS v
             |  FROM documents),
             |h AS (SELECT v, count(*)::BIGINT AS cnt FROM base GROUP BY 1),
             |cc AS (SELECT v, cnt,
             |    sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
             |      AND CURRENT ROW) AS cum,
             |    sum(cnt) OVER () AS n FROM h),
             |t AS (SELECT unnest([2500, 5000, 7500]) AS q),
             |cuts AS (SELECT q, min(v) AS cv FROM cc CROSS JOIN t
             |  WHERE cum >= (q::BIGINT * n + 9999) // 10000 GROUP BY 1),
             |bk AS (SELECT cat,
             |    (SELECT count(*) FROM cuts WHERE base.v > cuts.cv)::INT AS bucket
             |  FROM base),
             |ct AS (SELECT cat, count(*)::BIGINT AS n FROM bk GROUP BY 1),
             |grid AS (SELECT ct.cat, ct.n, u.bucket FROM ct
             |  CROSS JOIN (SELECT unnest(range(0, 4))::INT AS bucket) u),
             |xc AS (SELECT cat, bucket, count(*)::BIGINT AS cnt FROM bk
             |  GROUP BY 1, 2),
             |cd AS (SELECT g.cat, g.n, g.bucket,
             |    (10000 * coalesce(x.cnt, 0)) // g.n AS pct
             |  FROM grid g LEFT JOIN xc x
             |    ON g.cat = x.cat AND g.bucket = x.bucket),
             |cot AS (SELECT count(*)::BIGINT AS cn FROM bk),
             |cog AS (SELECT u.bucket,
             |    (10000 * coalesce(cb.ccnt, 0)) // cot.cn AS cpct
             |  FROM (SELECT unnest(range(0, 4))::INT AS bucket) u
             |  LEFT JOIN (SELECT bucket, count(*)::BIGINT AS ccnt FROM bk
             |    GROUP BY 1) cb USING (bucket)
             |  CROSS JOIN cot),
             |dv AS (SELECT cd.cat, cd.n, cd.bucket, abs(cd.pct - cog.cpct) AS dev
             |  FROM cd JOIN cog USING (bucket)),
             |md AS (SELECT cat, max(dev) AS mdev FROM dv GROUP BY 1)
             |SELECT dv.cat, min(dv.n)::BIGINT AS n,
             |  min(CASE WHEN dv.dev = md.mdev THEN dv.bucket END)::INT
             |    AS worst_bucket,
             |  min(md.mdev)::BIGINT AS max_dev_x10000
             |FROM dv JOIN md USING (cat)
             |GROUP BY dv.cat ORDER BY dv.cat""".stripMargin)),

    // The drift monitor CONSUMED FROM THE HISTOGRAM ARTIFACT (x92b,
    // round-16 verdict #6): x92 stays the raw-corpus correctness gate;
    // this is the production path — the per-source length histogram
    // (x173's artifact family at width 1, a lossless per-unit fold) is
    // built once per corpus generation, and the monitor reads ONLY the
    // (source, length, cnt) table: O(sources × length-domain) rows,
    // zero raw scans in the returned plan (PlanSpec-pinned). Output is
    // exactly x92's report over the non-null-text rows — at width 1
    // the histogram is the exact raw distribution, so every aggregate
    // is x92's with count(*) → sum(cnt); the oracle is x92's SQL with
    // the matching null-text filter (the fold drops null lengths; the
    // current generator emits none, so both gates see identical rows).
    QueryDef("x92b_source_drift_from_histogram",
      (s, d) => Profile.categoryDriftFromHistogramArtifact(
          s, lengthHistogramFor(s, d), Seq(2500, 5000, 7500))
        .orderBy("cat"),
      Some("""WITH base AS (SELECT source AS cat, length(text)::BIGINT AS v
             |  FROM documents WHERE text IS NOT NULL),
             |h AS (SELECT v, count(*)::BIGINT AS cnt FROM base GROUP BY 1),
             |cc AS (SELECT v, cnt,
             |    sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
             |      AND CURRENT ROW) AS cum,
             |    sum(cnt) OVER () AS n FROM h),
             |t AS (SELECT unnest([2500, 5000, 7500]) AS q),
             |cuts AS (SELECT q, min(v) AS cv FROM cc CROSS JOIN t
             |  WHERE cum >= (q::BIGINT * n + 9999) // 10000 GROUP BY 1),
             |bk AS (SELECT cat,
             |    (SELECT count(*) FROM cuts WHERE base.v > cuts.cv)::INT AS bucket
             |  FROM base),
             |ct AS (SELECT cat, count(*)::BIGINT AS n FROM bk GROUP BY 1),
             |grid AS (SELECT ct.cat, ct.n, u.bucket FROM ct
             |  CROSS JOIN (SELECT unnest(range(0, 4))::INT AS bucket) u),
             |xc AS (SELECT cat, bucket, count(*)::BIGINT AS cnt FROM bk
             |  GROUP BY 1, 2),
             |cd AS (SELECT g.cat, g.n, g.bucket,
             |    (10000 * coalesce(x.cnt, 0)) // g.n AS pct
             |  FROM grid g LEFT JOIN xc x
             |    ON g.cat = x.cat AND g.bucket = x.bucket),
             |cot AS (SELECT count(*)::BIGINT AS cn FROM bk),
             |cog AS (SELECT u.bucket,
             |    (10000 * coalesce(cb.ccnt, 0)) // cot.cn AS cpct
             |  FROM (SELECT unnest(range(0, 4))::INT AS bucket) u
             |  LEFT JOIN (SELECT bucket, count(*)::BIGINT AS ccnt FROM bk
             |    GROUP BY 1) cb USING (bucket)
             |  CROSS JOIN cot),
             |dv AS (SELECT cd.cat, cd.n, cd.bucket, abs(cd.pct - cog.cpct) AS dev
             |  FROM cd JOIN cog USING (bucket)),
             |md AS (SELECT cat, max(dev) AS mdev FROM dv GROUP BY 1)
             |SELECT dv.cat, min(dv.n)::BIGINT AS n,
             |  min(CASE WHEN dv.dev = md.mdev THEN dv.bucket END)::INT
             |    AS worst_bucket,
             |  min(md.mdev)::BIGINT AS max_dev_x10000
             |FROM dv JOIN md USING (cat)
             |GROUP BY dv.cat ORDER BY dv.cat""".stripMargin)),

    // Corpus snapshot diff (Dedup.snapshotDiff): two simulated corpus
    // versions (hash-slice 0 arrives, slice 1 leaves, slice 2 is edited)
    // classified added/removed/changed/unchanged by id + content digest.
    // Only slim (id, digest) rows reach the full-outer shuffle.
    QueryDef("x93_snapshot_diff",
      (s, d) => {
        val docs = tbl(s, d, "documents")
        val slice = Portable.hash56(col("doc_id").cast("string")) % 10
        val oldSnap = docs.filter(slice =!= 0)
        val newSnap = docs.filter(slice =!= 1)
          .withColumn("text",
            when(slice === 2, concat(col("text"), lit(" v2")))
              .otherwise(col("text")))
        Dedup.snapshotDiff(oldSnap, newSnap, "doc_id", "text").orderBy("id")
      },
      Some(s"""WITH o AS (SELECT doc_id AS id, md5(text) AS h FROM documents
             |  WHERE ${dkHash56("doc_id::VARCHAR")} % 10 <> 0),
             |n AS (SELECT doc_id AS id,
             |    md5(CASE WHEN ${dkHash56("doc_id::VARCHAR")} % 10 = 2
             |      THEN text || ' v2' ELSE text END) AS h
             |  FROM documents WHERE ${dkHash56("doc_id::VARCHAR")} % 10 <> 1)
             |SELECT coalesce(o.id, n.id) AS id,
             |  CASE WHEN o.id IS NULL THEN 'added'
             |       WHEN n.id IS NULL THEN 'removed'
             |       WHEN o.h IS DISTINCT FROM n.h THEN 'changed'
             |       ELSE 'unchanged' END AS status
             |FROM o FULL OUTER JOIN n ON o.id = n.id ORDER BY id""".stripMargin)),

    // Length-bucketed training batches (Curation.batchByLength, batch 16,
    // 8 shards): per-shard length sort cut into fixed batches — padding
    // waste = n·max − sum per batch, the quantity dynamic batching
    // minimizes. Sharded windows, never a global sort.
    QueryDef("x94_length_batches",
      (s, d) => Curation.batchByLength(tbl(s, d, "documents"), "doc_id", "text",
          batchSize = 16, numShards = 8)
        .orderBy("shard", "batch_idx"),
      Some(s"""WITH b AS (SELECT doc_id,
             |    len(string_split_regex(lower(text), '\\s+'))::BIGINT AS doc_tokens,
             |    (${dkHash56("doc_id::VARCHAR")} % 8)::INT AS shard
             |  FROM documents),
             |r AS (SELECT doc_id, shard, doc_tokens,
             |    (row_number() OVER (PARTITION BY shard
             |      ORDER BY doc_tokens, doc_id) - 1) // 16 AS batch_idx
             |  FROM b)
             |SELECT shard, batch_idx::BIGINT AS batch_idx,
             |  count(*)::BIGINT AS n_docs, max(doc_tokens)::BIGINT AS max_tokens,
             |  sum(doc_tokens)::BIGINT AS sum_tokens,
             |  (count(*) * max(doc_tokens) - sum(doc_tokens))::BIGINT
             |    AS padding_tokens
             |FROM r GROUP BY 1, 2 ORDER BY shard, batch_idx""".stripMargin)),

    // Shingle containment (Dedup.shingleContainment, 3-shingles, >= 50%):
    // the asymmetric near-dup metric — a short doc quoted inside a long
    // one fires containment while its Jaccard stays near zero. Same
    // inverted-index candidate discipline as x05.
    QueryDef("x95_containment",
      (s, d) => Dedup.shingleContainment(tbl(s, d, "documents"), "doc_id", "text",
          shingleSize = 3, thresholdPct = 50)
        .orderBy("doc_a", "doc_b"),
      Some(s"""WITH ${dkShingles(3)},
             |sizes AS (SELECT doc, count(DISTINCT h) AS sz FROM hs GROUP BY 1),
             |hc AS (SELECT h, count(DISTINCT doc) AS c FROM hs GROUP BY 1),
             |hk AS (SELECT DISTINCT s.doc, s.h FROM hs s JOIN hc USING (h)
             |  WHERE hc.c <= 256),
             |cand AS (SELECT DISTINCT l.doc AS doc_a, r.doc AS doc_b
             |  FROM hk l JOIN hk r ON l.h = r.h AND l.doc < r.doc),
             |com AS (SELECT c.doc_a, c.doc_b, count(DISTINCT fa.h) AS common
             |  FROM cand c JOIN hs fa ON c.doc_a = fa.doc
             |  JOIN hs fb ON c.doc_b = fb.doc AND fa.h = fb.h
             |  GROUP BY 1, 2)
             |SELECT com.doc_a, com.doc_b, common::BIGINT AS common,
             |  sa.sz::BIGINT AS size_a, sb.sz::BIGINT AS size_b,
             |  (100 * common) // greatest(least(sa.sz, sb.sz), 1)
             |    AS containment_pct
             |FROM com JOIN sizes sa ON com.doc_a = sa.doc
             |JOIN sizes sb ON com.doc_b = sb.doc
             |WHERE (100 * common) // greatest(least(sa.sz, sb.sz), 1) >= 50
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // Collocation mining (TextAnalysis.collocations, minCount 5, top 50):
    // bigrams ranked by fixed-point lift (PMI without the log — monotone,
    // so ranking matches) over prefix/suffix marginals. TakeOrdered cut;
    // the marginals regroup the vocab²-bounded pair table, never the
    // corpus.
    QueryDef("x96_collocations",
      (s, d) => TextAnalysis.collocations(tbl(s, d, "documents"), "text",
        minCount = 5L, k = 50),
      Some("""WITH tok AS (SELECT string_split_regex(lower(text), '\s+') AS tk
             |  FROM documents),
             |bp AS (SELECT unnest(list_transform(
             |    range(1, greatest(len(tk), 1)),
             |    i -> {'a': tk[i], 'b': tk[i+1]})) AS p FROM tok),
             |b2 AS (SELECT p.a AS a, p.b AS b FROM bp),
             |pc AS (SELECT a, b, count(*)::BIGINT AS pc FROM b2 GROUP BY 1, 2),
             |ca AS (SELECT a, sum(pc)::BIGINT AS ca FROM pc GROUP BY 1),
             |cb AS (SELECT b, sum(pc)::BIGINT AS cb FROM pc GROUP BY 1),
             |t2 AS (SELECT sum(pc)::BIGINT AS t2 FROM pc)
             |SELECT pc.a AS tok_a, pc.b AS tok_b, pc.pc AS pair_count,
             |  ((1000000 * pc.pc * t2.t2) // (ca.ca * cb.cb))::BIGINT AS lift_x1e6
             |FROM pc JOIN ca USING (a) JOIN cb USING (b) CROSS JOIN t2
             |WHERE pc.pc >= 5
             |ORDER BY lift_x1e6 DESC, tok_a, tok_b LIMIT 50""".stripMargin)),

    // Blocked edit-distance dedup (Dedup.editDistanceDedup over 24-char
    // title prefixes, 6-gram blocking, dist <= 8): entity resolution for
    // short strings with an exact codegen'd levenshtein verify — q-gram
    // candidates, never all pairs.
    QueryDef("x97_editdist_dedup",
      (s, d) => Dedup.editDistanceDedup(
          tbl(s, d, "documents").select(col("doc_id"),
            substring(col("text"), 1, 24).as("title")),
          "doc_id", "title", maxDist = 8, gramSize = 6)
        .orderBy("doc_a", "doc_b"),
      Some("""WITH base AS (SELECT doc_id AS doc,
             |    lower(substr(text, 1, 24)) AS key FROM documents),
             |g AS (SELECT doc, unnest(list_distinct(list_transform(
             |    range(1, greatest(length(key) - 5, 1) + 1),
             |    i -> substr(key, i, 6)))) AS g FROM base),
             |gc AS (SELECT g, count(*) AS c FROM g GROUP BY 1),
             |gk AS (SELECT g.doc, g.g FROM g JOIN gc USING (g) WHERE gc.c <= 256),
             |cand AS (SELECT DISTINCT l.doc AS doc_a, r.doc AS doc_b
             |  FROM gk l JOIN gk r ON l.g = r.g AND l.doc < r.doc),
             |v AS (SELECT c.doc_a, c.doc_b,
             |    levenshtein(a.key, b.key)::BIGINT AS dist
             |  FROM cand c JOIN base a ON c.doc_a = a.doc
             |  JOIN base b ON c.doc_b = b.doc)
             |SELECT doc_a, doc_b, dist FROM v WHERE dist <= 8
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // Sorted-neighborhood linkage (Dedup.sortedNeighborhood, window 3,
    // 2-char blocks, dist <= 8): the other classic blocking scheme —
    // per-block rank windows, map-side neighbor explode, equi-join, exact
    // levenshtein verify.
    QueryDef("x98_sorted_neighborhood",
      (s, d) => Dedup.sortedNeighborhood(
          tbl(s, d, "documents").select(col("doc_id"),
            substring(col("text"), 1, 24).as("title")),
          "doc_id", "title", window = 3, maxDist = 8, prefixLen = 2)
        .orderBy("doc_a", "doc_b"),
      Some("""WITH base AS (SELECT doc_id AS doc,
             |    lower(substr(text, 1, 24)) AS key,
             |    lower(substr(text, 1, 2)) AS block FROM documents),
             |r AS (SELECT doc, key, block,
             |    row_number() OVER (PARTITION BY block ORDER BY key, doc) AS rn
             |  FROM base),
             |p AS (SELECT block, rn + unnest([1, 2, 3]) AS rn2,
             |    doc AS doc_a, key AS ka FROM r),
             |j AS (SELECT p.doc_a, r2.doc AS doc_b,
             |    levenshtein(p.ka, r2.key)::BIGINT AS dist
             |  FROM p JOIN r r2 ON p.block = r2.block AND p.rn2 = r2.rn)
             |SELECT doc_a, doc_b, dist FROM j WHERE dist <= 8
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // Fractional-epoch mixture (Curation.fractionalEpochs: en 2.5 epochs,
    // de 1.2, others 1.0): full copies plus a deterministic hash-slice
    // extra copy for the fractional remainder — the real mixture-spec
    // knob, map-only and nested across rates.
    QueryDef("x99_fractional_epochs",
      (s, d) => Curation.fractionalEpochs(tbl(s, d, "documents"),
          "doc_id", "lang", Map("en" -> 250, "de" -> 120), defaultX100 = 100)
        .select(col("doc_id"), col("lang"), col("copy"))
        .orderBy("doc_id", "copy"),
      Some(s"""WITH w AS (SELECT doc_id, lang,
             |    CASE lang WHEN 'en' THEN 250 WHEN 'de' THEN 120
             |      ELSE 100 END AS wx,
             |    CASE WHEN ${dkHash56("doc_id::VARCHAR")} % 100 <
             |      (CASE lang WHEN 'en' THEN 250 WHEN 'de' THEN 120
             |        ELSE 100 END) % 100 THEN 1 ELSE 0 END AS extra
             |  FROM documents)
             |SELECT doc_id, lang, unnest(range(1, wx // 100 + extra + 1)) AS copy
             |FROM w WHERE wx // 100 + extra >= 1
             |ORDER BY doc_id, copy""".stripMargin)),

    // Tokenizer fertility by language (x11's lexer aggregated per lang):
    // chars-per-BPE-ish-token ×100 per language — the tokenizer-fit
    // report that decides whether a vocab underserves a language.
    QueryDef("x100_tokenizer_fertility",
      (s, d) => {
        val docs = tbl(s, d, "documents")
        val tc = TextAnalysis.tokenCounts(docs, "doc_id", "text")
        docs.select(col("doc_id"), col("lang"), length(col("text")).as("chars"))
          .join(tc, Seq("doc_id"))
          .groupBy("lang")
          .agg(count(lit(1)).as("docs"),
            sum(col("chars").cast("long")).as("chars"),
            sum(col("ws_tokens").cast("long")).as("ws_tokens"),
            sum(col("bpe_ish_tokens").cast("long")).as("bpe_tokens"))
          .withColumn("chars_per_bpe_x100",
            expr("div(100 * chars, greatest(bpe_tokens, 1))"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*)::BIGINT AS docs,
             |  sum(length(text))::BIGINT AS chars,
             |  sum(len(string_split_regex(lower(text), '\s+')))::BIGINT AS ws_tokens,
             |  sum(len(regexp_extract_all(text,
             |    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')))::BIGINT AS bpe_tokens,
             |  (100 * sum(length(text)) //
             |    greatest(sum(len(regexp_extract_all(text,
             |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))), 1))::BIGINT
             |    AS chars_per_bpe_x100
             |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin)),

    // Hybrid retrieval with reciprocal-rank fusion (x101): the lexical
    // BM25 top-50 (x76's query) and the dense cosine top-50 for doc 0's
    // embedding (x07's search, ids align with documents) fused by RRF —
    // the production hybrid-search combiner, fixed-point so the fusion is
    // oracle-exact. Output: fused top 20 with per-system membership.
    QueryDef("x101_hybrid_retrieval",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = tbl(s, d, "documents")
        val emb = tbl(s, d, "embeddings")
        val lex = Retrieval.bm25(docs, "doc_id", "text",
            Seq("spark", "vector", "merge"))
          .withColumn("rank", row_number().over(
            Window.orderBy(col("score_x1e3").desc, col("doc"))))
          .filter(col("rank") <= 50).select(col("doc"), col("rank"))
        val dense = Similarity.bruteForceTopK(
            emb.filter(col("vec_id") === 0), emb, "vec_id", "embedding", k = 50)
          .select(col("neighbor_id").as("doc"), col("rank"))
        Retrieval.rrfFuse(Seq(lex, dense), "doc", "rank", kRrf = 60)
          .orderBy(col("rrf_x1e6").desc, col("doc")).limit(20)
      },
      Some(s"""WITH tok AS (SELECT doc_id AS doc,
             |    string_split_regex(lower(text), '\\s+') AS toks FROM documents),
             |dls AS (SELECT doc, len(toks)::BIGINT AS dl FROM tok),
             |stats AS (SELECT count(*)::BIGINT AS n_docs,
             |    (100 * sum(dl)) // count(*) AS avgdl_x100 FROM dls),
             |post0 AS (SELECT doc, unnest(toks) AS term FROM tok),
             |post AS (SELECT doc, term, count(*)::BIGINT AS tf FROM post0
             |  WHERE term IN ('spark', 'vector', 'merge') GROUP BY 1, 2),
             |dft AS (SELECT term, count(*)::BIGINT AS df FROM post GROUP BY 1),
             |sc AS (SELECT p.doc,
             |    ((1000000 * (2 * s.n_docs - 2 * f.df + 1)) // (2 * f.df + 1)) // 1000
             |      AS idf_x1e3,
             |    (1000000 * p.tf * 220 * 100 * s.avgdl_x100) //
             |      (s.avgdl_x100 * (10000 * p.tf + 120 * 25) + 120 * 75 * 100 * d.dl)
             |      AS tfc_x1e6
             |  FROM post p JOIN dls d USING (doc) JOIN dft f USING (term)
             |  CROSS JOIN stats s),
             |bm AS (SELECT doc,
             |    sum((idf_x1e3 * tfc_x1e6) // 1000000)::BIGINT AS score
             |  FROM sc GROUP BY doc),
             |lexr AS (SELECT doc,
             |    row_number() OVER (ORDER BY score DESC, doc) AS r FROM bm),
             |v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec
             |  FROM embeddings),
             |q AS (SELECT vec FROM v WHERE vec_id = 0),
             |scored AS (SELECT c.vec_id AS doc, ${dkCosine("q.vec", "c.vec")} AS cosine
             |  FROM q CROSS JOIN v c WHERE c.vec_id <> 0),
             |denser AS (SELECT doc,
             |    row_number() OVER (ORDER BY cosine DESC, doc) AS r FROM scored),
             |u AS (SELECT doc, 1000000 // (60 + r) AS c FROM lexr WHERE r <= 50
             |  UNION ALL SELECT doc, 1000000 // (60 + r) FROM denser WHERE r <= 50)
             |SELECT doc, sum(c)::BIGINT AS rrf_x1e6, count(*)::BIGINT AS systems
             |FROM u GROUP BY doc
             |ORDER BY rrf_x1e6 DESC, doc LIMIT 20""".stripMargin)),

    // flatMapGroupsWithState threshold alerting (x102): per user, one
    // alert row per 50-dollar level the running positive spend crosses —
    // the 0..n-rows-per-group streaming state machine (x16's
    // mapGroupsWithState can only emit exactly one). Oracle: batch totals
    // exploded to div(total, threshold) ordinals.
    QueryDef("x102_stream_alerts",
      (s, d) => StreamOps.streamingThresholdAlerts(s, s"$d/events.parquet",
          thresholdCents = 5000L, queryName = s"stream_alerts_${System.nanoTime()}")
        .orderBy("user_id", "alert_idx"),
      Some("""WITH t AS (SELECT user_id,
             |    sum(CASE WHEN value > 0
             |      THEN floor(value*100 + 0.5)::BIGINT ELSE 0 END)::BIGINT AS cents
             |  FROM events GROUP BY 1)
             |SELECT user_id, unnest(range(1, cents // 5000 + 1)) AS alert_idx
             |FROM t WHERE cents // 5000 >= 1
             |ORDER BY user_id, alert_idx""".stripMargin)),

    // Dataset publication manifest (x103): per train/val/test split
    // (x79's leakage-safe assignment) — docs, tokens, and an
    // ORDER-INDEPENDENT content checksum (bit_xor of the 56-bit doc
    // hashes), the verifiable dataset-card row a release pipeline signs.
    // Identical partitioning, any engine, any run → identical checksums.
    QueryDef("x103_split_manifest",
      (s, d) => {
        val docs = tbl(s, d, "documents")
        val pairs = Dedup.minHashLsh(docs, "doc_id", "text",
          shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5)
          .select("doc_a", "doc_b")
        val split = Curation.leakageSafeSplit(docs, "doc_id", pairs,
            valPct = 5, testPct = 10)
          .select(col("doc").as("doc_id"), col("split"))
        docs.select(col("doc_id"),
            size(Portable.tokens(col("text"))).cast("long").as("tk"),
            Portable.hash56(col("text")).as("h"))
          .join(split, Seq("doc_id"))
          .groupBy("split")
          .agg(count(lit(1)).as("docs"), sum(col("tk")).as("tokens"),
            expr("bit_xor(h)").as("content_checksum"))
          .orderBy("split")
      },
      Some(splitManifestOracle)),

    // ANN recall evaluation (x104): IVF top-10 measured against the
    // exact brute-force top-10 per query — recall@k, the standard ANN
    // quality gate, fully deterministic so the harness itself is
    // oracle-checked. (x08b's parameters: nlist 8, nprobe 2.)
    QueryDef("x104_ann_recall",
      (s, d) => {
        val emb = tbl(s, d, "embeddings")
        val qs = emb.filter(col("vec_id") < 10)
        val exact = Similarity.bruteForceTopK(qs, emb, "vec_id", "embedding",
          k = 10).select("query_id", "neighbor_id")
        val approx = Similarity.ivfTopK(qs, emb, "vec_id", "embedding",
          k = 10, nlist = 8, nprobe = 2).select("query_id", "neighbor_id")
        val hits = exact.join(approx, Seq("query_id", "neighbor_id"))
          .groupBy("query_id").agg(count(lit(1)).as("hits"))
        qs.select(col("vec_id").as("query_id"))
          .join(hits, Seq("query_id"), "left")
          .na.fill(0L, Seq("hits"))
          .withColumn("recall_x100", expr("div(100 * hits, 10)"))
          .orderBy("query_id")
      },
      Some(s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec
             |    FROM embeddings),
             |q AS (SELECT vec_id AS query_id, vec AS qv FROM v WHERE vec_id < 10),
             |esc AS (SELECT query_id, c.vec_id AS neighbor_id,
             |    ${dkCosine("qv", "c.vec")} AS cosine
             |  FROM q CROSS JOIN v c WHERE query_id <> c.vec_id),
             |er AS (SELECT query_id, neighbor_id,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY cosine DESC, neighbor_id) AS rank FROM esc),
             |cb AS (SELECT vec_id AS cid, vec AS centroid FROM v
             |  ORDER BY vec_id LIMIT 8),
             |asg AS (SELECT vec_id, vec, cid,
             |    row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
             |  FROM (SELECT v.vec_id, v.vec, cb.cid,
             |      ${dkCosine("v.vec", "cb.centroid")} AS cc
             |    FROM v CROSS JOIN cb)),
             |cells AS (SELECT vec_id AS neighbor_id, vec AS cv, cid AS cell
             |  FROM asg WHERE rn = 1),
             |probes AS (SELECT query_id, qv, cell FROM (
             |    SELECT q.query_id, q.qv, cb.cid AS cell,
             |      row_number() OVER (PARTITION BY q.query_id
             |        ORDER BY ${dkCosine("q.qv", "cb.centroid")} DESC, cb.cid) AS pr
             |    FROM q CROSS JOIN cb)
             |  WHERE pr <= 2),
             |isc AS (SELECT query_id, c.neighbor_id,
             |    ${dkCosine("p.qv", "c.cv")} AS cosine
             |  FROM probes p JOIN cells c USING (cell)
             |  WHERE p.query_id <> c.neighbor_id),
             |ir AS (SELECT query_id, neighbor_id,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY cosine DESC, neighbor_id) AS rank FROM isc),
             |h AS (SELECT e.query_id, count(*)::BIGINT AS hits
             |  FROM er e JOIN ir i ON e.query_id = i.query_id
             |    AND e.neighbor_id = i.neighbor_id
             |  WHERE e.rank <= 10 AND i.rank <= 10 GROUP BY 1)
             |SELECT q.query_id, coalesce(h.hits, 0)::BIGINT AS hits,
             |  (100 * coalesce(h.hits, 0)) // 10 AS recall_x100
             |FROM q LEFT JOIN h USING (query_id) ORDER BY query_id""".stripMargin)),

    // Truncated-dimension (matryoshka) recall (x163): serve ANN from a
    // PREFIX of each embedding (8/16/32 of 64 dims — the index shrinks
    // proportionally) and measure what the truncation costs against the
    // full-dimension exact top-5 — the table a team reads to pick the
    // serving dimension. Both legs are exact brute force (x104's
    // self-certifying discipline), so the report is deterministic end
    // to end; ties break by neighbor id in both engines.
    QueryDef("x163_matryoshka_recall",
      (s, d) => {
        val emb = tbl(s, d, "embeddings")
        Similarity.truncatedDimRecall(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "embedding", k = 5, dims = Seq(8, 16, 32))
      },
      Some {
        def dimBlock(dm: Int): String =
          s"""t$dm AS (SELECT query_id, neighbor_id FROM (
             |  SELECT query_id, c.vec_id AS neighbor_id,
             |    row_number() OVER (PARTITION BY query_id ORDER BY
             |      ${dkCosine(s"list_slice(qv, 1, $dm)", s"list_slice(c.vec, 1, $dm)")} DESC,
             |      c.vec_id) AS rank
             |  FROM q CROSS JOIN v c WHERE query_id <> c.vec_id)
             |  WHERE rank <= 5)""".stripMargin
        s"""WITH v AS (SELECT vec_id,
           |    list_transform(embedding, x -> x::DOUBLE) AS vec
           |  FROM embeddings),
           |q AS (SELECT vec_id AS query_id, vec AS qv FROM v WHERE vec_id < 10),
           |ex AS (SELECT query_id, neighbor_id FROM (
           |  SELECT query_id, c.vec_id AS neighbor_id,
           |    row_number() OVER (PARTITION BY query_id ORDER BY
           |      ${dkCosine("qv", "c.vec")} DESC, c.vec_id) AS rank
           |  FROM q CROSS JOIN v c WHERE query_id <> c.vec_id)
           |  WHERE rank <= 5),
           |tot AS (SELECT count(*)::BIGINT AS total FROM ex),
           |${dimBlock(8)},
           |${dimBlock(16)},
           |${dimBlock(32)},
           |hits AS (
           |  SELECT 8 AS dim, count(*)::BIGINT AS hits
           |    FROM t8 JOIN ex USING (query_id, neighbor_id)
           |  UNION ALL
           |  SELECT 16, count(*)::BIGINT
           |    FROM t16 JOIN ex USING (query_id, neighbor_id)
           |  UNION ALL
           |  SELECT 32, count(*)::BIGINT
           |    FROM t32 JOIN ex USING (query_id, neighbor_id))
           |SELECT dim, hits, total,
           |  ((10000 * hits)::BIGINT // total)::BIGINT AS recall_x10000
           |FROM hits CROSS JOIN tot ORDER BY dim""".stripMargin
      }),

    // Hard-negative mining (x166): the contrastive-training data op —
    // per anchor, the 5 MOST similar vectors that are NOT in the
    // near-duplicate band (those are positives in disguise; training
    // against them is the classic false-negative bug). The threshold
    // sits at 0.35, inside this synthetic corpus's similarity range, so
    // the exclusion band is genuinely exercised by the gate (real
    // embedding deployments run it at ~0.9+ where crops/paraphrases
    // live); the band filter applies BEFORE the top-k, which is what
    // makes the kept set differ from a plain top-k.
    QueryDef("x166_hard_negatives",
      (s, d) => {
        val emb = tbl(s, d, "embeddings")
        Similarity.hardNegatives(emb.filter(col("vec_id") < 10), emb,
            "vec_id", "embedding", k = 5, dupThreshold = 0.35)
          .select(col("query_id"), col("rank"), col("neighbor_id"),
            floor(col("cosine") * 1000000).cast("long").as("cosine_x1m"))
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH v AS (SELECT vec_id,
             |    list_transform(embedding, x -> x::DOUBLE) AS vec
             |  FROM embeddings),
             |q AS (SELECT vec_id AS query_id, vec AS qv FROM v
             |  WHERE vec_id < 10),
             |s AS (SELECT query_id, c.vec_id AS neighbor_id,
             |    ${dkCosine("qv", "c.vec")} AS cosine
             |  FROM q CROSS JOIN v c WHERE query_id <> c.vec_id),
             |kept AS (SELECT query_id, neighbor_id, cosine,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY cosine DESC, neighbor_id) AS rank
             |  FROM s WHERE cosine < 0.35)
             |SELECT query_id, rank, neighbor_id,
             |  floor(cosine * 1000000)::BIGINT AS cosine_x1m
             |FROM kept WHERE rank <= 5
             |ORDER BY query_id, rank""".stripMargin)),

    // Hard negatives FROM THE PERSISTED IVF INDEX (x169): x166's
    // corpus-scale shape — candidates from the anchors' probed cells of
    // the stored index (built over the % 4 != 0 slice, % 4 == 0
    // absorbed, so the searchable set is the whole corpus), dup band
    // excluded BEFORE the top-k. At nprobe = nlist every cell is
    // visited and the result is PIN-EQUAL to the brute-force x166 —
    // the oracle is x166's verbatim.
    QueryDef("x169_hard_negatives_from_index",
      (s, d) => {
        val root = s"$idxScratch/x169_vec"
        EvalQueries.rmTree(root)
        val emb = tbl(s, d, "embeddings")
        VectorIndex.buildIvfIndex(emb.filter(col("vec_id") % 4 =!= 0),
          "vec_id", "embedding", root, nlist = 8)
        VectorIndex.absorbIntoIvfIndex(emb.filter(col("vec_id") % 4 === 0),
          "vec_id", "embedding", root)
        VectorIndex.hardNegativesFromIvfIndex(
            emb.filter(col("vec_id") < 10), root, "vec_id", "embedding",
            k = 5, dupThreshold = 0.35, nprobe = 8)
          .select(col("query_id"), col("rank"), col("neighbor_id"),
            floor(col("cosine") * 1000000).cast("long").as("cosine_x1m"))
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH v AS (SELECT vec_id,
             |    list_transform(embedding, x -> x::DOUBLE) AS vec
             |  FROM embeddings),
             |q AS (SELECT vec_id AS query_id, vec AS qv FROM v
             |  WHERE vec_id < 10),
             |s AS (SELECT query_id, c.vec_id AS neighbor_id,
             |    ${dkCosine("qv", "c.vec")} AS cosine
             |  FROM q CROSS JOIN v c WHERE query_id <> c.vec_id),
             |kept AS (SELECT query_id, neighbor_id, cosine,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY cosine DESC, neighbor_id) AS rank
             |  FROM s WHERE cosine < 0.35)
             |SELECT query_id, rank, neighbor_id,
             |  floor(cosine * 1000000)::BIGINT AS cosine_x1m
             |FROM kept WHERE rank <= 5
             |ORDER BY query_id, rank""".stripMargin)),

    // Hard-negative recall at serving nprobe (x170): what does mining
    // negatives from only 2 of the 8 stored cells cost against the
    // brute-force kept-band top-5 — the x104 self-certifying audit
    // applied to the x169 pipeline. Both legs replayed exactly by the
    // oracle (band filter BEFORE rank on both sides).
    QueryDef("x170_hard_negative_recall",
      (s, d) => {
        val root = s"$idxScratch/x170_vec"
        EvalQueries.rmTree(root)
        val emb = tbl(s, d, "embeddings")
        VectorIndex.buildIvfIndex(emb.filter(col("vec_id") % 4 =!= 0),
          "vec_id", "embedding", root, nlist = 8)
        VectorIndex.absorbIntoIvfIndex(emb.filter(col("vec_id") % 4 === 0),
          "vec_id", "embedding", root)
        val qs = emb.filter(col("vec_id") < 10)
        val exact = Similarity.hardNegatives(qs, emb, "vec_id",
            "embedding", k = 5, dupThreshold = 0.35)
          .select("query_id", "neighbor_id")
        val approx = VectorIndex.hardNegativesFromIvfIndex(qs, root,
            "vec_id", "embedding", k = 5, dupThreshold = 0.35, nprobe = 2)
          .select("query_id", "neighbor_id")
        val hits = exact.join(approx, Seq("query_id", "neighbor_id"))
          .groupBy("query_id").agg(count(lit(1)).as("hits"))
        qs.select(col("vec_id").as("query_id"))
          .join(hits, Seq("query_id"), "left")
          .na.fill(0L, Seq("hits"))
          .withColumn("recall_x100", expr("div(100 * hits, 5)"))
          .orderBy("query_id")
      },
      Some(s"""WITH v AS (SELECT vec_id,
             |    list_transform(embedding, x -> x::DOUBLE) AS vec
             |  FROM embeddings),
             |cb AS (SELECT vec_id AS cid, vec AS centroid FROM v
             |  WHERE vec_id % 4 <> 0 ORDER BY vec_id LIMIT 8),
             |cells AS (SELECT vec_id AS neighbor_id, vec AS cv, cid AS cell
             |  FROM (SELECT c.vec_id, c.vec, cb.cid,
             |      row_number() OVER (PARTITION BY c.vec_id
             |        ORDER BY ${dkCosine("c.vec", "cb.centroid")} DESC, cb.cid)
             |        AS rn
             |    FROM v c CROSS JOIN cb) a
             |  WHERE rn = 1),
             |q AS (SELECT vec_id AS query_id, vec AS qv FROM v
             |  WHERE vec_id < 10),
             |esc AS (SELECT query_id, c.vec_id AS neighbor_id,
             |    ${dkCosine("qv", "c.vec")} AS cosine
             |  FROM q CROSS JOIN v c WHERE query_id <> c.vec_id),
             |er AS (SELECT query_id, neighbor_id,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY cosine DESC, neighbor_id) AS rank
             |  FROM esc WHERE cosine < 0.35),
             |probes AS (SELECT query_id, qv, cell FROM (
             |    SELECT q.query_id, q.qv, cb.cid AS cell,
             |      row_number() OVER (PARTITION BY q.query_id
             |        ORDER BY ${dkCosine("q.qv", "cb.centroid")} DESC, cb.cid)
             |        AS pr
             |    FROM q CROSS JOIN cb) p
             |  WHERE pr <= 2),
             |isc AS (SELECT query_id, c.neighbor_id,
             |    ${dkCosine("p.qv", "c.cv")} AS cosine
             |  FROM probes p JOIN cells c USING (cell)
             |  WHERE p.query_id <> c.neighbor_id),
             |ir AS (SELECT query_id, neighbor_id,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY cosine DESC, neighbor_id) AS rank
             |  FROM isc WHERE cosine < 0.35),
             |h AS (SELECT e.query_id, count(*)::BIGINT AS hits
             |  FROM er e JOIN ir i ON e.query_id = i.query_id
             |    AND e.neighbor_id = i.neighbor_id
             |  WHERE e.rank <= 5 AND i.rank <= 5 GROUP BY 1)
             |SELECT q.query_id, coalesce(h.hits, 0)::BIGINT AS hits,
             |  (100 * coalesce(h.hits, 0)) // 5 AS recall_x100
             |FROM q LEFT JOIN h USING (query_id) ORDER BY query_id""".stripMargin)),

    // Dup-cluster census (x105): the dedup-audit histogram — how many
    // near-dup clusters of each size exist (size 1 = unique docs). Two
    // keyed aggregates over the canonical labels; the census is what a
    // curation report quotes ("12% of the corpus sits in clusters > 5").
    QueryDef("x105_cluster_census",
      (s, d) => {
        val docs = tbl(s, d, "documents")
        val pairs = Dedup.minHashLsh(docs, "doc_id", "text",
          shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5)
          .select("doc_a", "doc_b")
        Dedup.canonicalize(docs, "doc_id", pairs)
          .groupBy("canonical_id").agg(count(lit(1)).as("size"))
          .groupBy("size").agg(count(lit(1)).as("clusters"))
          .orderBy("size")
      },
      Some(censusOracle)),

    // Census FROM THE STORED LABEL ARTIFACT (x105b): identical report to
    // x105 — the oracle is shared verbatim — but the corpus-wide LSH +
    // label propagation is replaced by a parquet scan of the write-once
    // canonical-labels table (Dedup.buildCanonicalLabels, the same
    // artifact x111 consumes). Two keyed aggregates over (doc,
    // canonical_id); at 100 TB this is the report family's shape: one
    // label build per corpus generation, every census/manifest/funnel a
    // join-and-aggregate against it.
    QueryDef("x105b_census_from_labels",
      (s, d) => Dedup.readLabels(s, canonicalLabelsFor(s, d))
        .groupBy("canonical_id").agg(count(lit(1)).as("size"))
        .groupBy("size").agg(count(lit(1)).as("clusters"))
        .orderBy("size"),
      Some(censusOracle)),

    // Resharding movement report (Layout.shardMovement, 8 → 10 shards,
    // 16 vnodes): consistent-ring vs mod-hash key movement — the number
    // that decides whether a topology change is an online rebalance
    // (~2000 bp for the ring) or a full rewrite (~9000 bp for mod). The
    // ring is a literal sorted array, assignment is map-only.
    QueryDef("x106_shard_movement",
      (s, d) => Layout.shardMovement(tbl(s, d, "documents"), "doc_id",
        fromShards = 8, toShards = 10, vnodes = 16),
      Some(s"""WITH p8 AS (SELECT r1.range AS s,
             |    ('0x'||substr(md5('ring_'||r1.range::VARCHAR||'_'||r2.range::VARCHAR),1,14))::BIGINT AS ph
             |  FROM range(0, 8) r1, range(0, 16) r2),
             |p10 AS (SELECT r1.range AS s,
             |    ('0x'||substr(md5('ring_'||r1.range::VARCHAR||'_'||r2.range::VARCHAR),1,14))::BIGINT AS ph
             |  FROM range(0, 10) r1, range(0, 16) r2),
             |k AS (SELECT DISTINCT doc_id AS k,
             |    ${dkHash56("doc_id::VARCHAR")} AS kh FROM documents),
             |a AS (SELECT k.k, k.kh,
             |    coalesce((SELECT s FROM p8 WHERE ph >= k.kh ORDER BY ph, s LIMIT 1),
             |             (SELECT s FROM p8 ORDER BY ph, s LIMIT 1)) AS s8,
             |    coalesce((SELECT s FROM p10 WHERE ph >= k.kh ORDER BY ph, s LIMIT 1),
             |             (SELECT s FROM p10 ORDER BY ph, s LIMIT 1)) AS s10
             |  FROM k)
             |SELECT count(*)::BIGINT AS total,
             |  sum(CASE WHEN s8 <> s10 THEN 1 ELSE 0 END)::BIGINT AS ring_moved,
             |  ((10000 * sum(CASE WHEN s8 <> s10 THEN 1 ELSE 0 END))
             |    // greatest(count(*), 1))::BIGINT AS ring_pct_x10000,
             |  sum(CASE WHEN kh % 8 <> kh % 10 THEN 1 ELSE 0 END)::BIGINT AS mod_moved,
             |  ((10000 * sum(CASE WHEN kh % 8 <> kh % 10 THEN 1 ELSE 0 END))
             |    // greatest(count(*), 1))::BIGINT AS mod_pct_x10000
             |FROM a""".stripMargin)),

    // Personalized PageRank (x107): teleport restricted to the seed set
    // (users ≡ 0 mod 50) — rank measures proximity TO THE SEEDS through
    // the temporal-affinity graph, the seed-set expansion primitive.
    // Same superstep dataflow and checkpoint discipline as x77.
    QueryDef("x107_personalized_pagerank",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = QueryDef.events(s, d)
        val w = Window.partitionBy("event_type").orderBy("ts", "event_id")
        val edges = ev
          .withColumn("src", lag("user_id", 1).over(w))
          .filter(col("src").isNotNull && col("src") =!= col("user_id"))
          .select(col("src"), col("user_id").as("dst"))
        val seeds = ev.select(col("user_id")).distinct()
          .filter(col("user_id") % 50 === 0)
        Graph.personalizedPageRank(edges, "src", "dst", seeds,
            iterations = 3, dampingX100 = 85)
          .orderBy("node")
      },
      Some {
        val S = "1000000000000"
        def cr(i: Int) =
          s"""c$i AS (SELECT e.dst AS node, sum(r.r // o.outdeg) AS contrib
             |  FROM edges e JOIN r${i - 1} r ON e.src = r.node
             |  JOIN outdeg o ON e.src = o.node GROUP BY 1),
             |r$i AS (SELECT n.node,
             |    (CASE WHEN n.node % 50 = 0
             |      THEN (15 * ($S // ns.n)) // 100 ELSE 0 END)
             |    + COALESCE((85 * c.contrib) // 100, 0) AS r
             |  FROM nodes n CROSS JOIN ns LEFT JOIN c$i c ON n.node = c.node)""".stripMargin
        s"""WITH ev AS (SELECT event_type, epoch_us(ts) AS t_us, event_id, user_id
           |    FROM events),
           |le AS (SELECT user_id AS dst, lag(user_id) OVER (
           |    PARTITION BY event_type ORDER BY t_us, event_id) AS src FROM ev),
           |edges AS (SELECT DISTINCT src, dst FROM le
           |  WHERE src IS NOT NULL AND src <> dst),
           |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
           |outdeg AS (SELECT src AS node, count(*)::BIGINT AS outdeg
           |  FROM edges GROUP BY 1),
           |ns AS (SELECT count(*)::BIGINT AS n FROM nodes WHERE node % 50 = 0),
           |r0 AS (SELECT node,
           |    CASE WHEN node % 50 = 0 THEN ($S // n) ELSE 0 END AS r
           |  FROM nodes, ns),
           |${cr(1)},
           |${cr(2)},
           |${cr(3)}
           |SELECT n.node, r.r::BIGINT AS rank_x1e12
           |FROM nodes n JOIN r3 r ON n.node = r.node ORDER BY n.node""".stripMargin
      }),

    // Ingest triage (x108): the real crawl-absorption loop END TO END —
    // stage 1 Bloom-prefiltered EXACT dedup of the fresh batch against the
    // ingested corpus (bloomProbeNew: within-batch keeper = min id, dup
    // count per fingerprint), stage 2 NEAR-dup probe of the exact-novel
    // keepers against a PERSISTED LSH index version chain (two index
    // generations built with buildLshIndex, probed per version — the
    // store shape a versioned ingest loop accumulates; probes read stored
    // signatures, never re-shingle the corpus). Verdict per exact-novel
    // keeper: near_dup (>=0.5 Jaccard against an indexed doc) or
    // admitted. Composes x62 + x70; candidate work stays index×batch-
    // bounded in both stages.
    QueryDef("x108_ingest_triage",
      (s, d) => {
        val docs = tbl(s, d, "documents")
        val batch = docs.filter(col("doc_id") % 4 === 0)
        val idxV0 = docs.filter(col("doc_id") % 4 === 1 || col("doc_id") % 4 === 2)
        val idxV1 = docs.filter(col("doc_id") % 4 === 3)
        val root = s"$idxScratch/x108"
        // the two index generations are independent (disjoint inputs,
        // disjoint store roots) — build them concurrently (guide §2.6)
        Dedup.buildLshIndexes(
          Seq((idxV0, s"$root/v0"), (idxV1, s"$root/v1")),
          "doc_id", "text", shingleSize = 3, numHashes = 16, bands = 4)
        // exactNovel feeds three subtrees (both version probes via the
        // keeper join, plus the final report join) — checkpoint the slim
        // keeper rows so the Bloom+anti-join stage executes once (the x88
        // staging discipline).
        val exactNovel = Dedup.bloomProbeNew(batch,
          idxV0.unionByName(idxV1), "doc_id", "text",
          numBits = 1L << 20, numHashes = 5).transform(ArtifactStore.eagerCheckpoint(_, "x108_exact_novel"))
        val keepers = docs.join(
          exactNovel.select(col("keeper_id").as("doc_id")), Seq("doc_id"))
        // one shared batch front end across the version chain — the
        // per-version probes only differ in their pruned store reads
        val nearPairs = Dedup.probeLshIndexMulti(keepers,
          Seq("v0", "v1").map(v => s"$root/$v"), "doc_id", "text",
          shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5)
        val nearCounts = nearPairs
          .groupBy(col("doc_a").as("doc_id"))
          .agg(count(lit(1)).as("near_matches"))
        exactNovel.select(col("keeper_id").as("doc_id"), col("dup_count"))
          .join(nearCounts, Seq("doc_id"), "left")
          .select(col("doc_id"), col("dup_count"),
            coalesce(col("near_matches"), lit(0L)).as("near_matches"),
            when(coalesce(col("near_matches"), lit(0L)) > 0, lit("near_dup"))
              .otherwise(lit("admitted")).as("verdict"))
          .orderBy("doc_id")
      },
      Some(s"""WITH fp AS (SELECT doc_id,
             |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
             |  FROM documents),
             |bfp AS (SELECT * FROM fp WHERE doc_id % 4 = 0),
             |ifp AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 4 <> 0),
             |ek AS (SELECT fingerprint, min(doc_id) AS doc_id, count(*) AS dup_count
             |  FROM bfp WHERE fingerprint NOT IN (SELECT fingerprint FROM ifp)
             |  GROUP BY 1),
             |${minHashPairsBodyFrom("documents", "doc_id", "text",
                 candCond = "l.doc IN (SELECT doc_id FROM ek) AND r.doc % 4 <> 0")},
             |nm AS (SELECT doc_a AS doc_id, count(*) AS near_matches
             |  FROM res WHERE jac >= 0.5 GROUP BY 1)
             |SELECT ek.doc_id, ek.dup_count::BIGINT AS dup_count,
             |  coalesce(nm.near_matches, 0)::BIGINT AS near_matches,
             |  CASE WHEN coalesce(nm.near_matches, 0) > 0 THEN 'near_dup'
             |    ELSE 'admitted' END AS verdict
             |FROM ek LEFT JOIN nm USING (doc_id) ORDER BY ek.doc_id""".stripMargin)),

    // Semantic decontamination (x109): embedding-space complement to the
    // shingle-based x35 — a paraphrased benchmark item shares no 5-grams
    // with its source but sits next to it in embedding space. Eval set =
    // the vec_id % 20 = 0 slice (tiny, broadcast); per corpus vector the
    // max cosine against any eval vector, flagged at 0.3 (the synthetic
    // vectors are near-orthogonal, so the threshold keeps the flag set
    // small but non-trivial). The corpus never shuffles its vectors.
    QueryDef("x109_semantic_decontamination",
      (s, d) => {
        val emb = tbl(s, d, "embeddings")
        Curation.semanticDecontaminate(
            emb.filter(col("vec_id") % 20 =!= 0),
            emb.filter(col("vec_id") % 20 === 0),
            "vec_id", "embedding", threshold = 0.3)
          .select(col("vec_id"),
            floor(col("max_eval_cosine") * 1000000).cast("long")
              .as("max_cos_x1m"),
            col("contaminated"))
          .orderBy("vec_id")
      },
      Some(s"""WITH v AS (SELECT vec_id,
             |    list_transform(embedding, x -> x::DOUBLE) AS vec FROM embeddings),
             |c AS (SELECT vec_id, vec FROM v WHERE vec_id % 20 <> 0),
             |e AS (SELECT vec FROM v WHERE vec_id % 20 = 0),
             |mx AS (SELECT c.vec_id, max(${dkCosine("c.vec", "e.vec")}) AS mc
             |  FROM c CROSS JOIN e GROUP BY 1)
             |SELECT vec_id, floor(mc*1000000)::BIGINT AS max_cos_x1m,
             |  mc >= 0.3 AS contaminated
             |FROM mx ORDER BY vec_id""".stripMargin)),

    // Ingest ABSORB loop (x110): x108's triage closed into the full
    // crawl-absorb-grow cycle the persisted-index design exists for.
    // Batch 1 (doc_id %8==0) is triaged against index versions v0+v1
    // (Bloom exact dedup + stored-signature near-dup probe); its ADMITTED
    // keepers become index version v2 via buildLshIndex; then batch 2
    // (doc_id %8==4) is triaged against the GROWN chain — exact dedup vs
    // ingested docs (index ∪ admitted batch 1), near-dup probe vs
    // v0+v1+v2 stored signatures. Output: batch-2 verdicts. Both stages
    // stay index×batch-bounded; every probe reads stored signatures
    // (plan-pinned like x70 — batch 2's plan re-shingles only itself).
    QueryDef("x110_ingest_absorb",
      (s, d) => {
        val docs = tbl(s, d, "documents")
        val idxDocs = docs.filter(col("doc_id") % 4 =!= 0)
        val root = s"$idxScratch/x110"
        // v0/v1 are independent generations (disjoint inputs, disjoint
        // store roots) — build them concurrently (guide §2.6); v2 stays
        // sequential below, it depends on batch 1's triage
        Dedup.buildLshIndexes(
          Seq(
            (docs.filter(col("doc_id") % 4 === 1 ||
              col("doc_id") % 4 === 2), s"$root/v0"),
            (docs.filter(col("doc_id") % 4 === 3), s"$root/v1")),
          "doc_id", "text", shingleSize = 3, numHashes = 16, bands = 4)
        def triage(batch: org.apache.spark.sql.DataFrame,
            ingested: org.apache.spark.sql.DataFrame,
            versions: Seq[String]) = {
          val exactNovel = Dedup.bloomProbeNew(batch, ingested, "doc_id",
            "text", numBits = 1L << 20, numHashes = 5).transform(ArtifactStore.eagerCheckpoint(_, "x110_exact_novel"))
          val keepers = docs.join(
            exactNovel.select(col("keeper_id").as("doc_id")), Seq("doc_id"))
          // one shared batch front end across the version chain
          val nearCounts = Dedup.probeLshIndexMulti(keepers, versions,
              "doc_id", "text", shingleSize = 3, numHashes = 16,
              bands = 4, threshold = 0.5)
            .groupBy(col("doc_a").as("doc_id"))
            .agg(count(lit(1)).as("near_matches"))
          exactNovel.select(col("keeper_id").as("doc_id"), col("dup_count"))
            .join(nearCounts, Seq("doc_id"), "left")
            .select(col("doc_id"), col("dup_count"),
              coalesce(col("near_matches"), lit(0L)).as("near_matches"),
              when(coalesce(col("near_matches"), lit(0L)) > 0, lit("near_dup"))
                .otherwise(lit("admitted")).as("verdict"))
        }
        val t1 = triage(docs.filter(col("doc_id") % 8 === 0), idxDocs,
          Seq(s"$root/v0", s"$root/v1")).transform(ArtifactStore.eagerCheckpoint(_, "x110_triage_1"))
        val admitted1 = docs.join(
          t1.filter(col("verdict") === "admitted").select("doc_id"),
          Seq("doc_id"))
        Dedup.buildLshIndex(admitted1, "doc_id", "text", s"$root/v2",
          shingleSize = 3, numHashes = 16, bands = 4)
        triage(docs.filter(col("doc_id") % 8 === 4),
            idxDocs.unionByName(admitted1),
            Seq(s"$root/v0", s"$root/v1", s"$root/v2"))
          .orderBy("doc_id")
      },
      Some(s"""WITH fp AS (SELECT doc_id,
             |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
             |  FROM documents),
             |ifp AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 4 <> 0),
             |ek1 AS (SELECT fingerprint, min(doc_id) AS doc_id, count(*) AS dup_count
             |  FROM fp WHERE doc_id % 8 = 0
             |    AND fingerprint NOT IN (SELECT fingerprint FROM ifp)
             |  GROUP BY 1),
             |${minHashPairsBodyFrom("documents", "doc_id", "text",
                 candCond = "l.doc IN (SELECT doc_id FROM ek1) AND r.doc % 4 <> 0")},
             |nm1 AS (SELECT doc_a AS doc_id, count(*) AS near_matches
             |  FROM res WHERE jac >= 0.5 GROUP BY 1),
             |adm1 AS (SELECT ek1.doc_id FROM ek1 LEFT JOIN nm1 USING (doc_id)
             |  WHERE coalesce(nm1.near_matches, 0) = 0),
             |ifp2 AS (SELECT fingerprint FROM ifp
             |  UNION SELECT fp.fingerprint FROM fp JOIN adm1 USING (doc_id)),
             |ek2 AS (SELECT fingerprint, min(doc_id) AS doc_id, count(*) AS dup_count
             |  FROM fp WHERE doc_id % 8 = 4
             |    AND fingerprint NOT IN (SELECT fingerprint FROM ifp2)
             |  GROUP BY 1),
             |${minHashPairsBodyFrom("documents", "doc_id", "text",
                 candCond = "l.doc IN (SELECT doc_id FROM ek2) AND " +
                   "(r.doc % 4 <> 0 OR r.doc IN (SELECT doc_id FROM adm1))",
                 pfx = "p2")},
             |nm2 AS (SELECT doc_a AS doc_id, count(*) AS near_matches
             |  FROM p2res WHERE jac >= 0.5 GROUP BY 1)
             |SELECT ek2.doc_id, ek2.dup_count::BIGINT AS dup_count,
             |  coalesce(nm2.near_matches, 0)::BIGINT AS near_matches,
             |  CASE WHEN coalesce(nm2.near_matches, 0) > 0 THEN 'near_dup'
             |    ELSE 'admitted' END AS verdict
             |FROM ek2 LEFT JOIN nm2 USING (doc_id) ORDER BY ek2.doc_id""".stripMargin)),

    // Stored-label split manifest (x111): x103's report consuming the
    // PERSISTED canonical-label artifact (Dedup.buildCanonicalLabels —
    // built once per corpus generation, read by every report) instead of
    // recomputing corpus-wide LSH + label propagation in-plan. Identical
    // output to x103 by construction (same oracle); the bench pair
    // x103/x111 quantifies what the shared artifact saves — the consumer
    // is a parquet-scan join + one grouped aggregate.
    QueryDef("x111_manifest_from_labels",
      (s, d) => {
        val labels = Dedup.readLabels(s, canonicalLabelsFor(s, d))
        val split = labels
          .withColumn("slice",
            Portable.hash56(col("canonical_id").cast("string")) % 100)
          .select(col("doc").as("doc_id"),
            when(col("slice") < 10, "test")
              .when(col("slice") < 15, "val")
              .otherwise("train").as("split"))
        tbl(s, d, "documents")
          .select(col("doc_id"),
            size(Portable.tokens(col("text"))).cast("long").as("tk"),
            Portable.hash56(col("text")).as("h"))
          .join(split, Seq("doc_id"))
          .groupBy("split")
          .agg(count(lit(1)).as("docs"), sum(col("tk")).as("tokens"),
            expr("bit_xor(h)").as("content_checksum"))
          .orderBy("split")
      },
      Some(splitManifestOracle)),

    // Windowed append-mode hot keys (x112): the unbounded-safe twin of
    // x89 — per-(day, key) counts finalize + evict at the watermark into
    // the sink; the top-5 per closed day ranks batch-side over the
    // appended log. State is bounded by open windows, not the key domain.
    QueryDef("x112_stream_hotkeys_windowed",
      (s, d) => StreamOps.streamingHotKeysWindowedAppend(
          s, s"$d/events.parquet", "user_id", k = 5)
        .orderBy("bucket", "rank"),
      Some("""WITH c AS (SELECT epoch_us(ts) // 86400000000 AS bucket,
             |    user_id AS key, count(*)::BIGINT AS cnt
             |  FROM events GROUP BY 1, 2),
             |r AS (SELECT bucket, key, cnt, row_number() OVER (
             |    PARTITION BY bucket ORDER BY cnt DESC, key) AS rank FROM c)
             |SELECT bucket, key, cnt, rank FROM r
             |WHERE rank <= 5 ORDER BY bucket, rank""".stripMargin)),

    // Windowed append-mode stream-static enrichment (x113): x53's dim
    // join with a watermarked per-day rollup — each (day, segment) row
    // appends exactly once and leaves the store; the sentinel advances
    // the watermark and is dropped by the inner join (zero state left).
    QueryDef("x113_stream_enrich_windowed",
      (s, d) => StreamOps.streamStaticEnrichWindowedAppend(
          s, s"$d/events.parquet",
          tbl(s, d, "customer").select(col("c_custkey"), col("c_mktsegment")),
          "user_id", "c_custkey", "c_mktsegment")
        .orderBy("bucket", "c_mktsegment"),
      Some("""SELECT epoch_us(ts) // 86400000000 AS bucket, c_mktsegment,
             |  count(*)::BIGINT AS events,
             |  sum((floor(value*100 + 0.5))::BIGINT)::BIGINT AS sum_cents
             |FROM events e JOIN customer c ON e.user_id = c.c_custkey
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // BPE merge training (x119): the first 3 merges of a corpus-learned
    // byte-pair-encoding vocabulary (TextAnalysis.bpeMergeSteps) — x71's
    // bigram table is one step's candidate list; this runs the loop. The
    // oracle replays the identical relational formulation (vocab-only
    // state, run-grouped greedy merge application) as chained CTE blocks.
    QueryDef("x119_bpe_merges",
      (s, d) => TextAnalysis.bpeMergeSteps(tbl(s, d, "documents"), "text",
        steps = 3),
      Some(dkBpeOracle(3))),

    // BPE encode (x120): the trained vocabulary applied back to the
    // corpus — per-doc word and encoded-symbol counts plus the fertility
    // ratio ×100. The vocab-sized per-word length table joins the corpus
    // token stream once; the training loop never touches corpus-sized
    // data (x119's design).
    QueryDef("x120_bpe_encode",
      (s, d) => TextAnalysis.bpeEncode(tbl(s, d, "documents"), "doc_id",
          "text", steps = 3)
        .orderBy("doc_id"),
      Some(bpeEncodeOracle)),

    // BPE vocabulary ARTIFACT (x120b): the tokenizer member of the
    // write-once artifact family — the trainer's ordered merge table is
    // stored once (TextAnalysis.buildBpeVocab, ArtifactStore meta
    // discipline) and the encode runs from the STORE
    // (bpeEncodeFromVocab): each stored merge replays through the same
    // relational greedy application as the trainer, broadcast in-plan,
    // so unseen words still encode correctly and no consumer ever pays
    // the training loop again. On the training corpus the report is
    // byte-identical to x120's — the oracle is shared verbatim.
    QueryDef("x120b_bpe_encode_from_vocab",
      (s, d) => TextAnalysis.bpeEncodeFromVocab(tbl(s, d, "documents"),
          "doc_id", "text", bpeVocabFor(s, d))
        .orderBy("doc_id"),
      Some(bpeEncodeOracle)),

    // Recency-weighted engagement (x122): per-user exponentially decayed
    // value rollup in exact fixed-point — whole-half-life ages, power-of-
    // two weights (shiftleft), decimal(38,0) sum, one keyed aggregate.
    // The "how active is this user RIGHT NOW" score that a plain sum
    // (also emitted) cannot express.
    QueryDef("x122_decayed_engagement",
      (s, d) => {
        val ev = QueryDef.events(s, d)
          .select(col("user_id"), expr("unix_micros(ts)").as("t_us"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        TimeSeries.decayedScore(ev, "user_id", "t_us", "cents",
            halfLifeDays = 1, horizonHalfLives = 30)
          .orderBy("user_id")
      },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS t,
             |    (floor(value*100 + 0.5))::BIGINT AS cents FROM events),
             |mx AS (SELECT max(t) AS tmax FROM e),
             |w AS (SELECT user_id, cents,
             |    ((tmax - t) // 86400000000) AS age FROM e CROSS JOIN mx),
             |g AS (SELECT user_id, count(*)::BIGINT AS events,
             |    sum(cents)::BIGINT AS cents_total,
             |    sum((CASE WHEN age <= 30
             |      THEN cents * (1::BIGINT << (30 - age)::INT)
             |      ELSE 0 END)::DECIMAL(38,0)) AS dsum
             |  FROM w GROUP BY 1)
             |SELECT user_id, events, cents_total,
             |  (dsum::HUGEINT // 1048576)::BIGINT AS decayed_x1024
             |FROM g ORDER BY user_id""".stripMargin)),

    // Winnowing fingerprint overlap (x125, MOSS SIGMOD '03): per-window
    // minimum k-gram hashes — a ~2/(w+1) positional sample with the
    // guarantee the fixed-stride sampler (x75) cannot make: any shared
    // substring ≥ window+k−1 chars yields at least one shared
    // fingerprint, alignment-robust because minima are chosen by hash
    // value, not absolute position. Same maxBucket-guarded
    // inverted-index candidate discipline as x05/x95.
    QueryDef("x125_winnowing",
      (s, d) => Dedup.winnowingOverlap(tbl(s, d, "documents"), "doc_id",
          "text", k = 12, window = 8, minShared = 8L)
        .orderBy("doc_a", "doc_b"),
      Some(winnowOracle)),

    // The fused-native-Expression twin of x125 (graft_winnow, registered
    // via SparkSessionExtensions — the x07b pattern): value-identical
    // fingerprints from ONE primitive JIT'd loop per document instead of
    // three nested interpreted higher-order functions, so the map side
    // leaves lambda dispatch for whole-stage codegen. Same oracle — the
    // equivalence is pinned by OperatorSpec too.
    QueryDef("x125b_winnowing_native",
      (s, d) => Dedup.winnowingOverlap(tbl(s, d, "documents"), "doc_id",
          "text", k = 12, window = 8, minShared = 8L, nativeExpr = true)
        .orderBy("doc_a", "doc_b"),
      Some(winnowOracle)),

    // URL/domain curation (x126): registrable-domain extraction
    // (public-suffix core: last 2 labels, or 3 under a listed multi-label
    // suffix), blocklist, and a quality-ranked per-domain cap — the
    // crawl-side "no domain dominates" gate, map-only except one
    // domain-keyed window. URLs are synthesized deterministically from
    // (source, lang, doc_id) with rotating subdomains/TLDs and planted
    // ports so the host-stripping path is exercised.
    QueryDef("x126_domain_curation",
      (s, d) => {
        val urls = tbl(s, d, "documents").select(col("doc_id"), col("n_chars"),
          concat(lit("https://"),
            element_at(array(lit(""), lit("www."), lit("cdn."), lit("m.")),
              (pmod(col("doc_id"), lit(4)) + 1).cast("int")),
            col("source"), lit("."),
            // tld keyed on doc_id div 20: decorrelated from source (which
            // tracks doc_id % 20), so every source spans all five TLDs
            element_at(array(lit("com"), lit("org"), lit("net"),
              lit("co.uk"), lit("com.au")),
              (pmod(expr("doc_id div 20"), lit(5)) + 1).cast("int")),
            when(pmod(col("doc_id"), lit(7)) === 0, lit(":8080")).otherwise(lit("")),
            lit("/"), col("lang"), lit("/"), col("doc_id")).as("url"))
        Curation.domainCurate(urls, "doc_id", "url", "n_chars",
            multiPartSuffixes = Seq("co.uk", "com.au"),
            blockedDomains = Seq("src3.com", "src7.co.uk"), maxPerDomain = 3)
          .orderBy("doc")
      },
      Some("""WITH u AS (SELECT doc_id, n_chars,
             |    'https://' ||
             |    (CASE doc_id % 4 WHEN 0 THEN '' WHEN 1 THEN 'www.'
             |      WHEN 2 THEN 'cdn.' ELSE 'm.' END) ||
             |    source || '.' ||
             |    (CASE (doc_id // 20) % 5 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
             |      WHEN 2 THEN 'net' WHEN 3 THEN 'co.uk' ELSE 'com.au' END) ||
             |    (CASE WHEN doc_id % 7 = 0 THEN ':8080' ELSE '' END) ||
             |    '/' || lang || '/' || doc_id AS url
             |  FROM documents),
             |d AS (SELECT doc_id, url, n_chars, string_split(
             |    lower(regexp_extract(regexp_extract(url,
             |      '^[a-zA-Z]+://([^/?#]+)', 1), '^(?:[^@]*@)?([^:]+)', 1)),
             |    '.') AS labels FROM u),
             |dom AS (SELECT doc_id AS doc, url, n_chars,
             |    CASE WHEN len(labels) <= 2 THEN array_to_string(labels, '.')
             |      WHEN array_to_string(labels[-2:], '.') IN ('co.uk', 'com.au')
             |        THEN array_to_string(labels[-3:], '.')
             |      ELSE array_to_string(labels[-2:], '.') END AS domain
             |  FROM d),
             |r AS (SELECT doc, url, domain,
             |    domain IN ('src3.com', 'src7.co.uk') AS blocked,
             |    row_number() OVER (PARTITION BY domain ORDER BY
             |      domain IN ('src3.com', 'src7.co.uk'), n_chars DESC, doc)
             |      AS domain_rank
             |  FROM dom)
             |SELECT doc, url, domain, blocked,
             |  domain_rank::BIGINT AS domain_rank,
             |  (NOT blocked AND domain_rank <= 3) AS keep
             |FROM r ORDER BY doc""".stripMargin)),

    // Small-file compaction planner (x127): stripe-assign each file of a
    // per-partition listing to a rewrite group targeting 20 kB — one
    // window cumulative sum, no driver loop; the rewrite manifest a
    // compactor executes. The "files" are the documents table read as a
    // listing (part = lang, file = doc_id, bytes = n_chars) — the
    // small-file profile a per-batch append sink actually produces.
    QueryDef("x127_compaction_plan",
      (s, d) => Layout.compactionPlan(
          tbl(s, d, "documents").select(col("lang"), col("doc_id"),
            col("n_chars")),
          "lang", "doc_id", "n_chars", targetBytes = 20000L)
        .groupBy("part", "group_id")
        .agg(count(lit(1)).as("n_files"), sum("bytes").as("bytes_total"),
          min("file").as("file_lo"), max("file").as("file_hi"))
        .orderBy("part", "group_id"),
      Some("""WITH f AS (SELECT lang AS part, doc_id AS file,
             |    n_chars::BIGINT AS bytes FROM documents),
             |p AS (SELECT part, file, bytes,
             |    coalesce(sum(bytes) OVER (PARTITION BY part ORDER BY file
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS pre FROM f),
             |g AS (SELECT part, file, bytes, pre // 20000 AS group_id FROM p)
             |SELECT part, group_id::BIGINT AS group_id,
             |  count(*)::BIGINT AS n_files, sum(bytes)::BIGINT AS bytes_total,
             |  min(file)::BIGINT AS file_lo, max(file)::BIGINT AS file_hi
             |FROM g GROUP BY 1, 2 ORDER BY part, group_id""".stripMargin)),

    // Luhn-verified card audit (x128): 13-19 digit runs are only REPORTED
    // and redacted when the mod-10 check digit verifies — the PII class
    // where a bare regex over/under-fires (every id and timestamp is a
    // false candidate; a uniform digit run passes Luhn 1 in 10). Planted:
    // a doc_id-varying 16-digit account string (validity decided by the
    // in-plan checksum, different per doc), a fixed valid card, and its
    // off-by-one invalid twin.
    QueryDef("x128_luhn_card_audit",
      (s, d) => {
        val seeded = tbl(s, d, "documents").select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 7 === 0,
              concat(lit(" acct 6011"),
                lpad((col("doc_id") % 100000000).cast("string"), 9, "0"),
                lit("009 on file."))).otherwise(lit("")),
            when(col("doc_id") % 11 === 0,
              lit(" card 4532015112830366 ok")).otherwise(lit("")),
            when(col("doc_id") % 13 === 0,
              lit(" card 4532015112830367 bad")).otherwise(lit(""))).as("text"))
        Curation.luhnCardAudit(seeded, "doc_id", "text").orderBy("doc_id")
      },
      Some(s"""WITH seeded AS (SELECT doc_id, text ||
             |    CASE WHEN doc_id % 7 = 0
             |      THEN ' acct 6011' || lpad((doc_id % 100000000)::VARCHAR, 9, '0')
             |        || '009 on file.' ELSE '' END ||
             |    CASE WHEN doc_id % 11 = 0
             |      THEN ' card 4532015112830366 ok' ELSE '' END ||
             |    CASE WHEN doc_id % 13 = 0
             |      THEN ' card 4532015112830367 bad' ELSE '' END AS text
             |  FROM documents),
             |a AS (SELECT doc_id, text,
             |    regexp_extract_all(text, '${Curation.CardRe}') AS cands
             |  FROM seeded),
             |v AS (SELECT doc_id, text, cands, list_filter(cands, c ->
             |    list_sum(list_transform(range(1, length(c) + 1), i ->
             |      CASE WHEN i % 2 = 0
             |        THEN CASE WHEN (ascii(substr(reverse(c), i, 1)) - 48) * 2 > 9
             |          THEN (ascii(substr(reverse(c), i, 1)) - 48) * 2 - 9
             |          ELSE (ascii(substr(reverse(c), i, 1)) - 48) * 2 END
             |        ELSE ascii(substr(reverse(c), i, 1)) - 48 END)) % 10 = 0)
             |    AS valid
             |  FROM a)
             |SELECT doc_id, len(cands)::BIGINT AS card_candidates,
             |  len(valid)::BIGINT AS cards_valid,
             |  list_reduce(list_prepend(text, valid),
             |    (acc, cc) -> regexp_replace(acc, '\\b' || cc || '\\b',
             |      '<CARD>', 'g')) AS redacted
             |FROM v ORDER BY doc_id""".stripMargin)),

    // transformWithState event-type discovery (x129, Spark 4 state v2 +
    // RocksDB store): one row the FIRST time a (user, event_type) pair is
    // seen, with the user's running distinct-type count — MapState point
    // lookups (the seen-set stays in the store, never on the heap) plus a
    // ValueState counter, composite state the v1 GroupState can't hold
    // natively. Oracle: rank each user's first occurrences by (ts,
    // event_id).
    QueryDef("x129_stream_type_discovery",
      (s, d) => StreamOps.streamingTypeDiscovery(s, s"$d/events.parquet",
          queryName = s"stream_discovery_${System.nanoTime()}")
        .orderBy("user_id", "types_so_far"),
      Some("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t,
             |    event_id,
             |    row_number() OVER (PARTITION BY user_id, event_type
             |      ORDER BY epoch_us(ts), event_id) AS rn
             |  FROM events),
             |fs AS (SELECT user_id, event_type, t AS first_t_us,
             |    event_id AS first_event_id,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY t, event_id)::BIGINT AS types_so_far
             |  FROM e WHERE rn = 1)
             |SELECT user_id, event_type, first_t_us, first_event_id,
             |  types_so_far
             |FROM fs ORDER BY user_id, types_so_far""".stripMargin)),

    // Product-quantization ANN (x130, Quantize.pqTopK — the FAISS PQ/ADC
    // composition): 64-dim vectors split into 8 subspaces, an independent
    // 8-centroid codebook per subspace (1 Lloyd iteration, argmin-L2,
    // fixed-point means), corpus encoded as 8 centroid ids (256 → 8
    // bytes), queries answered by asymmetric distance computation over a
    // broadcast lookup table. Per-subspace partials floor into 2^20 fixed
    // point BEFORE the cross-subspace sum, so the ADC score is an exact
    // integer in both engines.
    QueryDef("x130_pq_adc_topk",
      (s, d) => {
        val emb = tbl(s, d, "embeddings")
        Quantize.pqTopK(emb.filter(col("vec_id") < 10), emb, "vec_id",
            "embedding", k = 3, dim = 64, subspaces = 8, codebookSize = 8,
            trainIterations = 1)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH v AS (SELECT vec_id,
             |    list_transform(embedding, x -> x::DOUBLE) AS vec
             |  FROM embeddings),
             |subn AS (SELECT unnest(range(0, 8)) AS sub),
             |sv AS (SELECT vec_id, sub, vec[sub*8+1 : sub*8+8] AS sv
             |  FROM v CROSS JOIN subn),
             |cb0 AS (SELECT sub, vec_id AS cid, sv AS centroid FROM sv
             |  WHERE vec_id IN (SELECT vec_id FROM v ORDER BY vec_id LIMIT 8)),
             |a1 AS (SELECT vec_id, sub, sv, cid,
             |    row_number() OVER (PARTITION BY vec_id, sub
             |      ORDER BY d2, cid) AS rn
             |  FROM (SELECT s.vec_id, s.sub, s.sv, c.cid,
             |      ${dkL2("s.sv", "c.centroid")} AS d2
             |    FROM sv s JOIN cb0 c USING (sub))),
             |e1 AS (SELECT sub, cid AS cell,
             |    unnest(range(1, len(sv)+1)) AS pos, unnest(sv) AS x
             |  FROM a1 WHERE rn = 1),
             |s1 AS (SELECT sub, cell, pos,
             |    sum(floor(x * 1048576)::BIGINT) AS s, count(*) AS n
             |  FROM e1 GROUP BY 1, 2, 3),
             |cb1 AS (SELECT sub, cell AS cid,
             |    list(s::DOUBLE / (n * 1048576)::DOUBLE ORDER BY pos) AS centroid
             |  FROM s1 GROUP BY 1, 2),
             |enc AS (SELECT vec_id, sub, cid FROM (
             |    SELECT s.vec_id, s.sub, c.cid,
             |      row_number() OVER (PARTITION BY s.vec_id, s.sub
             |        ORDER BY ${dkL2("s.sv", "c.centroid")}, c.cid) AS rn
             |    FROM sv s JOIN cb1 c USING (sub))
             |  WHERE rn = 1),
             |lut AS (SELECT q.vec_id AS qid, q.sub, c.cid,
             |    floor(${dkDot("q.sv", "c.centroid")} * 1048576)::BIGINT
             |      AS partial_fp
             |  FROM sv q JOIN cb1 c USING (sub) WHERE q.vec_id < 10),
             |scored AS (SELECT l.qid AS query_id, e.vec_id AS neighbor_id,
             |    sum(partial_fp)::BIGINT AS adc_fp
             |  FROM enc e JOIN lut l ON l.sub = e.sub AND l.cid = e.cid
             |  WHERE l.qid <> e.vec_id
             |  GROUP BY 1, 2),
             |ranked AS (SELECT query_id, neighbor_id, adc_fp,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY adc_fp DESC, neighbor_id) AS rank
             |  FROM scored)
             |SELECT query_id, rank, neighbor_id, adc_fp
             |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)),

    // Transitive decontamination (x131): x35's direct shingle-overlap
    // flags PROPAGATED through x03/x19's near-dup clusters — a paraphrased
    // or lightly-edited copy of a leaked benchmark item must be dropped
    // even when its own overlap sits below threshold, and near-dup
    // canonicalization already knows which docs are copies of each other.
    // The dirty-cluster set is tiny (contaminated docs' canonical ids), so
    // the propagation join broadcasts; everything upstream is the
    // already-certified LSH + label-propagation dataflow.
    QueryDef("x131_transitive_decontamination",
      (s, d) => {
        val docs = tbl(s, d, "documents")
        val split = Portable.hash56(col("doc_id").cast("string")) % 10
        val corpus = docs.filter(split =!= 0)
        val evalSet = docs.filter(split === 0)
        val direct = Curation.decontaminate(corpus, evalSet, "doc_id", "text",
            shingleSize = 5, thresholdPct = 20)
          .select(col("doc_id"), col("contaminated"))
        val pairs = Dedup.minHashLsh(corpus, "doc_id", "text",
            shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5)
          .select("doc_a", "doc_b")
        val labels = Dedup.canonicalize(corpus, "doc_id", pairs)
          .select(col("doc").as("doc_id"), col("canonical_id"))
        val dirty = labels.join(direct.filter(col("contaminated")), Seq("doc_id"))
          .select("canonical_id").distinct()
          .withColumn("__dirty", lit(true))
        labels.join(direct, Seq("doc_id"))
          .join(dirty, Seq("canonical_id"), "left")
          .select(col("doc_id"), col("canonical_id"),
            col("contaminated").as("direct_contaminated"),
            coalesce(col("__dirty"), lit(false)).as("cluster_contaminated"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE co AS (SELECT doc_id, text FROM documents
             |    WHERE ${dkHash56("doc_id::VARCHAR")} % 10 <> 0),
             |ev AS (SELECT doc_id, text FROM documents
             |    WHERE ${dkHash56("doc_id::VARCHAR")} % 10 = 0),
             |${minHashPairsBodyFrom("co", "doc_id", "text")},
             |pairs AS (SELECT doc_a, doc_b FROM res WHERE jac >= 0.5),
             |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
             |  UNION SELECT doc_b, doc_a FROM pairs),
             |reach(a, b) AS (
             |  SELECT doc, doc FROM toks
             |  UNION
             |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
             |canon AS (SELECT a AS doc, min(b) AS cid FROM reach GROUP BY a),
             |${dkShinglesFrom("co", "doc_id", "text", 5, "c5")},
             |${dkShinglesFrom("ev", "doc_id", "text", 5, "e5")},
             |cd AS (SELECT DISTINCT doc, h FROM c5hs),
             |ed AS (SELECT DISTINCT h FROM e5hs),
             |tot AS (SELECT doc, count(*) AS total FROM cd GROUP BY 1),
             |mat AS (SELECT cd.doc, count(*) AS matched
             |  FROM cd JOIN ed USING (h) GROUP BY 1),
             |direct AS (SELECT t.doc,
             |    (100 * coalesce(matched, 0)) // greatest(total, 1) >= 20
             |      AS contaminated
             |  FROM tot t LEFT JOIN mat USING (doc)),
             |dirty AS (SELECT DISTINCT canon.cid FROM canon
             |  JOIN direct ON canon.doc = direct.doc WHERE direct.contaminated)
             |SELECT canon.doc AS doc_id, canon.cid AS canonical_id,
             |  d.contaminated AS direct_contaminated,
             |  (canon.cid IN (SELECT cid FROM dirty)) AS cluster_contaminated
             |FROM canon JOIN direct d ON canon.doc = d.doc
             |ORDER BY doc_id""".stripMargin))
  )

  /** DuckDB twin of TextAnalysis.bpeMergeSteps: the identical relational
    * BPE loop as chained CTE blocks. Per step t: pair counts over
    * adjacent vocab symbols → 1-row best (cnt DESC, pair ASC) → matched
    * positions grouped into consecutive runs (pos − row_number), odd
    * ranks accepted (BPE's greedy non-overlapping scan) → accepted
    * positions take the merged symbol, their right neighbors drop, and
    * positions re-rank dense for the next step's adjacency join.
    */
  /** x120/x120b shared oracle: the per-doc encode report after 3
    * trained merges — storing and reloading the vocabulary must be
    * invisible to the result. (A def: `all` initializes before later
    * vals.) */
  private def bpeEncodeOracle: String =
    s"""WITH ${dkBpeCtes(3, applyLast = true)},
       |wlen AS (SELECT w, count(*)::BIGINT AS sym_count FROM s4 GROUP BY w),
       |dt AS (SELECT doc_id, tok AS w FROM (
       |    SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok
       |    FROM documents)
       |  WHERE regexp_full_match(tok, '[a-z]+')),
       |agg AS (SELECT doc_id, count(*)::BIGINT AS words,
       |    sum(sym_count)::BIGINT AS bpe_tokens
       |  FROM dt JOIN wlen USING (w) GROUP BY 1)
       |SELECT d.doc_id, coalesce(words, 0)::BIGINT AS words,
       |  coalesce(bpe_tokens, 0)::BIGINT AS bpe_tokens,
       |  ((100 * coalesce(bpe_tokens, 0)) //
       |    greatest(coalesce(words, 0), 1))::BIGINT AS avg_symbols_x100
       |FROM documents d LEFT JOIN agg USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  private def dkBpeOracle(steps: Int): String = {
    val sel = (1 to steps).map(t =>
      s"SELECT $t AS step, a AS left_sym, b AS right_sym, cnt AS pair_count FROM b$t")
      .mkString("\nUNION ALL ")
    s"WITH ${dkBpeCtes(steps, applyLast = false)}\n$sel\nORDER BY step"
  }

  /** The BPE training CTE chain shared by x119 (merge table) and x120
    * (encode): with `applyLast` the final merge is also applied, so
    * `s{steps+1}` holds the post-training symbol state the encode
    * aggregates over.
    */
  private def dkBpeCtes(steps: Int, applyLast: Boolean): String = {
    val base =
      """w0 AS (SELECT tok AS w, count(*)::BIGINT AS freq FROM (
        |    SELECT unnest(string_split_regex(lower(text), '\s+')) AS tok
        |    FROM documents)
        |  WHERE regexp_full_match(tok, '[a-z]+') GROUP BY 1),
        |s1 AS (SELECT w, freq, pos, substr(w, pos, 1) AS sym FROM (
        |    SELECT w, freq, unnest(range(1, length(w)+1)) AS pos FROM w0))""".stripMargin
    val stepCtes = (1 to steps).map { t =>
      val pick =
        s"""p$t AS (SELECT l.sym AS a, r.sym AS b, sum(l.freq)::BIGINT AS cnt
           |  FROM s$t l JOIN s$t r ON l.w = r.w AND r.pos = l.pos + 1
           |  GROUP BY 1, 2),
           |b$t AS (SELECT a, b, cnt FROM p$t ORDER BY cnt DESC, a, b LIMIT 1)""".stripMargin
      if (t == steps && !applyLast) pick else
        pick + ",\n" +
          s"""m$t AS (SELECT l.w, l.pos FROM s$t l
             |  JOIN s$t r ON l.w = r.w AND r.pos = l.pos + 1
             |  CROSS JOIN b$t WHERE l.sym = b$t.a AND r.sym = b$t.b),
             |r$t AS (SELECT w, pos,
             |    row_number() OVER (PARTITION BY w ORDER BY pos) AS rn FROM m$t),
             |a$t AS (SELECT w, pos FROM (SELECT w, pos,
             |    row_number() OVER (PARTITION BY w, pos - rn ORDER BY pos) AS rg
             |  FROM r$t) WHERE rg % 2 = 1),
             |s${t + 1}raw AS (SELECT s.w, s.freq, s.pos,
             |    CASE WHEN a.pos IS NOT NULL THEN bt.a || bt.b ELSE s.sym END AS sym
             |  FROM s$t s CROSS JOIN b$t bt
             |  LEFT JOIN a$t a ON s.w = a.w AND s.pos = a.pos
             |  LEFT JOIN a$t c ON s.w = c.w AND s.pos = c.pos + 1
             |  WHERE c.pos IS NULL),
             |s${t + 1} AS (SELECT w, freq,
             |    row_number() OVER (PARTITION BY w ORDER BY pos) AS pos, sym
             |  FROM s${t + 1}raw)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$stepCtes"
  }

  /** Shared oracle for x103 and its stored-label consumer twin x111 —
    * identical output by construction (the labels x111 reads are exactly
    * what x103's in-plan LSH + canonicalize computes).
    */
  private lazy val splitManifestOracle: String =
    s"""WITH RECURSIVE $minHashPairsBody,
       |pairs AS (SELECT doc_a, doc_b FROM res WHERE jac >= 0.5),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(a, b) AS (
       |  SELECT doc, doc FROM toks
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |canon AS (SELECT a AS doc, min(b) AS cid FROM reach GROUP BY a),
       |sp AS (SELECT doc AS doc_id,
       |  CASE WHEN ${dkHash56("cid::VARCHAR")} % 100 < 10 THEN 'test'
       |       WHEN ${dkHash56("cid::VARCHAR")} % 100 < 15 THEN 'val'
       |       ELSE 'train' END AS split
       |  FROM canon),
       |m AS (SELECT d.doc_id,
       |    len(string_split_regex(lower(d.text), '\\s+'))::BIGINT AS tk,
       |    ${dkHash56("d.text")} AS h, sp.split
       |  FROM documents d JOIN sp USING (doc_id))
       |SELECT split, count(*)::BIGINT AS docs, sum(tk)::BIGINT AS tokens,
       |  bit_xor(h)::BIGINT AS content_checksum
       |FROM m GROUP BY 1 ORDER BY split""".stripMargin

  /** DuckDB twin of TextAnalysis.modelQualityScore's feature + score CTEs
    * (default weights), ending in `scored(doc_id, features..., score)`.
    * Body has no WITH so it composes into WITH RECURSIVE lists (x60).
    */
  private[queries] lazy val dkQualityModelCtes: String = s"WITH $dkQualityModelBody"

  private lazy val dkQualityModelBody: String =
    """m AS (SELECT doc_id, length(text) AS chars,
      |    len(string_split_regex(lower(text), '\s+')) AS words,
      |    (100 * length(replace(text, ' ', ''))) //
      |      greatest(len(string_split_regex(lower(text), '\s+')), 1) AS avg_word_len_x100,
      |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digits,
      |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS punct,
      |    length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS uppercase,
      |    len(list_distinct(string_split_regex(lower(text), '\s+'))) AS dw
      |  FROM documents),
      |f AS (SELECT doc_id, avg_word_len_x100,
      |    (100 * dw) // greatest(words, 1) AS distinct_ratio_pct,
      |    (100 * digits) // greatest(chars, 1) AS digit_ratio_pct,
      |    (100 * punct) // greatest(chars, 1) AS punct_ratio_pct,
      |    (100 * uppercase) // greatest(chars, 1) AS upper_ratio_pct,
      |    words
      |  FROM m),
      |scored AS (SELECT doc_id, avg_word_len_x100, distinct_ratio_pct,
      |    digit_ratio_pct, punct_ratio_pct, upper_ratio_pct, words,
      |    (2*avg_word_len_x100 + 30*distinct_ratio_pct - 40*digit_ratio_pct
      |     - 25*punct_ratio_pct - 10*upper_ratio_pct + 1*words)::BIGINT AS score
      |  FROM f)""".stripMargin

  /** The x88 corpus→training-set funnel body, parameterized by the
    * staging strategy. `stageCheckpoints = false` is the fully
    * declarative twin whose plan `PlanSpec` inspects: the staged default
    * hides its subtrees behind localCheckpoint scans.
    *
    * `stageCheckpoints = true` eagerly checkpoints each stage's
    * slim id-set (`ArtifactStore.eagerCheckpoint`): the report is a union of 6 stage rows and Spark does NOT
    * share common subtrees across union branches, so without the cut the
    * exact-dedup + LSH prefix re-executes once per downstream branch.
    * Checkpointing truncates lineage to the materialized id rows (KBs per
    * stage) at the price of 4 serialized materialization barriers; local
    * checkpoints are non-replicated, so an executor loss forces a stage
    * recompute — acceptable for a report query.
    *
    * `stageCheckpoints = false` leaves the full declarative plan standing:
    * branches replay the shared prefix, but ReusedExchange still shares
    * the feature-set shuffle across the LSH bucket/verify paths, every
    * stage runs with no barrier, and nothing is driver-materialized.
    *
    * MEASURED (round 8, both shapes in one session, 1×–16× on the sf0.1
    * corpus, two independent sweeps): the shapes CROSS between 8× and
    * 16×. Unstaged wins up to 8× (4.3–6.7 s vs 5.4–8.3 s — the barriers
    * cost more than the replayed prefix while the shared exchanges are
    * memory-resident), staged wins
    * at 16× in both sweeps (10.3/11.1 s vs 14.1/13.2 s) and carries the
    * flatter exponent (0.23 vs 0.39–0.43) — re-running the corpus-wide
    * dedup prefix per branch is the term that grows, exactly the
    * 100 TB-direction argument. Default = true (staged): the sf0.1 bench
    * pays ~1.3 s for the shape that wins from ~80 k docs up — the same
    * "slower at sf0.1, alive at scale" trade x95's flood guard makes.
    */
  private[graft] def curationFunnel(docs: org.apache.spark.sql.DataFrame,
      stageCheckpoints: Boolean = true,
      labelsPath: Option[String] = None): org.apache.spark.sql.DataFrame = {
    def cut(ids: org.apache.spark.sql.DataFrame) =
      if (stageCheckpoints) ArtifactStore.eagerCheckpoint(ids, "funnel_stage") else ids
    val tk = docs.select(col("doc_id"),
      size(Portable.tokens(col("text"))).cast("long").as("tk"))
    def stageRow(ord: Int, name: String, ids: org.apache.spark.sql.DataFrame) =
      ids.join(tk, Seq("doc_id"))
        .agg(count(lit(1)).as("docs"),
          coalesce(sum(col("tk")), lit(0L)).as("tokens"))
        .select(lit(ord).as("stage_ord"), lit(name).as("stage"),
          col("docs"), col("tokens"))
    val ek = cut(Dedup.exact(docs, "doc_id", "text")
      .select(col("keeper_id").as("doc_id")))
    val s1docs = docs.join(ek, Seq("doc_id"))
    // Near-dup stage: either computed in-plan (corpus-wide LSH + label
    // propagation over the exact keepers) or CONSUMED from the stored
    // full-corpus canonical-labels artifact. The two are value-identical
    // by construction: an exact duplicate has the SAME shingle set as its
    // keeper, so it lands in the same LSH buckets, its edges duplicate the
    // keeper's (adding no connectivity), and every component minimum is an
    // exact keeper — full-corpus label keepers ARE the post-exact-dedup
    // near-dup keepers. The ek join just makes the dependency explicit
    // (slim id∙id join). OperatorSpec pins the equivalence on the real
    // corpus.
    val s2ids = labelsPath match {
      case Some(path) => cut(Dedup.readLabels(docs.sparkSession, path)
        .filter(col("is_keeper")).select(col("doc").as("doc_id"))
        .join(ek, Seq("doc_id")))
      case None =>
        val pairs = Dedup.minHashLsh(s1docs, "doc_id", "text",
          shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5)
          .select("doc_a", "doc_b")
        cut(Dedup.canonicalize(s1docs, "doc_id", pairs)
          .filter(col("is_keeper")).select(col("doc").as("doc_id")))
    }
    val s2docs = s1docs.join(s2ids, Seq("doc_id"))
    val slice = Portable.hash56(col("doc_id").cast("string")) % 10
    val evalSet = docs.filter(slice === 0)
    val corpus3 = s2docs.filter(slice =!= 0)
    val s3ids = cut(Curation.decontaminate(corpus3, evalSet, "doc_id", "text",
        shingleSize = 5, thresholdPct = 20)
      .filter(!col("contaminated")).select("doc_id"))
    val s3docs = corpus3.join(s3ids, Seq("doc_id"))
    val s4ids = cut(TextAnalysis.modelQualityScore(s3docs, "doc_id", "text",
        threshold = 2300L)
      .filter(col("keep")).select("doc_id"))
    val s4docs = docs.join(s4ids, Seq("doc_id"))
    val packed = Curation.packSequences(s4docs, "doc_id", "text",
      capacity = 256, numShards = 8)
    val s5 = packed
      .agg(count_distinct(col("shard"), col("seq_id")).as("docs"),
        coalesce(sum(col("tokens_in_seq")), lit(0L)).as("tokens"))
      .select(lit(5).as("stage_ord"), lit("packed").as("stage"),
        col("docs"), col("tokens"))
    stageRow(0, "raw", docs.select("doc_id"))
      .unionByName(stageRow(1, "exact_dedup", ek))
      .unionByName(stageRow(2, "near_dedup", s2ids))
      .unionByName(stageRow(3, "decontaminated", s3ids))
      .unionByName(stageRow(4, "quality", s4ids))
      .unionByName(s5)
      .orderBy("stage_ord")
  }

  /** x88/x88b shared oracle — the corpus→training-set funnel report. */
  private lazy val funnelReportOracle: String =
    s"""WITH RECURSIVE
             |rt AS (SELECT doc_id,
             |    len(string_split_regex(lower(text), '\\s+'))::BIGINT AS tk
             |  FROM documents),
             |ek AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
             |s1 AS (SELECT d.doc_id, d.text FROM documents d JOIN ek USING (doc_id)),
             |${minHashPairsBodyFrom("s1", "doc_id", "text")},
             |prs AS (SELECT doc_a, doc_b FROM res WHERE jac >= 0.5),
             |edg AS (SELECT doc_a AS a, doc_b AS b FROM prs
             |  UNION SELECT doc_b, doc_a FROM prs),
             |reach(a, b) AS (
             |  SELECT doc, doc FROM toks
             |  UNION
             |  SELECT r.a, e.b FROM reach r JOIN edg e ON r.b = e.a),
             |canon AS (SELECT a AS doc, min(b) AS c FROM reach GROUP BY a),
             |s2 AS (SELECT s1.doc_id, s1.text FROM s1
             |  JOIN canon ON s1.doc_id = canon.doc WHERE canon.c = s1.doc_id),
             |ev AS (SELECT doc_id, text FROM documents
             |  WHERE ${dkHash56("doc_id::VARCHAR")} % 10 = 0),
             |co AS (SELECT doc_id, text FROM s2
             |  WHERE ${dkHash56("doc_id::VARCHAR")} % 10 <> 0),
             |ctoks AS (SELECT doc_id AS doc,
             |    string_split_regex(lower(text), '\\s+') AS ctk FROM co),
             |csh AS (SELECT DISTINCT doc,
             |    unnest(list_transform(range(1, greatest(len(ctk)-4,1)+1),
             |      i -> array_to_string(list_slice(ctk, i, i+4), ' '))) AS shingle
             |  FROM ctoks),
             |chs AS (SELECT DISTINCT doc, ${dkHash56("shingle")} AS h FROM csh),
             |etoks AS (SELECT string_split_regex(lower(text), '\\s+') AS etk FROM ev),
             |esh AS (SELECT DISTINCT
             |    unnest(list_transform(range(1, greatest(len(etk)-4,1)+1),
             |      i -> array_to_string(list_slice(etk, i, i+4), ' '))) AS shingle
             |  FROM etoks),
             |ehs AS (SELECT DISTINCT ${dkHash56("shingle")} AS h FROM esh),
             |dtot AS (SELECT doc, count(*)::BIGINT AS ts FROM chs GROUP BY doc),
             |dmat AS (SELECT doc, count(*)::BIGINT AS ms
             |  FROM chs JOIN ehs USING (h) GROUP BY doc),
             |s3 AS (SELECT co.doc_id FROM co
             |  JOIN dtot t ON co.doc_id = t.doc
             |  LEFT JOIN dmat mm ON co.doc_id = mm.doc
             |  WHERE (100 * coalesce(mm.ms, 0)) // greatest(t.ts, 1) < 20),
             |$dkQualityModelBody,
             |s4 AS (SELECT s3.doc_id FROM s3
             |  JOIN scored USING (doc_id) WHERE scored.score >= 2300),
             |pb AS (SELECT s4.doc_id, rt.tk AS doc_tokens,
             |    (${dkHash56("s4.doc_id::VARCHAR")} % 8)::INT AS shard
             |  FROM s4 JOIN rt USING (doc_id)),
             |pc AS (SELECT doc_id, shard, doc_tokens,
             |    (sum(doc_tokens) OVER (PARTITION BY shard ORDER BY doc_id
             |      ROWS UNBOUNDED PRECEDING))::BIGINT AS end_off
             |  FROM pb),
             |pe AS (SELECT shard, end_off - doc_tokens AS start_off, end_off,
             |    unnest(range((end_off - doc_tokens) // 256,
             |      (end_off - 1) // 256 + 1)) AS seq_id
             |  FROM pc),
             |pk AS (SELECT count(DISTINCT (shard, seq_id))::BIGINT AS docs,
             |    coalesce(sum(least(end_off, (seq_id + 1) * 256)
             |      - greatest(start_off, seq_id * 256)), 0)::BIGINT AS tokens
             |  FROM pe)
             |SELECT * FROM (
             |  SELECT 0 AS stage_ord, 'raw' AS stage,
             |    (SELECT count(*) FROM documents)::BIGINT AS docs,
             |    (SELECT sum(tk) FROM rt)::BIGINT AS tokens
             |  UNION ALL SELECT 1, 'exact_dedup', (SELECT count(*) FROM s1)::BIGINT,
             |    (SELECT sum(tk) FROM s1 JOIN rt USING (doc_id))::BIGINT
             |  UNION ALL SELECT 2, 'near_dedup', (SELECT count(*) FROM s2)::BIGINT,
             |    (SELECT sum(tk) FROM s2 JOIN rt USING (doc_id))::BIGINT
             |  UNION ALL SELECT 3, 'decontaminated', (SELECT count(*) FROM s3)::BIGINT,
             |    (SELECT sum(tk) FROM s3 JOIN rt USING (doc_id))::BIGINT
             |  UNION ALL SELECT 4, 'quality', (SELECT count(*) FROM s4)::BIGINT,
             |    (SELECT sum(tk) FROM s4 JOIN rt USING (doc_id))::BIGINT
             |  UNION ALL SELECT 5, 'packed', (SELECT docs FROM pk),
             |    (SELECT tokens FROM pk)
             |) ORDER BY stage_ord""".stripMargin

  private lazy val funnelStages: Seq[String] =
    Seq.fill(3)(Seq("view", "click", "purchase")).flatten

  private lazy val funnelOracle: String = {
    val ctes = funnelStages.zipWithIndex.map { case (st, i) =>
      val n = i + 1
      if (i == 0)
        s"""s1 AS (SELECT user_id, ts AS t1, event_id AS i1 FROM e
           |  WHERE event_type = '$st'
           |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) = 1)""".stripMargin
      else
        s"""s$n AS (SELECT e.user_id, e.ts AS t$n, e.event_id AS i$n FROM e
           |  JOIN s$i USING (user_id)
           |  WHERE event_type = '$st' AND (e.ts, e.event_id) > (t$i, i$i)
           |  QUALIFY row_number() OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id) = 1)""".stripMargin
    }.mkString(",\n")
    val cases = funnelStages.indices.reverse
      .map(i => s"WHEN s${i + 1}.user_id IS NOT NULL THEN ${i + 1}").mkString("\n  ")
    val joins = funnelStages.indices
      .map(i => s"LEFT JOIN s${i + 1} USING (user_id)").mkString("\n")
    s"""WITH e AS (SELECT user_id, ts, event_id, event_type FROM events),
       |$ctes,
       |users AS (SELECT DISTINCT user_id FROM e)
       |SELECT CASE
       |  $cases
       |  ELSE 0 END AS reached,
       |  count(*)::BIGINT AS users
       |FROM users
       |$joins
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }
}
