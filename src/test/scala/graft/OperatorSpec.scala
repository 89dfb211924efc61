package graft

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.operators.{Dedup, Eval, Multimodal, Profile, Quantize, Similarity, TextAnalysis, VectorIndex}

/** Behavioral tests for the training-data extension operators on planted
  * inputs (small, exact expectations — the sf-level hash checks live in the
  * Verify/oracle gate).
  */
class OperatorSpec extends SparkSpec with Matchers {
  import org.apache.spark.sql.DataFrame

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  test("exact dedup groups identical texts, keeps min id") {
    val out = Dedup.exact(docs(
      1L -> "the quick brown fox", 2L -> "the quick brown fox",
      3L -> "something else"), "doc_id", "text")
      .orderBy("keeper_id").collect()
    out.map(r => (r.getLong(1), r.getLong(2))).toSeq shouldBe Seq((1L, 2L), (3L, 1L))
  }

  test("fingerprint dedup ignores case/whitespace differences") {
    val out = Dedup.fingerprint(docs(
      1L -> "The  Quick\tBrown Fox", 2L -> "the quick brown fox",
      3L -> "different"), "doc_id", "text")
    out.filter(col("dup_count") === 2).select("keeper_id").first().getLong(0) shouldBe 1L
  }

  test("minhash LSH finds a planted near-duplicate and skips unrelated docs") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val base2 = "ichi ni san shi go roku nana hachi kyu ju " +
      "juichi juni jusan jushi jugo juroku junana juhachi juku niju"
    val nearDup = base.replace("sigma", "sigma2")
    val unrelated = "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen"
    // 8 bands × 2 rows: P(miss) = (1-j²)^8 ≈ 2e-5 at j≈0.85, and the hash
    // family is deterministic, so this either always passes or never does.
    val out = Dedup.minHashLsh(docs(1L -> (base + " " + base2), 2L -> (nearDup + " " + base2),
      3L -> unrelated),
      "doc_id", "text", shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.5)
      .collect()
    out.map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe Seq((1L, 2L))
    val jac = out.head.getAs[Double]("jaccard")
    jac should be > 0.5
    jac should be < 1.0
  }

  test("minhash LSH cacheFeatures knob is value-identical to the default path") {
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    def run(cache: Boolean) = Dedup.minHashLsh(corpus, "doc_id", "text",
        shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.3,
        cacheFeatures = cache)
      .orderBy("doc_a", "doc_b").collect().map(_.toSeq).toSeq
    run(cache = true) shouldBe run(cache = false)
  }

  test("exact quantiles follow the inverse-CDF (PERCENTILE_DISC) definition") {
    import spark.implicits._
    import graft.operators.Profile
    // n=4 with a fat tail: p50 target ceil(2)=2 -> 1; p75 target 3 -> 1;
    // p76 target ceil(3.04)=4 -> 1000 (the smallest v with cum >= target)
    val df = Seq(1L, 1L, 1L, 1000L).toDF("v")
    val out = Profile.exactQuantiles(df, "v", Seq(5000, 7500, 7600, 10000))
      .orderBy("q_x10k").collect()
    out.map(r => (r.getInt(0), r.getLong(1))).toSeq shouldBe
      Seq((5000, 1L), (7500, 1L), (7600, 1000L), (10000, 1000L))
  }

  test("line dedup keeps the first occurrence of each line, order preserved") {
    val out = TextAnalysis.dedupLines(docs(
      1L -> "header\nbody one\nheader\nbody two\nheader",
      2L -> "unique one\nunique two"), "doc_id", "text")
      .orderBy("doc_id").collect()
    out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq shouldBe
      Seq((1L, 5L, 2L, "header\nbody one\nbody two"),
        (2L, 2L, 0L, "unique one\nunique two"))
  }

  test("bigram table counts adjacent pairs, deterministic top-k cut") {
    val out = TextAnalysis.bigramTable(docs(
      1L -> "to be or not to be", 2L -> "to be is to do"), "text", k = 3).collect()
    // pairs: (to,be)x3, (be,or), (or,not), (not,to), (be,is), (is,to), (to,do)
    out.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq shouldBe
      Seq(("to", "be", 3L), ("be", "is", 1L), ("be", "or", 1L))
  }

  test("collocations: exact decimal lift on a hand-computed corpus") {
    // bigrams: doc1 (x,y)(y,x)(x,y), doc2 (x,y)(y,z)(z,w) -> pc(x,y)=3,
    // T2=6, prefix ca(x)=3, suffix cb(y)=3; minCount=2 keeps only (x,y):
    // lift_x1e6 = div(1e6*3*6, 3*3) = 2_000_000 (decimal path, same value
    // int64 gave before the overflow restaging).
    val out = TextAnalysis.collocations(docs(
      1L -> "x y x y", 2L -> "x y z w"), "text", minCount = 2L, k = 10).collect()
    out.length shouldBe 1
    (out.head.getString(0), out.head.getString(1), out.head.getLong(2),
      out.head.getLong(3)) shouldBe ("x", "y", 3L, 2000000L)
  }

  test("skip-gram table tags pairs with distance; bigram is the distance-1 slice") {
    val out = TextAnalysis.skipGramTable(docs(1L -> "a b c a b"), "text",
      window = 2, k = 100).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3))).toSeq
    // d1: (a,b)x2 (b,c) (c,a); d2: (a,c) (b,a) (c,b)
    out.head shouldBe ("a", "b", 1, 2L)
    out.toSet shouldBe Set(("a", "b", 1, 2L), ("b", "c", 1, 1L), ("c", "a", 1, 1L),
      ("a", "c", 2, 1L), ("b", "a", 2, 1L), ("c", "b", 2, 1L))
  }

  test("vocab coverage: top-V vocabulary by frequency, exact OOV fixed point") {
    // freqs: a=3, b=1, c=1 -> vocab(2) = [a, b] (tie b<c); doc 2's 'c' is OOV
    val out = TextAnalysis.vocabCoverage(docs(1L -> "a a b", 2L -> "a c"),
      "doc_id", "text", vocabSize = 2).orderBy("doc_id").collect()
    out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq shouldBe
      Seq((1L, 3L, 0L, 0L), (2L, 2L, 1L, 500000L))
  }

  test("cluster-balanced sample keeps at most perCell members per cell") {
    import spark.implicits._
    // first three ids seed the codebook (one per planted cluster); cell 1
    // gets three members total, the quota must drop exactly one of them
    val emb = Seq(
      1L -> Seq(1.0, 0.0), 2L -> Seq(0.0, 1.0), 3L -> Seq(-1.0, 0.5),
      4L -> Seq(0.9, 0.1), 5L -> Seq(0.1, 0.9), 6L -> Seq(-0.9, 0.4),
      7L -> Seq(0.95, 0.05)).toDF("vec_id", "embedding")
    val out = Similarity.clusterBalancedSample(emb, "vec_id", "embedding",
      nlist = 3, perCell = 2).collect()
    out.length shouldBe 6
    out.groupBy(_.getAs[Long]("cell")).view.mapValues(_.length).toMap shouldBe
      Map(1L -> 2, 2L -> 2, 3L -> 2)
    all(out.map(_.getAs[Int]("cell_rank"))) should be <= 2
    // members of cell 1 are {1,4,7}; exactly two of them survive
    out.filter(_.getAs[Long]("cell") == 1L).map(_.getAs[Long]("vec_id")).toSet
      .subsetOf(Set(1L, 4L, 7L)) shouldBe true
  }

  test("bloom-prefiltered incremental dedup matches the exact anti-join result") {
    val batch = docs(10L -> "seen before", 11L -> "Seen   BEFORE", 12L -> "brand new",
      13L -> "also new", 14L -> "also new")
    val index = docs(1L -> "seen before", 2L -> "other corpus text")
    val out = Dedup.bloomProbeNew(batch, index, "doc_id", "text",
      numBits = 1L << 12, numHashes = 5).orderBy("keeper_id").collect()
    // 10/11 collapse to the index fingerprint (not novel); 12 novel alone;
    // 13/14 are an in-batch dup pair with keeper 13 — same contract as
    // incrementalNew, the sketch must not change a single row
    out.map(r => (r.getAs[Long]("keeper_id"), r.getAs[Long]("dup_count"))).toSeq shouldBe
      Seq((12L, 1L), (13L, 2L))
    val exact = Dedup.incrementalNew(batch, index, "doc_id", "text")
      .orderBy("keeper_id").collect()
    out.map(_.toSeq).toSeq shouldBe exact.map(_.toSeq).toSeq
  }

  test("incremental near-dup probes batch against index only — no within-side pairs") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val indexDup = base.replace("tau", "tau2")   // near-dups base, lives in the index
    val batchDup = base.replace("sigma", "sigma2") // near-dups both index docs
    val novel = "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen"
    val out = Dedup.incrementalNearDup(
      batch = docs(10L -> batchDup, 11L -> novel),
      index = docs(1L -> base, 2L -> indexDup, 3L -> "unrelated corpus text entirely"),
      "doc_id", "text", shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.5)
      .orderBy("doc_a", "doc_b").collect()
    // (1,2) is a near-dup pair WITHIN the index — must not be emitted;
    // novel batch doc 11 matches nothing.
    out.map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe Seq((10L, 1L), (10L, 2L))
    all(out.map(_.getAs[Double]("jaccard"))) should be > 0.5
  }

  test("substring dedup flags verbatim shared blocks, ignores unique text") {
    val block = ("the quick brown fox jumps over the lazy dog again and again " * 3).trim
    val out = Dedup.substringDedup(docs(
      1L -> s"unique preamble one. $block",
      2L -> s"totally different lead-in text here!! $block",
      3L -> "no overlap with anything else in this corpus, short and alone " * 3),
      "doc_id", "text", k = 64, stride = 16, minDocs = 2)
      .orderBy("doc").collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    // docs 1 and 2 share the long block -> both have shared spans; doc 3 none
    out(0)._2 should be > 0L
    out(1)._2 should be > 0L
    out(2)._2 shouldBe 0L
  }

  test("winnowing: a shared span at different offsets yields the guaranteed fingerprint density") {
    // span of ~37 distinctive pseudo-words (with digits so grams are rare)
    val span = (1 to 37).map(i => s"qw${i}zx${i * 7}vb").mkString(" ")
    val out = Dedup.winnowingOverlap(docs(
      1L -> s"short lead. $span",
      2L -> s"a much longer and differently sized preamble sentence here!! $span",
      3L -> "entirely unrelated content with none of the planted span words " * 4),
      "doc_id", "text", k = 8, window = 8, minShared = 16L)
      .orderBy("doc_a", "doc_b").collect()
    out.map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe Seq((1L, 2L))
    // worst-case winnowing density: >= 1 fingerprint per `window` interior
    // positions of the shared span — with ~300 span chars that is >= ~20
    // shared fingerprints, far above the minShared noise floor
    out(0).getLong(2) should be >= 20L
  }

  test("native shingle-hash sets equal the declarative explode/collect_set path on the real corpus") {
    import org.apache.spark.sql.functions.{col, collect_set, lower, split, expr}
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    for (k <- Seq(1, 3, 5)) {
      val declarative = corpus
        .select(col("doc_id"), lower(col("text")).as("t"))
        .select(col("doc_id"), org.apache.spark.sql.functions.explode(
          expr(s"transform(sequence(1, greatest(size(split(t, '\\\\s+')) - ${k - 1}, 1)), " +
            s"i -> array_join(slice(split(t, '\\\\s+'), i, $k), ' '))")).as("shingle"))
        .select(col("doc_id"),
          graft.functions.Portable.hash56(col("shingle")).as("h"))
        .groupBy("doc_id").agg(collect_set(col("h")).as("fs"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
      val native = corpus.select(col("doc_id"),
          graft.functions.ShingleHashes.ofCol(col("text"), k).as("fs"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
      withClue(s"k=$k ") { native shouldBe declarative }
    }
  }

  test("winnowing native expression matches the declarative pipeline bit for bit") {
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    def run(native: Boolean) = Dedup.winnowingOverlap(corpus, "doc_id", "text",
        k = 12, window = 8, minShared = 2L, nativeExpr = native)
      .orderBy("doc_a", "doc_b").collect().map(_.toSeq).toSeq
    run(false) shouldBe run(true)
  }

  test("pq adc top-k: neighbors stay within the planted prototype family") {
    import spark.implicits._
    // 24 vectors = 4 well-separated prototypes + tiny deterministic noise;
    // PQ (2 subspaces x 4 centroids) must rank same-family vectors first
    val protos = Seq(
      Seq(1.0, 1.0, 1.0, 1.0, 0.0, 0.0, 0.0, 0.0),
      Seq(0.0, 0.0, 0.0, 0.0, 1.0, 1.0, 1.0, 1.0),
      Seq(1.0, -1.0, 1.0, -1.0, 0.0, 0.0, 0.0, 0.0),
      Seq(0.0, 0.0, 0.0, 0.0, 1.0, -1.0, 1.0, -1.0))
    val vecs = (0L until 24L).map { id =>
      val p = protos((id % 4).toInt)
      (id, p.zipWithIndex.map { case (x, j) => x + 0.001 * ((id * 7 + j) % 5) })
    }.toDF("vec_id", "embedding")
    val out = Quantize.pqTopK(vecs.filter(col("vec_id") < 4), vecs, "vec_id",
        "embedding", k = 3, dim = 8, subspaces = 2, codebookSize = 4,
        trainIterations = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    out.length shouldBe 12
    // every returned neighbor shares the query's prototype family
    out.foreach { case (q, _, n) => (n % 4) shouldBe (q % 4) }
  }

  test("luhn card audit: verifies the mod-10 check digit, redacts only valid numbers") {
    import spark.implicits._
    import graft.operators.Curation
    val rows = Seq(
      (1L, "pay 4532015112830366 now"),          // valid visa test number
      (2L, "fake 4532015112830367 here"),        // off-by-one: fails Luhn
      (3L, "order 123456789012 shipped"),        // 12 digits: not a candidate
      (4L, "amex-length 371449635398431 ok"),    // valid 15-digit
      (5L, "no digits at all"),
      // a benign 17-digit id CONTAINING the valid card as a substring:
      // boundary-anchored redaction must leave it untouched
      (6L, "ref 94532015112830366 pay 4532015112830366"))
      .toDF("doc_id", "text")
    val out = Curation.luhnCardAudit(rows, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    out.map(t => (t._2, t._3)).toSeq shouldBe
      Seq((1L, 1L), (1L, 0L), (0L, 0L), (1L, 1L), (0L, 0L), (2L, 1L))
    out(0)._4 shouldBe "pay <CARD> now"
    out(1)._4 shouldBe "fake 4532015112830367 here" // invalid left untouched
    out(3)._4 shouldBe "amex-length <CARD> ok"
    out(5)._4 shouldBe "ref 94532015112830366 pay <CARD>"
  }

  test("compaction plan: stripe assignment packs to target, giant files are never split") {
    import spark.implicits._
    import graft.operators.Layout
    val files = Seq(
      ("a", 1L, 10L), ("a", 2L, 10L), ("a", 3L, 10L),
      ("a", 4L, 10L), ("a", 5L, 10L), ("a", 6L, 10L),
      ("b", 1L, 5L), ("b", 2L, 100L), ("b", 3L, 5L))
      .toDF("part", "file", "bytes")
    val out = Layout.compactionPlan(files, "part", "file", "bytes", targetBytes = 25L)
      .orderBy("part", "file").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    // part a: prefixes 0,10,20,30,40,50 -> stripes 0,0,0,1,1,2
    out.filter(_._1 == "a").map(_._3).toSeq shouldBe Seq(0L, 0L, 0L, 1L, 1L, 2L)
    // part b: the 100-byte file starts in stripe 0 and is NOT split; the
    // next file's prefix (105) lands in stripe 4
    out.filter(_._1 == "b").map(_._3).toSeq shouldBe Seq(0L, 0L, 4L)
  }

  test("domain curation: suffix-list extraction, host stripping, blocklist, per-domain cap") {
    import spark.implicits._
    import graft.operators.Curation
    val rows = Seq(
      (1L, "https://www.acme.co.uk/a", 90L),     // multi-label suffix -> acme.co.uk
      (2L, "https://cdn.acme.co.uk:443/b", 80L), // port stripped, same domain
      (3L, "https://user:pw@acme.co.uk/c", 70L), // userinfo stripped
      (4L, "https://acme.com/d", 60L),           // plain 2-label domain
      (5L, "http://localhost/e", 50L),           // 1-label host stays whole
      (6L, "https://evil.org/f", 99L),           // blocklisted
      (7L, "https://sub.deep.acme.com/g", 40L),  // >3 labels -> last 2
      // pathless URL with a query string: authority must stop at '?' —
      // and the '@' inside the query must NOT be read as userinfo
      // (a crafted ?ref=user@evil.org would otherwise choose its domain)
      (8L, "https://acme.com?ref=user@evil.org", 30L))
      .toDF("doc_id", "url", "quality")
    val out = Curation.domainCurate(rows, "doc_id", "url", "quality",
        multiPartSuffixes = Seq("co.uk"), blockedDomains = Seq("evil.org"),
        maxPerDomain = 2)
      .orderBy("doc").collect()
      .map(r => (r.getLong(0), r.getString(2), r.getBoolean(3),
        r.getLong(4), r.getBoolean(5)))
    out.map(_._2).toSeq shouldBe Seq("acme.co.uk", "acme.co.uk", "acme.co.uk",
      "acme.com", "localhost", "evil.org", "acme.com", "acme.com")
    // acme.co.uk has 3 docs ranked by quality desc (1, 2, 3) — cap 2 drops doc 3
    out.filter(_._2 == "acme.co.uk").map(t => (t._1, t._4, t._5)).toSeq shouldBe
      Seq((1L, 1L, true), (2L, 2L, true), (3L, 3L, false))
    out.find(_._1 == 6L).get._3 shouldBe true  // blocked
    out.find(_._1 == 6L).get._5 shouldBe false
    out.find(_._1 == 5L).get._5 shouldBe true  // localhost kept
  }

  test("domain curation: IPv6 literals keep the whole address; host-less URLs get NULL domain") {
    import spark.implicits._
    import graft.operators.Curation
    val rows = Seq(
      (1L, "http://[::1]:8080/a", 90L),              // bracketed v6 + port
      (2L, "http://[2001:db8::2]/b", 80L),           // bracketed v6, no port
      (3L, "http://u:p@[2001:db8::2]:443/c", 70L),   // userinfo + v6 + port
      (4L, "relative/path/only", 60L),               // no scheme -> no host
      (5L, "/rooted/path", 50L),                     // relative -> no host
      (6L, "https://acme.com/ok", 40L))              // control
      .toDF("doc_id", "url", "quality")
    val out = Curation.domainCurate(rows, "doc_id", "url", "quality",
        multiPartSuffixes = Nil, blockedDomains = Nil, maxPerDomain = 10)
      .orderBy("doc").collect()
      .map(r => (r.getLong(0), r.getString(2), r.getBoolean(3), r.getBoolean(5)))
    out.map(_._2).toSeq shouldBe Seq("::1", "2001:db8::2", "2001:db8::2",
      null, null, "acme.com")
    // host-less rows are flagged out, not silently pooled into one domain
    out.filter(_._2 == null).map(_._4).toSeq shouldBe Seq(false, false)
    out.filter(_._2 == null).map(_._3).toSeq shouldBe Seq(false, false)
    out.find(_._1 == 6L).get._4 shouldBe true
    // the two v6 docs share a domain partition and rank within it
    graft.operators.Curation.domainCurate(rows, "doc_id", "url", "quality",
        Nil, Nil, maxPerDomain = 1)
      .filter(col("domain") === "2001:db8::2")
      .orderBy("domain_rank").collect()
      .map(r => (r.getLong(0), r.getBoolean(5))).toSeq shouldBe
      Seq((2L, true), (3L, false))
  }

  test("persisted LSH index probe matches the in-plan incremental probe") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val batch = docs(10L -> base.replace("sigma", "sigma2"), 11L -> "novel words only here")
    val index = docs(1L -> base, 2L -> "other corpus text entirely")
    val path = java.nio.file.Files.createTempDirectory("graft-lsh-spec").toString
    Dedup.buildLshIndex(index, "doc_id", "text", path, shingleSize = 3,
      numHashes = 16, bands = 8)
    val stored = Dedup.probeLshIndex(batch, path, "doc_id", "text",
      shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.5)
      .orderBy("doc_a", "doc_b").collect()
    val inPlan = Dedup.incrementalNearDup(batch, index, "doc_id", "text",
      shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.5)
      .orderBy("doc_a", "doc_b").collect()
    stored.map(_.toSeq).toSeq shouldBe inPlan.map(_.toSeq).toSeq
    stored.map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe Seq((10L, 1L))
    // parameter contract: a probe with DIFFERENT MinHash parameters
    // wouldn't fail — its signatures would just never collide and every
    // batch doc would silently read as novel. The meta store the build
    // wrote turns that silent recall loss into a loud error.
    val mismatch = intercept[IllegalArgumentException] {
      Dedup.probeLshIndex(batch, path, "doc_id", "text",
        shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5)
    }
    mismatch.getMessage should include("built with shingleSize=3, numHashes=16, bands=8")
    // an index with no meta dir has no layout to read through: the
    // probe fails with the named layout error. The cache must be dropped
    // to simulate a fresh JVM looking at this path: the build above
    // seeded it.
    rmDir(s"$path/meta")
    graft.operators.ArtifactStore.invalidateMeta(spark, path)
    intercept[graft.operators.StoreLayoutException] {
      Dedup.probeLshIndex(batch, path, "doc_id", "text",
        shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5)
    }.getMessage should include("Dedup.buildLshIndex")
  }

  test("index meta is read at most once per (JVM, path); the build seeds the cache") {
    val corpus = docs(1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "iota kappa lambda mu nu xi omicron pi rho sigma")
    val path = java.nio.file.Files.createTempDirectory("graft-metacache").toString
    Dedup.buildLshIndex(corpus, "doc_id", "text", path,
      shingleSize = 3, numHashes = 16, bands = 8)
    def probe(): Unit = {
      Dedup.probeLshIndex(docs(10L -> "alpha beta gamma delta"), path,
        "doc_id", "text", shingleSize = 3, numHashes = 16, bands = 8)
        .count(); ()
    }
    // the build knows what it wrote: consumers in the same JVM never
    // pay a meta-read Spark job at all
    val afterBuild = graft.operators.ArtifactStore.metaReads.get()
    probe(); probe()
    graft.operators.ArtifactStore.metaReads.get() shouldBe afterBuild
    // a fresh JVM (cache dropped) pays exactly ONE read for any number
    // of probes — the per-batch driver round-trip the production absorb
    // loop must not pay per call
    graft.operators.ArtifactStore.invalidateMeta(spark, path)
    probe(); probe()
    graft.operators.ArtifactStore.metaReads.get() shouldBe afterBuild + 1
  }

  test("pairsFromLshIndex maxBucket guard bounds a flooded stored bucket") {
    // An index built WITHOUT prior exact dedup: 12 byte-identical docs put
    // 12 identical signatures in every band bucket, and the stored-bucket
    // self-join pays C(12,2) = 66 candidate pairs for zero information.
    // The maxBucket guard drops those flooded buckets; the genuine
    // near-dup pair (its buckets hold 2 docs) must survive.
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val flood = (1L to 12L).map(i => i -> ("copy pasta block repeated verbatim " +
      "across the whole mirror set with no variation at all"))
    val pair = Seq(100L -> base, 101L -> base.replace("sigma", "sigma2"))
    val corpus = docs((flood ++ pair ++ Seq(200L -> "unrelated text island")): _*)
    val path = java.nio.file.Files.createTempDirectory("graft-floodidx").toString
    Dedup.buildLshIndex(corpus, "doc_id", "text", path,
      shingleSize = 3, numHashes = 16, bands = 8)
    val unguarded = Dedup.pairsFromLshIndex(spark, path, threshold = 0.5)
    unguarded.count() shouldBe 66L + 1L
    val guarded = Dedup.pairsFromLshIndex(spark, path, threshold = 0.5,
      maxBucket = Some(8L)).collect()
    guarded.map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe Seq((100L, 101L))
  }

  test("absorbIntoLabels equals a full canonical-labels rebuild over corpus+batch") {
    def blk(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val u = blk("u", 10); val v = blk("v", 10); val w = blk("w", 10)
    val z = blk("z", 20); val y = blk("y", 20)
    // corpus: component A {10, 20} (canonical 10), component B {30, 40}
    // (canonical 30) — A and B share the u block (jaccard ~0.29, below
    // threshold: LSH may candidate them, exact verify rejects) — plus
    // singleton 50
    val corpus = docs(
      10L -> s"$u $v", 20L -> s"$u ${v.replace("v5 ", "v5x ")}",
      30L -> s"$u $w", 40L -> s"$u ${w.replace("w5 ", "w5x ")}",
      50L -> z)
    // batch: 5 bridges A and B (jaccard ~0.64/0.53 to each side) AND
    // takes over as keeper (5 < 10 < 30); 65 joins 50's cluster (50
    // stays keeper); 70/71 form a batch-only cluster; 80 is novel
    val batch = docs(
      5L -> s"$u $v $w",
      65L -> z.replace("z5 ", "z5x "),
      70L -> y, 71L -> y.replace("y5 ", "y5x "),
      80L -> "totally novel content tokens only nothing shared here at all")
    val root = java.nio.file.Files.createTempDirectory("graft-absorb").toString
    Dedup.buildCanonicalLabels(corpus, "doc_id", "text", s"$root/labels",
      shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.5)
    Dedup.buildLshIndex(corpus, "doc_id", "text", s"$root/idx",
      shingleSize = 3, numHashes = 16, bands = 8)
    // absorb in place into a copy, leaving the base untouched
    copyDir(s"$root/labels", s"$root/labels2")
    copyDir(s"$root/idx", s"$root/idx2")
    val inc = Dedup.absorbIntoLabels(batch, "doc_id", "text",
        s"$root/labels2", s"$root/idx2", shingleSize = 3, numHashes = 16,
        bands = 8, threshold = 0.5)
      .orderBy("doc").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    Dedup.buildCanonicalLabels(corpus.unionByName(batch), "doc_id", "text",
      s"$root/labelsFull", shingleSize = 3, numHashes = 16, bands = 8,
      threshold = 0.5)
    val full = Dedup.readLabels(spark, s"$root/labelsFull").orderBy("doc")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    inc.toSeq shouldBe full.toSeq
    // the narrative cases, pinned explicitly so a both-sides-wrong
    // regression can't hide inside the equality
    val canon = inc.map(r => r._1 -> r._2).toMap
    Seq(5L, 10L, 20L, 30L, 40L).map(canon) shouldBe Seq.fill(5)(5L)
    Seq(50L, 65L).map(canon) shouldBe Seq(50L, 50L)
    Seq(70L, 71L).map(canon) shouldBe Seq(70L, 70L)
    canon(80L) shouldBe 80L
    inc.filter(_._3).map(_._1).toSeq shouldBe Seq(5L, 50L, 70L, 80L)
    // the grown index already contains the batch: a fresh probe against
    // idx2 finds the batch-only y-cluster without any rebuild
    Dedup.probeLshIndex(docs(900L -> y), s"$root/idx2", "doc_id", "text",
        shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.5)
      .select("doc_b").collect().map(_.getLong(0)).sorted.toSeq shouldBe
      Seq(70L, 71L)
  }

  test("absorbIntoLabels crash recovery: a retry after the index append but before the labels swap reconverges") {
    def blk(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val u = blk("u", 10); val v = blk("v", 10); val z = blk("z", 20)
    val corpus = docs(10L -> s"$u $v",
      20L -> s"$u ${v.replace("v5 ", "v5x ")}", 50L -> z)
    val batch = docs(5L -> s"$u ${v.replace("v7 ", "v7x ")}",
      65L -> z.replace("z5 ", "z5x "))
    val root = java.nio.file.Files.createTempDirectory("graft-absorbcrash").toString
    Dedup.buildCanonicalLabels(corpus, "doc_id", "text", s"$root/labels",
      shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.5)
    Dedup.buildLshIndex(corpus, "doc_id", "text", s"$root/idx",
      shingleSize = 3, numHashes = 16, bands = 8)
    copyDir(s"$root/labels", s"$root/labelsPre") // the pre-absorb state
    def absorb(): Seq[(Long, Long, Boolean)] =
      Dedup.absorbIntoLabels(batch, "doc_id", "text", s"$root/labels",
          s"$root/idx", shingleSize = 3, numHashes = 16, bands = 8,
          threshold = 0.5)
        .orderBy("doc").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val clean = absorb()
    val featRows = spark.read.parquet(s"$root/idx/features").count()
    val bucketRows = spark.read.parquet(s"$root/idx/buckets").count()
    // simulate the crash window the write-ordering contract names: the
    // index append COMMITTED but the labels swap never ran — restore the
    // pre-absorb labels over the grown index and retry the same absorb
    rmDir(s"$root/labels"); copyDir(s"$root/labelsPre", s"$root/labels")
    val retried = absorb()
    retried shouldBe clean
    // the idempotent append skipped every already-present row: no
    // duplicate signatures in either store
    spark.read.parquet(s"$root/idx/features").count() shouldBe featRows
    spark.read.parquet(s"$root/idx/buckets").count() shouldBe bucketRows
    spark.read.parquet(s"$root/idx/features").groupBy("doc").count()
      .agg(max("count")).head().getLong(0) shouldBe 1L
  }

  test("retractFromLabels equals a full rebuild over corpus minus retracted: keeper hand-off, bridge split, untouched rows") {
    def blk(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val a = blk("a", 10); val b = blk("b", 10); val c = blk("c", 10)
    val w = blk("w", 20); val z = blk("z", 20); val y = blk("y", 20)
    // component {5,10,20}: 5 is BOTH the keeper and the only bridge —
    // 10 and 20 share just the a-block (jaccard ~0.29, below threshold)
    // and connect only through 5 (~0.64/~0.53). {30,40}: retract the
    // non-keeper. {50,65}: retract keeper 50 — 65 must take over.
    // {70,71}: untouched. 80: retracted singleton.
    val corpus = docs(
      5L -> s"$a $b $c",
      10L -> s"$a $b", 20L -> s"$a $c",
      30L -> w, 40L -> w.replace("w5 ", "w5x "),
      50L -> z, 65L -> z.replace("z5 ", "z5x "),
      70L -> y, 71L -> y.replace("y5 ", "y5x "),
      80L -> "lonely island tokens shared with nothing else at all here")
    val retractIds = Seq(5L, 40L, 50L, 80L)
    val retract = corpus.filter(col("doc_id").isin(retractIds: _*))
      .select("doc_id")
    val root = java.nio.file.Files.createTempDirectory("graft-retract").toString
    Dedup.buildCanonicalLabels(corpus, "doc_id", "text", s"$root/labels",
      shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.5)
    Dedup.buildLshIndex(corpus, "doc_id", "text", s"$root/idx",
      shingleSize = 3, numHashes = 16, bands = 8)
    // the base component really is {5,10,20} — the split below is real
    Dedup.readLabels(spark, s"$root/labels").orderBy("doc").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
      .filter(kv => Seq(5L, 10L, 20L).contains(kv._1)) shouldBe
      Map(5L -> 5L, 10L -> 5L, 20L -> 5L)
    // retract in place from a copy, leaving the base untouched
    copyDir(s"$root/labels", s"$root/labels2")
    copyDir(s"$root/idx", s"$root/idx2")
    val out = Dedup.retractFromLabels(retract, "doc_id", s"$root/labels2",
        s"$root/idx2", threshold = 0.5)
      .orderBy("doc").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    Dedup.buildCanonicalLabels(
      corpus.filter(!col("doc_id").isin(retractIds: _*)), "doc_id", "text",
      s"$root/labelsFull", shingleSize = 3, numHashes = 16, bands = 8,
      threshold = 0.5)
    val full = Dedup.readLabels(spark, s"$root/labelsFull").orderBy("doc")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    out.toSeq shouldBe full.toSeq
    // narrative pins: bridge retraction SPLITS {10,20}; keeper 50 hands
    // off to 65; untouched component keeps its rows; retracted rows gone
    val canon = out.map(r => r._1 -> r._2).toMap
    canon shouldBe Map(10L -> 10L, 20L -> 20L, 30L -> 30L, 65L -> 65L,
      70L -> 70L, 71L -> 70L)
    Dedup.probeLshIndex(docs(900L -> z), s"$root/idx2", "doc_id", "text",
        shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.5)
      .select("doc_b").collect().map(_.getLong(0)).toSeq shouldBe Seq(65L)
  }

  test("in-place retraction: tombstone-filtered consumers, absorb clash guard, crash retry, compaction") {
    def blk(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val z = blk("z", 20); val y = blk("y", 20)
    val corpus = docs(50L -> z, 65L -> z.replace("z5 ", "z5x "),
      70L -> y, 71L -> y.replace("y5 ", "y5x "))
    val retract = corpus.filter(col("doc_id") === 50L).select("doc_id")
    val root = java.nio.file.Files.createTempDirectory("graft-retractip").toString
    Dedup.buildCanonicalLabels(corpus, "doc_id", "text", s"$root/labels",
      shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.5)
    Dedup.buildLshIndex(corpus, "doc_id", "text", s"$root/idx",
      shingleSize = 3, numHashes = 16, bands = 8)
    copyDir(s"$root/labels", s"$root/labelsPre")
    def run() = Dedup.retractFromLabels(retract, "doc_id",
        s"$root/labels", s"$root/idx", threshold = 0.5)
      .orderBy("doc").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val first = run()
    first shouldBe Seq((65L, 65L, true), (70L, 70L, true), (71L, 70L, false))
    new java.io.File(s"$root/idx/tombstones").isDirectory shouldBe true
    // every index consumer reads through the tombstone filter
    Dedup.probeLshIndex(docs(900L -> z), s"$root/idx", "doc_id", "text",
        shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.5)
      .select("doc_b").collect().map(_.getLong(0)).toSeq shouldBe Seq(65L)
    Dedup.pairsFromLshIndex(spark, s"$root/idx", threshold = 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe Seq((70L, 71L))
    // re-ingesting a tombstoned id without compaction is a loud error
    val clash = intercept[IllegalArgumentException] {
      Dedup.absorbIntoLabels(docs(50L -> z), "doc_id", "text",
        s"$root/labels", s"$root/idx", shingleSize = 3, numHashes = 16,
        bands = 8, threshold = 0.5)
    }
    clash.getMessage should include("tombstoned")
    // crash window: tombstones appended but the labels swap never ran —
    // a plain retry reconverges
    rmDir(s"$root/labels"); copyDir(s"$root/labelsPre", s"$root/labels")
    run() shouldBe first
    // a replayed COMPLETED retraction is a no-op by construction: its
    // ids are absent from the labels (no component touched) and already
    // tombstoned (the append skips them) — the streaming takedown drain
    // (x159) needs no replay guard because of exactly this
    run() shouldBe first
    spark.read.parquet(s"$root/idx/tombstones").count() shouldBe 1L
    // compaction folds the tombstones physically; consumers unchanged
    Dedup.compactLshIndex(spark, s"$root/idx")
    new java.io.File(s"$root/idx/tombstones").exists() shouldBe false
    spark.read.parquet(s"$root/idx/features").select("doc").collect()
      .map(_.getLong(0)).sorted.toSeq shouldBe Seq(65L, 70L, 71L)
    Dedup.pairsFromLshIndex(spark, s"$root/idx", threshold = 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe Seq((70L, 71L))
    // after compaction the id is free for re-ingest (re-crawl
    // supersede): 50 rejoins 65's component and takes the keeper seat
    val back = Dedup.absorbIntoLabels(docs(50L -> z), "doc_id", "text",
        s"$root/labels", s"$root/idx", shingleSize = 3, numHashes = 16,
        bands = 8, threshold = 0.5)
      .orderBy("doc").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    back shouldBe Seq((50L, 50L), (65L, 50L), (70L, 70L), (71L, 70L))
  }

  test("hardNegatives: the near-dup band is excluded BEFORE the top-k; the hardest genuine negative leads") {
    import spark.implicits._
    // anchor 0's nearest vector (1) is a near-dup (cos ~0.999) and must
    // NOT appear as a negative; 2 is the hardest genuine negative, 3
    // next, 4 near-orthogonal
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.02f, 0.0f)),   // dup band
      (2L, Array(0.8f, 0.6f, 0.0f)),    // cos 0.8
      (3L, Array(0.5f, 0.866f, 0.0f)),  // cos 0.5
      (4L, Array(0.0f, 0.0f, 1.0f))     // cos 0
    ).toDF("vec_id", "embedding")
    val out = Similarity.hardNegatives(vecs.filter($"vec_id" === 0L),
        vecs, "vec_id", "embedding", k = 2, dupThreshold = 0.95)
      .orderBy("rank").collect()
      .map(r => (r.getInt(1), r.getLong(2)))
    out.toSeq shouldBe Seq((1, 2L), (2, 3L))
  }

  test("bpeEncodeFromVocab equals train-and-encode; unseen words encode through applicable merges") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // merges learned here: step 1 (a,a) [6 pair occurrences], step 2 (a,b)
    val corpus = Seq((1L, "aaaa abab"), (2L, "abab bb aaaa")).toDF("id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-bpev").toString + "/vocab"
    TextAnalysis.buildBpeVocab(corpus, "text", steps = 2, path = root)
    def report(df: org.apache.spark.sql.DataFrame) = df.orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    report(TextAnalysis.bpeEncodeFromVocab(corpus, "id", "text", root)) shouldBe
      report(TextAnalysis.bpeEncode(corpus, "id", "text", steps = 2))
    // a batch the trainer never saw: (a,a) finds nothing in "abababab",
    // (a,b) compresses it 8 -> 4 symbols; "zz" passes through untouched
    report(TextAnalysis.bpeEncodeFromVocab(
      Seq((10L, "abababab zz")).toDF("id", "text"), "id", "text",
      root)) shouldBe Seq((10L, 2L, 6L, 300L))
    // no meta -> the named layout error, not a silent empty vocabulary
    val bad = intercept[graft.operators.StoreLayoutException] {
      TextAnalysis.bpeEncodeFromVocab(corpus, "id", "text",
        root + "-nowhere")
    }
    bad.getMessage should include("TextAnalysis.buildBpeVocab")
  }

  test("VectorIndex lifecycle: frozen-codebook absorb, tombstone retract, compaction, clash guard") {
    import spark.implicits._
    import graft.operators.VectorIndex
    val base = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.9f, 0.1f))).toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("graft-vecidx").toString + "/idx"
    VectorIndex.buildIvfIndex(base, "vec_id", "embedding", root, nlist = 2)
    val q0 = Seq((100L, Array(1.0f, 0.05f))).toDF("vec_id", "embedding")
    def probe() = VectorIndex.probeIvfIndex(q0, root, "vec_id",
        "embedding", k = 2, nprobe = 1)
      .orderBy("rank").collect().map(_.getLong(2)).toSeq
    // nprobe=1: only centroid 1's cell is visited -> {1, 3}
    probe() shouldBe Seq(1L, 3L)
    // absorb assigns to the FROZEN codebook; the new exact-match vector
    // takes rank 1
    val batch = Seq((4L, Array(1.0f, 0.05f))).toDF("vec_id", "embedding")
    VectorIndex.absorbIntoIvfIndex(batch, "vec_id", "embedding", root)
    probe() shouldBe Seq(4L, 1L)
    // a replayed absorb appends nothing (idempotent per-store anti-join)
    VectorIndex.absorbIntoIvfIndex(batch, "vec_id", "embedding", root)
    spark.read.parquet(s"$root/vectors").groupBy("vec_id").count()
      .agg(max("count")).head().getLong(0) shouldBe 1L
    // retraction hides the vector from every probe; the codebook keeps
    // centroid 1's geometry even though its seed vector is retracted
    VectorIndex.retractFromIvfIndex(Seq(1L).toDF("vec_id"), "vec_id", root)
    probe() shouldBe Seq(4L, 3L)
    // re-ingesting a tombstoned id without compaction is a loud error
    val clash = intercept[IllegalArgumentException] {
      VectorIndex.absorbIntoIvfIndex(
        Seq((1L, Array(0.8f, 0.0f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", root)
    }
    clash.getMessage should include("tombstoned")
    // compaction folds the tombstones physically; answers unchanged,
    // and the id is free for re-ingest
    VectorIndex.compactIvfIndex(spark, root)
    new java.io.File(s"$root/tombstones").exists() shouldBe false
    probe() shouldBe Seq(4L, 3L)
    VectorIndex.absorbIntoIvfIndex(
      Seq((1L, Array(0.8f, 0.0f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", root)
    probe() shouldBe Seq(4L, 1L)
    // parameter contract: probing more cells than the stored nlist is
    // a loud error, not a silent partial answer
    val bad = intercept[IllegalArgumentException] {
      VectorIndex.probeIvfIndex(q0, root, "vec_id", "embedding",
        k = 2, nprobe = 3)
    }
    bad.getMessage should include("nlist")
  }

  test("IVF probe reads only its nprobe cells: rows-read A/B against the same store flattened") {
    import spark.implicits._
    import graft.operators.VectorIndex
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("graft-ivfcells").toString
    VectorIndex.buildIvfIndex(emb, "vec_id", "embedding", root, nlist = 8)
    // one query held on the driver, so neither run reads it from a file
    val q = Seq((-1L, emb.filter(col("vec_id") === 7L).head()
        .getAs[scala.collection.Seq[Float]]("embedding").toArray))
      .toDF("vec_id", "embedding")
    val (prunedTop, _, prunedRows) = org.apache.spark.sql.graft
      .InputBytesMeter.measureIO(spark.sparkContext) {
        VectorIndex.probeIvfIndex(q, root, "vec_id", "embedding", k = 5,
          nprobe = 2).orderBy("rank").collect().map(_.getLong(2)).toSeq
      }
    // the control: a direct full read of the same store's vectors, then
    // the same answer derived from it — the query's 2 nearest cells,
    // scored exactly, top 5
    val (flatVecs, _, flatRows) = org.apache.spark.sql.graft
      .InputBytesMeter.measureIO(spark.sparkContext) {
        spark.read.parquet(s"$root/vectors").localCheckpoint()
      }
    val qv = q.select(col("embedding").cast("array<double>").as("qv"))
    val nearCells = spark.read.parquet(s"$root/centroids").crossJoin(qv)
      .orderBy(Similarity.cosine(col("qv"), col("centroid")).desc,
        col("cid"))
      .limit(2).collect().map(_.getAs[Any]("cid"))
    val flatTop = flatVecs.filter(col("cell").isin(nearCells.toIndexedSeq: _*))
      .crossJoin(qv)
      .orderBy(Similarity.cosine(col("qv"), col("vec")).desc, col("vec_id"))
      .limit(5).collect().map(_.getAs[Long]("vec_id")).toSeq
    prunedTop shouldBe flatTop
    prunedTop.head shouldBe 7L
    info(s"rows read: $prunedRows cell-pruned, $flatRows full read")
    flatRows should be >= 500L // the full read scans every stored vector
    // 2 of 8 cells hold about a quarter of the vectors; a probe that scans
    // every cell reads as much as the full read
    assert(prunedRows * 2 < flatRows,
      s"cell-pruned probe read $prunedRows rows, full read $flatRows")
  }

  test("IVF ids sidecar: content-independent absorb skip, id-pruned retract scoping, lifecycle consistency") {
    import spark.implicits._
    import graft.operators.VectorIndex
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val root = java.nio.file.Files
      .createTempDirectory("graft-sidecar").toString + "/idx"
    VectorIndex.buildIvfIndex(emb.filter(col("vec_id") % 4 =!= 0),
      "vec_id", "embedding", root, nlist = 4)
    // the sidecar exists, is id-hash partitioned, and mirrors the
    // vectors store row for row
    val sidecarIds = spark.read.parquet(s"$root/ids")
      .select("vec_id").collect().map(_.getLong(0)).sorted
    val vecIds = spark.read.parquet(s"$root/vectors")
      .select("vec_id").collect().map(_.getLong(0)).sorted
    sidecarIds shouldBe vecIds
    new java.io.File(s"$root/ids").list().exists(_.startsWith("i=")) shouldBe true
    // OUT-OF-CONTRACT re-ingest: a committed id arrives again with NEW
    // vector content (different cell). The id-keyed present check must
    // skip it — benign, like the pre-pruning full-scan check — instead
    // of appending a duplicate key (round-13 advisory: the cell-pruned
    // check missed this, because new content lands in different dirs)
    val committed = vecIds.head
    val origVec = spark.read.parquet(s"$root/vectors")
      .filter(col("vec_id") === committed)
      .head().getAs[scala.collection.Seq[Double]]("vec")
    val mutated = Seq((committed,
        origVec.map(v => (-v).toFloat).reverse.toArray))
      .toDF("vec_id", "embedding")
    VectorIndex.absorbIntoIvfIndex(mutated, "vec_id", "embedding", root)
    val after = spark.read.parquet(s"$root/vectors")
      .filter(col("vec_id") === committed).collect()
    after.length shouldBe 1
    after.head.getAs[scala.collection.Seq[Double]]("vec") shouldBe origVec
    spark.read.parquet(s"$root/ids")
      .filter(col("vec_id") === committed).count() shouldBe 1L
    // RETRACT SCOPING reads the takedown ids' sidecar partitions, not a
    // corpus-wide vec_id scan — A/B against a direct full read of the
    // same store's vec_id column, scoped to the same ids
    val takedown = vecIds.takeRight(2).toSeq.toDF("vec_id")
    val (_, _, controlRows) = org.apache.spark.sql.graft.InputBytesMeter
      .measureIO(spark.sparkContext) {
        spark.read.parquet(s"$root/vectors").select("vec_id")
          .join(broadcast(takedown), Seq("vec_id"), "left_semi").count()
      }
    val (_, _, prunedRows) = org.apache.spark.sql.graft.InputBytesMeter
      .measureIO(spark.sparkContext) {
        VectorIndex.retractFromIvfIndex(takedown, "vec_id", root)
      }
    assert(prunedRows < controlRows,
      s"pruned retract scoping read $prunedRows rows, " +
        s"full vec_id read $controlRows")
    // the store tombstoned exactly the 2 held ids
    spark.read.parquet(s"$root/tombstones").count() shouldBe 2L
    // compact folds the tombstones out of the SIDECAR too — the
    // retracted ids must be re-ingestable with the id-keyed check clean
    VectorIndex.compactIvfIndex(spark, root)
    val postIds = spark.read.parquet(s"$root/ids")
      .select("vec_id").collect().map(_.getLong(0)).sorted
    val postVecs = spark.read.parquet(s"$root/vectors")
      .select("vec_id").collect().map(_.getLong(0)).sorted
    postIds shouldBe postVecs
    postIds should not contain vecIds.last
  }

  test("histogram artifact: quantiles are shard-split invariant; upper bound covers the quantile") {
    import spark.implicits._
    import graft.operators.Profile
    val vals = (1 to 1000).map(i => (i.toLong, (i * i).toLong))
      .toDF("id", "cents")
    def quant(shards: Int) = Profile.quantilesFromHistogram(
        Profile.histogramShard(
          vals.withColumn("shard", pmod(col("id"), lit(shards))),
          "shard", col("cents"), widthCents = 10000L),
        widthCents = 10000L, qsX10000 = Seq(5000, 9900, 10000))
      .orderBy("q_x10000").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    // the merge is a plain bucket-sum: any shard split lands on the
    // same histogram, so the quantiles cannot move
    quant(1) shouldBe quant(7)
    // p50 of i² over 1..1000: value 500² = 250000 -> bucket 25, upper
    // bound 260000 covers it; p100 sits in 1000²'s bucket
    quant(4) shouldBe Seq((5000, 25L, 260000L), (9900, 98L, 990000L),
      (10000, 100L, 1010000L))
  }

  test("histogram retraction: compacted-away shard subtracts exactly; unknown shard no-op; compact folds negatives away") {
    import spark.implicits._
    import graft.operators.Profile
    // range-split shards so dropping shard 1 MOVES the quantiles (a
    // parity split leaves p50/p100 in the same buckets either way)
    val vals = (1 to 200).map(i =>
        (if (i <= 100) 0L else 1L, (i * 37).toLong))
      .toDF("shard", "cents")
    val root = java.nio.file.Files
      .createTempDirectory("graft-hretract").toString + "/hist"
    Profile.buildHistogramArtifact(vals, "shard", col("cents"),
      widthCents = 500L, root)
    // compact folds shard identity away — the hard retraction case
    Profile.compactHistogram(spark, root)
    def quants = Profile.quantilesFromHistogramArtifact(spark, root,
        qsX10000 = Seq(5000, 10000)).orderBy("q_x10000").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    val shard1 = vals.filter(col("shard") === 1L)
    Profile.retractFromHistogram(shard1, "shard", col("cents"), root)
    // equals a batch build without shard 1
    val ref = java.nio.file.Files
      .createTempDirectory("graft-href").toString + "/hist"
    Profile.buildHistogramArtifact(vals.filter(col("shard") === 0L),
      "shard", col("cents"), widthCents = 500L, ref)
    val refQuants = Profile.quantilesFromHistogramArtifact(spark, ref,
        qsX10000 = Seq(5000, 10000)).orderBy("q_x10000").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    quants shouldBe refQuants
    // a shard the ledger never held is a no-op (and so is a replay)
    Profile.retractFromHistogram(
      Seq((7L, 123L)).toDF("shard", "cents"), "shard", col("cents"), root)
    Profile.retractFromHistogram(shard1, "shard", col("cents"), root)
    quants shouldBe refQuants
    // the negatives are physically present until compact folds them
    spark.read.parquet(s"$root/shards").filter(col("cnt") < 0)
      .count() should be > 0L
    Profile.compactHistogram(spark, root)
    spark.read.parquet(s"$root/shards").filter(col("cnt") <= 0)
      .count() shouldBe 0L
    quants shouldBe refQuants
    // the freed ledger makes re-absorb legal; the store converges back
    Profile.absorbIntoHistogram(shard1, "shard", col("cents"), root)
    Profile.quantilesFromHistogramArtifact(spark, root,
        qsX10000 = Seq(5000, 10000)).orderBy("q_x10000").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .toSeq should not be refQuants
  }

  test("histogram lifecycle: ledger makes re-delivered shards no-ops across compaction; floor division keeps negative buckets half-open") {
    import spark.implicits._
    import graft.operators.Profile
    // planted values straddling zero: floor bucketing must put (-w, 0)
    // in bucket -1 and [0, w) in bucket 0 — truncation would fold both
    // into a double-width bucket 0 (round-12 advisory)
    val vals = Seq((1L, -5L), (2L, -10000L), (3L, 5L), (4L, 9999L),
      (5L, 10000L), (6L, -10001L)).toDF("id", "cents")
      .withColumn("shard", pmod(col("id"), lit(2)))
    val h = Profile.histogramShard(vals, "shard", col("cents"), 10000L)
      .groupBy("bucket").agg(sum("cnt").as("cnt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    h shouldBe Map(-2L -> 1L, -1L -> 2L, 0L -> 2L, 1L -> 1L)

    val root = java.nio.file.Files.createTempDirectory("graft-hist")
      .toString + "/hist"
    def quants() = Profile.quantilesFromHistogramArtifact(spark, root,
        Seq(5000, 10000)).orderBy("q_x10000").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    Profile.buildHistogramArtifact(vals.filter(col("shard") === 0),
      "shard", col("cents"), 10000L, root)
    Profile.absorbIntoHistogram(vals.filter(col("shard") === 1), "shard",
      col("cents"), root)
    val full = quants()
    // re-delivered shard: no-op before AND after a compact (the ledger
    // outlives the merged rows' shard identity)
    Profile.absorbIntoHistogram(vals.filter(col("shard") === 1), "shard",
      col("cents"), root)
    quants() shouldBe full
    Profile.compactHistogram(spark, root)
    quants() shouldBe full
    spark.read.parquet(s"$root/shards").count() shouldBe 4L // merged
    Profile.absorbIntoHistogram(vals.filter(col("shard") === 1), "shard",
      col("cents"), root)
    quants() shouldBe full
    // a genuinely NEW shard after the compact still absorbs
    Profile.absorbIntoHistogram(
      Seq((7L, 25000L)).toDF("id", "cents")
        .withColumn("shard", lit(7L)), "shard", col("cents"), root)
    quants() should not be full
  }

  test("auditIvfDrift: stationary absorb holds the error trend flat; a planted shift raises it and concentrates cells") {
    import spark.implicits._
    import graft.operators.VectorIndex
    def ring(i: Int): Array[Float] = {
      val a = i * 0.15
      Array(math.cos(a).toFloat, math.sin(a).toFloat)
    }
    val base = (0 until 12).map(i => (i.toLong, ring(i))).toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("graft-drift").toString + "/idx"
    VectorIndex.buildIvfIndex(base, "vec_id", "embedding", root, nlist = 4)
    // epoch 1: the SAME ring distribution, fresh ids — stationary
    val stat = (0 until 12).map(i => (100L + i, ring(i))).toDF("vec_id", "embedding")
    VectorIndex.absorbIntoIvfIndex(stat, "vec_id", "embedding", root)
    // epoch 2: all mass shifted to one far direction — drift
    val drift = (0 until 12).map(i =>
      (200L + i, Array(-1.0f, (-1.0f + i * 0.01f)))).toDF("vec_id", "embedding")
    VectorIndex.absorbIntoIvfIndex(drift, "vec_id", "embedding", root)
    val out = VectorIndex.auditIvfDrift(spark, root).collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(2), r.getLong(4)))).toMap
    val (e0, s0) = out(0); val (e1, s1) = out(1); val (e2, s2) = out(2)
    // stationary: same error and spread as the build generation
    e1 shouldBe e0
    s1 shouldBe s0
    // drift: the mean quantization error jumps and the shifted mass
    // piles into few cells (share strictly above the stationary epoch)
    e2 should be > e1
    s2 should be > s1
  }

  test("retrainIvfIndex: stationary retrain is consumer-invisible; drifted retrain cuts error, resets epochs, folds tombstones") {
    import spark.implicits._
    import graft.operators.{ArtifactStore, VectorIndex}
    def avgErr(root: String): Long = {
      val vectors = ArtifactStore.readStore(spark, root, "vectors", "vec_id")
      val centroids = spark.read.parquet(s"$root/centroids")
      vectors.join(broadcast(centroids), col("cell") === col("cid"))
        .select(floor((lit(1.0) -
          Similarity.cosine(col("vec"), col("centroid"))) * 1000000)
          .cast("long").as("e"))
        .agg(expr("div(sum(e), count(1))")).head().getLong(0)
    }
    // two tight clusters; trainIterations=2 converges the codebook
    val base = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.95f, 0.05f)),
      (3L, Array(0.9f, -0.05f)), (4L, Array(0.97f, 0.02f)),
      (5L, Array(0.0f, 1.0f)), (6L, Array(0.05f, 0.95f)),
      (7L, Array(-0.05f, 0.9f)), (8L, Array(0.02f, 0.97f)))
      .toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("graft-retrain")
      .toString + "/idx"
    VectorIndex.buildIvfIndex(base, "vec_id", "embedding", root,
      nlist = 2, trainIterations = 2)
    val q0 = Seq((100L, Array(0.9f, 0.1f))).toDF("vec_id", "embedding")
    def probe() = VectorIndex.probeIvfIndex(q0, root, "vec_id",
        "embedding", k = 3, nprobe = 1)
      .orderBy("rank").collect().map(r => (r.getLong(2), r.getDouble(3)))
      .toSeq
    val pre = probe()
    // STATIONARY retrain: the Lloyd seed and the stored vectors are the
    // build's own, so the retrained codebook converges identically —
    // consumers see the exact same answers
    VectorIndex.retrainIvfIndex(spark, root, trainIterations = 2)
    probe() shouldBe pre
    // DRIFT: new mass in a direction the codebook never saw, plus a
    // takedown — retrain must adapt the centroids (error drops), reset
    // the epoch clock, and fold the tombstones (compact post-state)
    val drift = Seq(
      (10L, Array(-1.0f, 0.0f)), (11L, Array(-0.95f, 0.05f)),
      (12L, Array(-0.9f, -0.05f)), (13L, Array(-0.97f, 0.02f)))
      .toDF("vec_id", "embedding")
    VectorIndex.absorbIntoIvfIndex(drift, "vec_id", "embedding", root)
    VectorIndex.retractFromIvfIndex(Seq(10L).toDF("vec_id"), "vec_id", root)
    val preErr = avgErr(root)
    VectorIndex.retrainIvfIndex(spark, root, trainIterations = 2)
    avgErr(root) should be < preErr
    // epoch clock reset: one generation, all live vectors in it
    val audit = VectorIndex.auditIvfDrift(spark, root).collect()
    audit.length shouldBe 1
    audit.head.getInt(0) shouldBe 0
    audit.head.getLong(1) shouldBe 11L // 8 base + 4 drift - 1 retracted
    // tombstones folded: the retracted id is re-ingestable, and stays
    // invisible until then
    new java.io.File(s"$root/tombstones").exists() shouldBe false
    VectorIndex.absorbIntoIvfIndex(
      Seq((10L, Array(-1.0f, 0.0f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", root)
    ArtifactStore.readStore(spark, root, "vectors", "vec_id")
      .filter(col("vec_id") === 10L).count() shouldBe 1L
  }

  test("truncatedDimRecall: a prefix-collinear decoy costs recall at the low dim, full dim is exact") {
    import spark.implicits._
    // query 0 = (1,0,0,1). Neighbor 1's 2-dim PREFIX is exactly
    // collinear with the query's (cosine 1) but its full vector is
    // orthogonal; neighbor 2 is the true full-dim top-1. So dim 2
    // picks 1 (recall 0), dim 4 picks 2 (recall 1).
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 1.0f)),
      (1L, Array(1.0f, 0.0f, -1.0f, -1.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f, 0.93f))).toDF("vec_id", "embedding")
    val out = Similarity.truncatedDimRecall(vecs.filter($"vec_id" === 0L),
        vecs, "vec_id", "embedding", k = 1, dims = Seq(2, 4))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    out.toSeq shouldBe Seq((2, 0L, 1L, 0L), (4, 1L, 1L, 10000L))
  }

  test("htmlExtract: script bodies never leak, entities decode once, counts are structural") {
    import spark.implicits._
    import graft.operators.Curation
    val rows = Seq(
      (1L, "<html><body><p>Hello  world</p><a href=\"x\">more</a></body></html>"),
      // the script STRING LITERAL contains markup — none of it is text
      (2L, "<body><script>var a = \"<p>sneaky</p>\";</script><p>kept</p></body>"),
      // &amp;lt; must decode to the LITERAL &lt; (single decode pass)
      (3L, "<p>&amp;lt; &lt;tag&gt; &quot;q&quot; &#39;s &nbsp;end</p>"),
      (4L, "<STYLE>p{}</STYLE><P>Upper case tags</P>")
    ).toDF("id", "html")
    val out = Curation.htmlExtract(rows, "id", "html")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // tag_count is STRUCTURAL on the raw html — it counts the markup in
    // the script's string literal too (8 in row 2), while the TEXT
    // never sees it
    out.toSeq shouldBe Seq(
      (1L, "Hello world more", 8L, 1L),
      (2L, "kept", 8L, 0L),
      (3L, "&lt; <tag> \"q\" 's end", 2L, 0L),
      (4L, "Upper case tags", 4L, 0L))
  }

  test("kAnonymityAudit: small classes and homogeneous sensitive values are flagged") {
    import spark.implicits._
    import graft.operators.Profile
    // class (A, 1): 3 members, 3 distinct values -> k-violation only
    // class (A, 2): 5 members, 1 distinct value  -> l-violation only
    // class (B, 1): 5 members, 3 distinct values -> clean
    val rows = Seq(
      ("A", 1, 10.0), ("A", 1, 20.0), ("A", 1, 30.0),
      ("A", 2, 7.0), ("A", 2, 7.0), ("A", 2, 7.0), ("A", 2, 7.0), ("A", 2, 7.0),
      ("B", 1, 1.0), ("B", 1, 2.0), ("B", 1, 3.0), ("B", 1, 1.0), ("B", 1, 2.0)
    ).toDF("seg", "nat", "bal")
    val out = Profile.kAnonymityAudit(rows, Seq("seg", "nat"), "bal",
        k = 5L, l = 2L)
      .orderBy("seg", "nat").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getBoolean(5)))
    out.toSeq shouldBe Seq(
      ("A", 1, 3L, 3L, true, false),
      ("A", 2, 5L, 1L, false, true),
      ("B", 1, 5L, 3L, false, false))
    intercept[IllegalArgumentException] {
      Profile.kAnonymityAudit(rows, Seq.empty, "bal", k = 5L)
    }
  }

  test("mixedScriptAudit: cross-script tokens flag; pure-script tokens never do") {
    import spark.implicits._
    import graft.operators.Curation
    val cyrA = new String(Character.toChars(0x0430))  // Cyrillic а
    val cyrWord = new String(Character.toChars(0x043C)) +
      new String(Character.toChars(0x0438)) +
      new String(Character.toChars(0x0440))           // мир — pure Cyrillic
    val grkA = new String(Character.toChars(0x03B1))  // Greek α
    val rows = Seq(
      (1L, s"hello p${cyrA}ypal world"),      // one Latin+Cyrillic token
      (2L, s"plain latin text only"),         // clean
      (3L, s"$cyrWord $cyrWord latin"),       // pure Cyrillic + pure Latin: clean
      (4L, s"${grkA}pple b${cyrA}nk$grkA"),   // Latin+Greek and a 3-script token
      (5L, s"$cyrA$grkA")                     // Cyrillic+Greek, no Latin
    ).toDF("id", "text")
    val out = Curation.mixedScriptAudit(rows, "id", "text")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getBoolean(6)))
    out.toSeq shouldBe Seq(
      (1L, 1L, 0L, 0L, 1L, true),
      (2L, 0L, 0L, 0L, 0L, false),
      (3L, 0L, 0L, 0L, 0L, false),
      (4L, 1L, 2L, 1L, 2L, true),
      (5L, 0L, 0L, 1L, 1L, true))
  }

  private def rmDir(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(path))
  }
  private def copyDir(src: String, dst: String): Unit = {
    val s = java.nio.file.Paths.get(src); val t = java.nio.file.Paths.get(dst)
    val walk = java.nio.file.Files.walk(s)
    try walk.forEach { p =>
      val q = t.resolve(s.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(q)
      else {
        java.nio.file.Files.createDirectories(q.getParent)
        java.nio.file.Files.copy(p, q,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        ()
      }
    } finally walk.close()
  }

  test("scd2 builds validity ranges per key; last change per key is current") {
    import spark.implicits._
    import graft.operators.Sequence
    val out = Sequence.scd2(Seq((1L, 1L, "a"), (1L, 5L, "b"), (2L, 2L, "x"))
        .toDF("k", "seq", "v"), "k", "seq")
      .orderBy("k", "seq").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Any]("valid_to"),
        r.getBoolean(r.fieldIndex("is_current"))))
    out.toSeq shouldBe Seq((1L, 1L, 5L, false), (1L, 5L, null, true), (2L, 2L, null, true))
  }

  test("batch sessionization splits on gaps over the threshold") {
    import spark.implicits._
    import graft.operators.Sequence
    val ev = Seq((1L, 0L, 100L), (1L, 10L, 101L), (1L, 5000L, 102L), (2L, 7L, 103L))
      .toDF("u", "secs", "eid")
      .select(col("u"), timestamp_seconds(col("secs")).as("ts"), col("eid"))
    val out = Sequence.sessionizeBatch(ev, "u", "ts", "eid", gapSeconds = 3600)
      .orderBy("key", "session_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    // user 1: {0s,10s} then 5000s (gap 4990 > 3600) starts session 1
    out.toSeq shouldBe Seq((1L, 0L, 2L), (1L, 1L, 1L), (2L, 0L, 1L))
  }

  test("simhash: identical docs at hamming 0; near-dups within bound") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val out = Dedup.simHash(docs(1L -> base, 2L -> base, 3L -> (base + " extra")),
      "doc_id", "text", maxHamming = 5).collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    pairs.collectFirst { case (1L, 2L, h) => h } shouldBe Some(0)
  }

  test("ngram jaccard verifies exact similarity on candidates") {
    val out = Dedup.ngramJaccard(docs(
      1L -> "abcdefghijklmnopqrstuvwxyz0123456789",
      2L -> "abcdefghijklmnopqrstuvwxyz0123456789",
      3L -> "zzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzz"),
      "doc_id", "text", n = 12, threshold = 0.9).collect()
    out.map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe Seq((1L, 2L))
    out.head.getAs[Double]("jaccard") shouldBe 1.0
  }

  test("embedding cosine: parallel vectors hit 1.0, orthogonal excluded") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 0),
      (2L, Array(2.0f, 0.0f, 0.0f), 0),
      (3L, Array(0.0f, 1.0f, 0.0f), 0),
      (4L, Array(1.0f, 0.0f, 0.0f), 1) // other block: never compared
    ).toDF("vec_id", "embedding", "label")
    val out = Dedup.embeddingCosine(vecs, "vec_id", "embedding", "label", 0.9).collect()
    out.map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe Seq((1L, 2L))
    out.head.getAs[Double]("cosine") shouldBe 1.0 +- 1e-12
  }

  test("brute-force ANN ranks by cosine, excludes self, respects k") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.5f, 0.5f)), (3L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs.filter($"vec_id" === 0), vecs,
      "vec_id", "embedding", k = 2).orderBy("rank").collect()
    out.map(_.getLong(2)).toSeq shouldBe Seq(1L, 2L) // nearest first
  }

  test("LSH ANN only searches the query's sign bucket") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f)),
      (1L, Array(0.9f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f)), // same bucket
      (2L, Array(-1.0f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f)) // different bucket
    ).toDF("vec_id", "embedding")
    val out = Similarity.lshTopK(vecs.filter($"vec_id" === 0), vecs,
      "vec_id", "embedding", k = 5, bits = 8).collect()
    out.map(_.getLong(2)).toSeq shouldBe Seq(1L)
  }

  test("simhash maxBucket skips oversized chunk buckets but keeps pairs found via other chunks") {
    import spark.implicits._
    val ids = (1L to 6L).map(i => (i, s"shared words alpha beta gamma doc$i")).toDF("doc_id", "text")
    val exact = Dedup.simHash(ids, "doc_id", "text", maxHamming = 5).count()
    // cap of 6 never triggers at 6 docs → identical result
    val capped = Dedup.simHash(ids, "doc_id", "text", maxHamming = 5,
      maxBucket = Some(6)).count()
    capped shouldBe exact
    // cap of 1 kills every shared bucket → no candidates at all
    Dedup.simHash(ids, "doc_id", "text", maxHamming = 5,
      maxBucket = Some(1)).count() shouldBe 0L
  }

  test("canonicalize assigns min id per connected component, even via chains") {
    import spark.implicits._
    // components: {1,2,3} (chain 1-2, 2-3), {5,6}, isolated {4}
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val out = Dedup.canonicalize(ids, "doc_id", pairs)
      .orderBy("doc").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    out.toSeq shouldBe Seq(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (4L, 4L, true), (5L, 5L, true), (6L, 5L, false))
  }

  test("IVF ANN probes only the nearest cells") {
    import spark.implicits._
    // Centroids (nlist=2) are vectors 0 and 1: cell 0 ≈ x-axis, cell 1 ≈
    // y-axis. With nprobe=1 the x-axis query must only see x-cell members.
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.95f, 0.05f)), // lands in cell 0
      (3L, Array(0.05f, 0.95f)), // lands in cell 1
      (4L, Array(0.9f, 0.1f))    // lands in cell 0
    ).toDF("vec_id", "embedding")
    val out = Similarity.ivfTopK(vecs.filter($"vec_id" === 0), vecs,
      "vec_id", "embedding", k = 5, nlist = 2, nprobe = 1)
      .orderBy("rank").collect()
    out.map(_.getLong(2)).toSeq shouldBe Seq(2L, 4L) // cell-0 members only, ranked
  }

  test("IVF ANN shuffle path (broadcastProbes=false) matches the broadcast path") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.95f, 0.05f)), (3L, Array(0.05f, 0.95f)),
      (4L, Array(0.9f, 0.1f)), (5L, Array(0.7f, 0.7f))
    ).toDF("vec_id", "embedding")
    def run(bc: Boolean) = Similarity.ivfTopK(vecs, vecs, "vec_id",
        "embedding", k = 2, nlist = 2, nprobe = 2, broadcastProbes = bc)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e9)))
    run(true).toSeq shouldBe run(false).toSeq
  }

  test("quantized IVF shuffle path (broadcastProbes=false) matches the broadcast path") {
    import spark.implicits._
    // Mirrors the Similarity.ivfTopK equivalence pin for Quantize.ivfDotTopK:
    // a drift in the integer TopKAggregator path (tie-break, posexplode
    // column mapping, bigint-id constraint) must not go uncaught (ADVICE r7).
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.95f, 0.05f)), (3L, Array(0.05f, 0.95f)),
      (4L, Array(0.9f, 0.1f)), (5L, Array(0.7f, 0.7f)),
      (6L, Array(0.9f, 0.1f)) // exact duplicate of 4's direction: forces ties
    ).toDF("vec_id", "embedding")
    def run(bc: Boolean) = Quantize.ivfDotTopK(vecs, vecs, "vec_id",
        "embedding", k = 2, nlist = 2, nprobe = 2, broadcastProbes = bc)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    run(true).toSeq shouldBe run(false).toSeq
  }

  test("IVF ANN drops zero-norm vectors so both top-k paths agree") {
    import spark.implicits._
    // A zero-norm vector used to make every cosine against it NaN, and
    // the two paths order NaN differently (window first, aggregator
    // last) — the operator now drops such vectors from both sides.
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.95f, 0.05f)), (3L, Array(0.0f, 0.0f)), // zero-norm
      (4L, Array(0.9f, 0.1f)), (5L, Array(0.7f, 0.7f))
    ).toDF("vec_id", "embedding")
    def run(bc: Boolean) = Similarity.ivfTopK(vecs, vecs, "vec_id",
        "embedding", k = 3, nlist = 2, nprobe = 2, broadcastProbes = bc)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e9)))
    val bcRes = run(true).toSeq
    bcRes shouldBe run(false).toSeq
    // the zero-norm vector appears neither as a query nor as a neighbor
    bcRes.exists(_._1 == 3L) shouldBe false
    bcRes.exists(_._3 == 3L) shouldBe false
  }

  test("IVF ANN trained codebook also excludes zero-norm vectors (no collapsed cells)") {
    import spark.implicits._
    // The zero vector's id (0) would otherwise SEED a centroid
    // (orderBy-id limit nlist): cosine against the zero centroid is NaN
    // for every vector, Spark orders NaN above all doubles, and max_by
    // would funnel the whole corpus into the dead cell.
    val vecs = Seq(
      (0L, Array(0.0f, 0.0f)), // zero-norm, lowest id
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.1f, 0.9f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.ivfTopK(vecs, vecs, "vec_id", "embedding",
        k = 2, nlist = 2, nprobe = 1, trainIterations = 2)
      .collect()
    out should not be empty
    out.foreach { r =>
      r.getLong(0) should not be 0L
      r.getLong(2) should not be 0L
      r.getDouble(3).isNaN shouldBe false
    }
    // nprobe = 1 with a healthy 2-cell codebook: each axis-aligned query
    // finds its same-cell twin first
    val first = out.filter(_.getInt(1) == 1).map(r => (r.getLong(0), r.getLong(2))).toMap
    first(1L) shouldBe 2L
    first(3L) shouldBe 4L
  }

  test("IVF ANN with nprobe = nlist recovers the brute-force result") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.5f, 0.5f)), (3L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val ivf = Similarity.ivfTopK(vecs.filter($"vec_id" === 0), vecs,
      "vec_id", "embedding", k = 2, nlist = 2, nprobe = 2)
      .orderBy("rank").collect()
    ivf.map(_.getLong(2)).toSeq shouldBe Seq(1L, 2L)
  }

  test("language id counts marker words with deterministic argmax") {
    val out = TextAnalysis.languageId(docs(
      1L -> "the cat and the dog is a pet",
      2L -> "der hund und die katze ist das tier"), "doc_id", "text")
      .orderBy("doc_id").collect()
    out(0).getAs[String]("predicted_lang") shouldBe "en"
    out(1).getAs[String]("predicted_lang") shouldBe "de"
  }

  test("quality metrics are exact integers") {
    val out = TextAnalysis.qualityScore(docs(1L -> "Hello World 42!"), "doc_id", "text").first()
    out.getAs[Int]("chars") shouldBe 15
    out.getAs[Int]("words") shouldBe 3
    out.getAs[Int]("digits") shouldBe 2
    out.getAs[Int]("uppercase") shouldBe 2
    out.getAs[Int]("punct") shouldBe 1
  }

  test("token counts: whitespace vs BPE-ish lexer") {
    val out = TextAnalysis.tokenCounts(docs(1L -> "hello world42 a-b"), "doc_id", "text").first()
    out.getAs[Int]("ws_tokens") shouldBe 3
    // hello | world | 42 | a | - | b
    out.getAs[Int]("bpe_ish_tokens") shouldBe 6
  }

  test("fingerprint rolling hash is order-sensitive") {
    val a = TextAnalysis.fingerprint(docs(1L -> "alpha beta"), "doc_id", "text")
      .first().getAs[Long]("rolling_hash")
    val b = TextAnalysis.fingerprint(docs(1L -> "beta alpha"), "doc_id", "text")
      .first().getAs[Long]("rolling_hash")
    a should not be b
  }

  test("native CosineSimilarity expression is bit-identical to the declarative fold") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(50)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val both = emb.as("l").crossJoin(emb.as("r"))
      .filter(col("l.vec_id") < col("r.vec_id"))
      .select(
        Similarity.cosine(col("l.v"), col("r.v")).as("declarative"),
        Similarity.cosineNative(col("l.v"), col("r.v")).as("native"))
    both.filter(col("declarative") =!= col("native")).count() shouldBe 0
  }

  test("sessionize groups events within the gap and splits across it") {
    import spark.implicits._
    val events = Seq(
      (1L, "2024-01-01 10:00:00", 1.0),
      (1L, "2024-01-01 10:30:00", 2.0), // same session (gap 1h)
      (1L, "2024-01-01 13:00:00", 3.0), // > 1h after previous -> new session
      (2L, "2024-01-01 09:00:00", 4.0)
    ).toDF("user_id", "ts_s", "value")
      .withColumn("ts", to_timestamp(col("ts_s")))
    val out = graft.streaming.StreamOps.sessionize(spark, events, gap = "1 hour")
      .orderBy("user_id", "session_start").collect()
    out.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq shouldBe Seq(
      (1L, "2024-01-01 10:00:00", 2L),
      (1L, "2024-01-01 13:00:00", 1L),
      (2L, "2024-01-01 09:00:00", 1L))
  }

  test("testkit dataFrameEqual is order-insensitive (tests/assertions.py:6-13)") {
    import spark.implicits._
    val a = Seq((1, "x"), (2, "y")).toDF("id", "v")
    val b = Seq((2, "y"), (1, "x")).toDF("id", "v")
    graft.testkit.TestAssertions.dataFrameEqual(a, b) shouldBe true
    graft.testkit.TestAssertions.dataFrameEqual(a,
      Seq((1, "x"), (2, "z")).toDF("id", "v")) shouldBe false
  }

  test("multimodal extractMeta carries binary through typed mapPartitions") {
    import spark.implicits._
    val documents = Seq((7L, "hello")).toDF("doc_id", "text")
    val out = Multimodal.extractMeta(spark,
      Multimodal.mediaFromDocuments(spark, documents)).first()
    out.getAs[Long]("media_id") shouldBe 7L
    out.getAs[Int]("byte_length") shouldBe 5
    out.getAs[String]("content_md5") shouldBe "5d41402abc4b2a76b9719d911017c592"
    out.getAs[Int]("width") shouldBe 6 // 5 % 640 + 1
    out.getAs[Int]("channels") shouldBe 3
  }

  test("frame sampling emits every stride-th frame with exact lengths and sums") {
    import spark.implicits._
    // 10 bytes, frameSize 4 → frames [0,4), [4,8), [8,10); stride 2 → 0 and 2
    val documents = Seq((1L, "abcdefghij")).toDF("doc_id", "text")
    val out = Multimodal.sampleFrames(spark,
      Multimodal.mediaFromDocuments(spark, documents), frameSize = 4, stride = 2)
      .orderBy("frame_idx").collect()
    out.map(r => (r.getInt(1), r.getInt(2), r.getLong(3))).toSeq shouldBe Seq(
      (0, 4, "abcd".map(_.toLong).sum), (2, 2, "ij".map(_.toLong).sum))
  }

  test("resize stub resamples to exactly target bytes, nearest-neighbor") {
    import spark.implicits._
    val documents = Seq((1L, "ab")).toDF("doc_id", "text")
    val out = Multimodal.resizeStub(spark,
      Multimodal.mediaFromDocuments(spark, documents), target = 4).first()
    out.getAs[Int]("out_len") shouldBe 4
    // out[i] = in[i*2/4] → a,a,b,b
    out.getAs[Array[Byte]]("content").toSeq shouldBe "aabb".getBytes.toSeq
    out.getAs[Long]("out_sum") shouldBe "aabb".map(_.toLong).sum
  }

  test("byte histogram features count buckets and normalize to 1") {
    import spark.implicits._
    val documents = Seq((1L, "aA!")).toDF("doc_id", "text") // buckets 3, 2, 1
    val out = Multimodal.byteHistogramFeatures(spark,
      Multimodal.mediaFromDocuments(spark, documents), buckets = 8).first()
    out.getAs[Seq[Long]]("counts") shouldBe Seq(0L, 1L, 1L, 1L, 0L, 0L, 0L, 0L)
    out.getAs[Seq[Double]]("features").sum shouldBe 1.0 +- 1e-12
  }

  test("upsert replaces matched keys, keeps unmatched, rejects duplicate update keys") {
    import spark.implicits._
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val updates = Seq((2L, "B"), (4L, "D")).toDF("k", "v")
    val merged = graft.operators.Merge.upsertByKey(base, updates, "k")
      .orderBy("k").as[(Long, String)].collect()
    merged shouldBe Array((1L, "a"), (2L, "B"), (3L, "c"), (4L, "D"))

    // Delta MERGE's "multiple source rows matched" contract. The guard is
    // lazy (folded into the main job via raise_error) — it fires on the
    // first action, not at call time, and adds no extra driver-side job.
    val dupUpdates = Seq((2L, "B"), (2L, "B2")).toDF("k", "v")
    val e = intercept[Exception] {
      graft.operators.Merge.upsertByKey(base, dupUpdates, "k").count()
    }
    e.getMessage should include("multiple rows for key")
    // opt-out keeps bag semantics for callers who guarantee uniqueness upstream
    graft.operators.Merge.upsertByKey(base, dupUpdates, "k",
      validateUniqueKeys = false).count() shouldBe 4L
  }

  test("as-of join: latest at-or-before right row per key, inclusive, left rows kept") {
    import spark.implicits._
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (1L, 5L, "c"), (2L, 10L, "d"))
      .toDF("k", "ts", "tag")
    val right = Seq((1L, 10L, 1.0), (1L, 15L, 2.0), (2L, 11L, 9.0))
      .toDF("k", "ts", "v")
    val out = graft.operators.AsOfJoin.backward(left, right, "k", "ts", Seq("v"))
      .select("tag", "asof_ts", "asof_v").as[(String, Option[Long], Option[Double])]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    out("a") shouldBe ((Some(10L), Some(1.0)))   // equal ts is inclusive
    out("b") shouldBe ((Some(15L), Some(2.0)))   // latest of the two priors wins
    out("c") shouldBe ((None, None))             // nothing at or before → kept with nulls
    out("d") shouldBe ((None, None))             // right row is AFTER the left ts
  }

  test("as-of join: matched-row atomicity, forward direction, uniqueness guard, collision guard") {
    import spark.implicits._
    // A newer matched row whose value is NULL must NOT stitch in an older
    // row's non-null value — ts and value travel in ONE struct.
    val left = Seq((1L, 30L, "x")).toDF("k", "ts", "tag")
    val right = Seq((1L, 10L, Some(7.0)), (1L, 20L, None)).toDF("k", "ts", "v")
    graft.operators.AsOfJoin.backward(left, right, "k", "ts", Seq("v"))
      .select("asof_ts", "asof_v").as[(Option[Long], Option[Double])]
      .head() shouldBe ((Some(20L), None))

    // forward: earliest at-or-after wins, equal ts inclusive, unmatched kept
    val fl = Seq((1L, 10L, "a"), (1L, 16L, "b"), (2L, 99L, "c")).toDF("k", "ts", "tag")
    val fr = Seq((1L, 10L, 1.0), (1L, 15L, 2.0), (1L, 40L, 3.0)).toDF("k", "ts", "v")
    val fout = graft.operators.AsOfJoin.forward(fl, fr, "k", "ts", Seq("v"))
      .select("tag", "asof_ts", "asof_v").as[(String, Option[Long], Option[Double])]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    fout("a") shouldBe ((Some(10L), Some(1.0)))
    fout("b") shouldBe ((Some(40L), Some(3.0)))
    fout("c") shouldBe ((None, None))

    // two right rows at the same (key, ts) violate the contract → the lazy
    // Merge-style guard raises on first computation; opt-out skips it
    val dupRight = Seq((1L, 10L, 1.0), (1L, 10L, 2.0)).toDF("k", "ts", "v")
    val e = intercept[Exception] {
      graft.operators.AsOfJoin.backward(left, dupRight, "k", "ts", Seq("v")).count()
    }
    e.getMessage should include("multiple rows for (key, ts)")
    graft.operators.AsOfJoin.backward(left, dupRight, "k", "ts", Seq("v"),
      validateUnique = false).count() shouldBe 1L

    // left columns may not collide with the generated asof_* outputs
    val clashLeft = Seq((1L, 10L, 0L)).toDF("k", "ts", "asof_ts")
    intercept[IllegalArgumentException] {
      graft.operators.AsOfJoin.backward(clashLeft, right, "k", "ts", Seq("v"))
    }.getMessage should include("collide")

    // tolerance nulls out matches older than the bound — atomically (ts
    // AND value together), keeping the left row
    val tl = Seq((1L, 30L, "t")).toDF("k", "ts", "tag")
    val tr = Seq((1L, 20L, 5.0)).toDF("k", "ts", "v")
    def tolJoin(tol: Long) = graft.operators.AsOfJoin
      .backward(tl, tr, "k", "ts", Seq("v"), tolerance = Some(lit(tol)))
      .select("asof_ts", "asof_v").as[(Option[Long], Option[Double])].head()
    tolJoin(15L) shouldBe ((Some(20L), Some(5.0))) // within bound
    tolJoin(5L) shouldBe ((None, None))            // stale → nulled, row kept
  }

  test("IVF: k-means training recovers recall lost to a degenerate seed") {
    import spark.implicits._
    // The sf fixtures' embeddings are near-uniform on the sphere (only
    // ~7/60 true-neighbor pairs share a label, cell purity ~0.15 — no
    // cluster structure), so there no codebook systematically beats any
    // other: both paths measure ~45/60 there. Training earns its keep when
    // clusters EXIST and the first-nlist seed lands badly. Plant exactly
    // that: 8 wide clusters in id-order blocks, so the first-8-by-id seed
    // takes ALL its centroids from cluster 0 and boundary vectors bucket
    // inconsistently with their neighbors; Lloyd iterations then pull the
    // centroids onto the real clusters. (Fixed RNG seed → deterministic.)
    val rnd = new scala.util.Random(42)
    val dim = 16
    val centers = Array.fill(8)(Array.fill(dim)(rnd.nextGaussian()))
    val vecs = (0 until 400).map { i =>
      (i.toLong, centers(i / 50).map(x => x + 0.8 * rnd.nextGaussian()))
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") % 50 === 0) // one per cluster
    val truth = Similarity
      .bruteForceTopK(queries, vecs, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def hits(trainIterations: Int): Long = Similarity
      .ivfTopK(queries, vecs, "vec_id", "embedding",
        k = 3, nlist = 8, nprobe = 1, trainIterations = trainIterations)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      .intersect(truth).size.toLong
    val sample = hits(0)
    val trained = hits(2)
    withClue(s"recall hits of ${truth.size}: sample=$sample trained=$trained: ") {
      trained should be > sample
    }
  }

  test("range join: exact long-range buckets, giant-interval cap, overlap join") {
    import spark.implicits._
    // bucket ids must be exact where double arithmetic is not (>2^53) and
    // must floor (not truncate) for negative axes
    val big = Long.MaxValue - 10L
    val points = Seq((1L, big + 5L), (2L, -1000000007L)).toDF("pid", "x")
    val intervals = Seq((10L, big, big + 9L), (20L, -1000000010L, -1000000000L))
      .toDF("iid", "s", "e")
    graft.operators.RangeJoin.pointInInterval(points, intervals, "x", "s", "e",
        bucketWidth = 7)
      .select("iid", "pid").as[(Long, Long)].collect().sorted shouldBe
      Array((10L, 1L), (20L, 2L))

    // a giant interval must not explode the exchange: the cap routes it
    // through a broadcast residual instead of sequence+explode
    val pts = (0L until 100L).map(i => (i, i * 1000L)).toDF("pid", "x")
    val ivs = Seq((1L, 0L, Long.MaxValue / 2), (2L, 5000L, 6000L)).toDF("iid", "s", "e")
    val out = graft.operators.RangeJoin.pointInInterval(pts, ivs, "x", "s", "e",
      bucketWidth = 1000, maxBucketsPerInterval = 16)
    out.count() shouldBe 102L // giant matches all 100 points; iid=2 matches 2
    out.queryExecution.executedPlan.toString should include("BroadcastNestedLoopJoin")

    // overlap join agrees with the brute-force cross product, including an
    // oversized left interval routed through the broadcast residual path
    val la = Seq((1L, 0L, 10L), (2L, 20L, 25L), (3L, 5L, 500L)).toDF("a_id", "a_s", "a_e")
    val rb = Seq((7L, 8L, 22L), (8L, 600L, 601L), (9L, 24L, 30L)).toDF("b_id", "b_s", "b_e")
    val fast = graft.operators.RangeJoin.intervalOverlap(la, rb,
        "a_s", "a_e", "b_s", "b_e", bucketWidth = 8, maxBucketsPerInterval = 4)
      .select("a_id", "b_id").as[(Long, Long)].collect().sorted
    val brute = la.crossJoin(rb)
      .filter(col("a_s") <= col("b_e") && col("b_s") <= col("a_e"))
      .select("a_id", "b_id").as[(Long, Long)].collect().sorted
    fast should not be empty
    fast shouldBe brute
  }

  test("range join: bucket-spanning intervals match exactly once, BETWEEN is inclusive") {
    import spark.implicits._
    val points = Seq((1L, 0L), (2L, 64L), (3L, 100L), (4L, 199L), (5L, 200L))
      .toDF("pid", "x")
    val intervals = Seq((10L, 0L, 199L), (20L, 64L, 64L), (30L, 150L, 100L))
      .toDF("iid", "s", "e") // 10 spans 4 buckets; 20 is a point; 30 is degenerate
    val out = graft.operators.RangeJoin.pointInInterval(
        points, intervals, "x", "s", "e", bucketWidth = 64)
      .select("iid", "pid").as[(Long, Long)].collect().sorted
    // interval 10 matches points 1-4 exactly once each despite overlapping
    // 4 buckets; 20 matches only the boundary point; 30 (e < s) matches none
    out shouldBe Array((10L, 1L), (10L, 2L), (10L, 3L), (10L, 4L), (20L, 2L))
  }

  test("column profile: null/distinct/min/max per column from one pass") {
    import spark.implicits._
    val df = Seq(
      (Some(1L), Some("a")), (Some(2L), None),
      (Some(2L), Some("c")), (None, Some("a")))
      .toDF("k", "s")
    val out = graft.operators.Profile.columns(df, Seq("k", "s"))
      .orderBy("column_name").collect()
    out.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getString(4), r.getString(5))).toSeq shouldBe Seq(
      ("k", 3L, 1L, 2L, "1", "2"),
      ("s", 3L, 1L, 2L, "a", "c"))
  }

  test("int8 quantization: extremes hit ±127, zero vectors stay zero, error bounded") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f)), // maxabs 1.0 -> scale 127
      (2L, Array(0.0f, 0.0f)), // zero vector -> scale 0, q all 0
      (3L, Array(2.0f))) // single max -> q = 127
      .toDF("vec_id", "embedding")
    val out = graft.operators.Quantize.int8(df, "embedding")
      .orderBy("vec_id").collect()
    out(0).getAs[collection.Seq[Int]]("q").toSeq shouldBe Seq(64, -127, 32)
    out(1).getAs[collection.Seq[Int]]("q").toSeq shouldBe Seq(0, 0)
    out(1).getAs[Double]("scale") shouldBe 0.0
    out(2).getAs[collection.Seq[Int]]("q").toSeq shouldBe Seq(127)
    // reconstruction: |q/scale - v| <= 0.5/scale for every component
    val q0 = out(0).getAs[collection.Seq[Int]]("q")
    val s0 = out(0).getAs[Double]("scale")
    val v0 = Seq(0.5, -1.0, 0.25)
    q0.zip(v0).foreach { case (q, v) =>
      math.abs(q / s0 - v) should be <= (0.5 / s0 + 1e-12)
    }
  }

  test("column profile survives hostile column names (dots, spaces, quotes, backticks)") {
    import spark.implicits._
    val df = Seq((1L, "x"), (2L, "y"))
      .toDF("a.b c", "it's `quoted`")
    val out = graft.operators.Profile.columns(df, Seq("a.b c", "it's `quoted`"))
      .orderBy("column_name").collect()
    out.map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSeq shouldBe Seq(
      ("a.b c", 2L, 2L),
      ("it's `quoted`", 2L, 2L))
  }

  test("int8 quantization rejects inputs that already carry reserved output columns") {
    import spark.implicits._
    val df = Seq((1L, Array(1.0f), 9.9)).toDF("vec_id", "embedding", "scale")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Quantize.int8(df, "embedding")
    }
    e.getMessage should include("reserved output column")
  }

  test("quantized dot top-k ranks the aligned vector first, excludes self") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.5f, 0.5f)), (3L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = graft.operators.Quantize.dotTopK(
        vecs.filter($"vec_id" === 0), vecs, "vec_id", "embedding", k = 2)
      .orderBy("rank").collect()
    out.map(_.getAs[Long]("neighbor_id")).toSeq shouldBe Seq(1L, 2L)
    // int8 dot of (127,0)·(127,14): exact integer score
    out.head.getAs[Long]("qdot") shouldBe 127L * 127L
  }

  test("IVF-SQ8 probes only the query's cell and scores with exact integer dots") {
    import spark.implicits._
    // codebook = first 2 codes: c0=(127,0), c1=(0,127); vec 2 quantizes to
    // (127,14) -> cell 0, vec 3 to (14,127) -> cell 1
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.9f, 0.1f)), (3L, Array(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    val out = graft.operators.Quantize.ivfDotTopK(
        vecs.filter($"vec_id" < 2), vecs, "vec_id", "embedding",
        k = 2, nlist = 2, nprobe = 1)
      .orderBy("query_id", "rank").collect()
    // one candidate per query: the same-cell non-self vector
    out.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
      r.getAs[Long]("qdot"))).toSeq shouldBe Seq(
      (0L, 2L, 127L * 127L), (1L, 3L, 127L * 127L))
  }

  test("paragraph dedup counts cross-doc paragraphs and scrubs them from the text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Shared Header\nbody one\nShared  footer"),
      (2L, "shared header\nbody two\nShared footer"), // case/ws-normalized match
      (3L, "all mine"))
      .toDF("doc_id", "text")
    val out = graft.operators.Dedup.paragraphDedup(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    out.map(r => (r.getLong(0), r.getAs[Long]("para_count"),
      r.getAs[Long]("dup_para_count"), r.getAs[String]("scrubbed_text"))).toSeq shouldBe Seq(
      (1L, 3L, 2L, "body one"),
      (2L, 3L, 2L, "body two"),
      (3L, 1L, 0L, "all mine"))
  }

  test("BPE merges: greedy run-split, frequency weighting, and re-merge of merged symbols") {
    import spark.implicits._
    // tokens: aaaa (freq 2), bb (freq 1).
    // step 1: (a,a) count 3 adjacencies × 2 = 6 beats (b,b)=1; greedy on
    //   a-a-a-a accepts run offsets 1 and 3 -> aa,aa (NOT aa,a,a).
    // step 2: (aa,aa) = 1 × 2 = 2 beats (b,b)=1 — a merged symbol merges
    //   again. step 3: only (b,b)=1 remains.
    val df = Seq((1L, "aaaa bb"), (2L, "aaaa")).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.bpeMergeSteps(df, "text", steps = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    out.toSeq shouldBe Seq((1, "a", "a", 6L), (2, "aa", "aa", 2L), (3, "b", "b", 1L))
  }

  test("BPE encode: merged vocabulary compresses words, uncovered docs report zeros") {
    import spark.implicits._
    // merges learned from this corpus (see the trainer spec): (a,a),
    // (aa,aa), (b,b) — all APPLIED under encode, so aaaa -> 1 symbol
    // and bb -> 1 symbol; "12345" fails [a-z]+ and doc 3 has no covered
    // words at all.
    val df = Seq((1L, "aaaa bb"), (2L, "aaaa"), (3L, "12345"))
      .toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.bpeEncode(df, "doc_id", "text",
        steps = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    out.toSeq shouldBe Seq(
      (1L, 2L, 2L, 100L), // aaaa + bb -> 1 + 1 symbols
      (2L, 1L, 1L, 100L),
      (3L, 0L, 0L, 0L))
  }

  test("BPE merges: lexicographic tie-break and non-[a-z] token exclusion") {
    import spark.implicits._
    val df = Seq((1L, "ab ba x1 Mixed")).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.bpeMergeSteps(df, "text", steps = 1)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3)))
    // "mixed" survives lowercasing; x1 is excluded; (a,b) ties (b,a) at 1
    // and every "mixed" pair at 1 — (a,b) wins the (left, right) ASC break
    out.toSeq shouldBe Seq(("a", "b", 1L))
  }

  test("model quality score is the exact fixed-point linear combination") {
    import spark.implicits._
    val df = Seq((1L, "Hello world 123.")).toDF("doc_id", "text")
    val r = graft.operators.TextAnalysis.modelQualityScore(df, "doc_id", "text")
      .collect().head
    // chars=16, words=3, avg_word_len_x100=1400/3=466, digits=3, punct=1,
    // upper=1, distinct=3 -> ratios 100, 18, 6, 6; score =
    // 2*466 + 30*100 - 40*18 - 25*6 - 10*6 + 3 = 3005
    r.getAs[Long]("score") shouldBe 3005L
    r.getAs[Boolean]("keep") shouldBe true
  }

  test("heavyHitters: exact, strictly-above-threshold, layout-independent") {
    import spark.implicits._
    // total = 1000 with k = 5 (threshold 200): hot 300 qualifies,
    // edge 200 sits EXACTLY at total/k (strictly-above excludes it),
    // warm 150 misses, 350 unique fillers stress the MG decrement path.
    val rows = Seq.fill(300)("hot") ++ Seq.fill(200)("edge") ++
      Seq.fill(150)("warm") ++ (0 until 350).map(i => s"f$i")
    val layouts = Seq(
      spark.sparkContext.parallelize(rows, 1),
      spark.sparkContext.parallelize(rows, 8),
      spark.sparkContext.parallelize(rows.sorted, 8), // hot packed together
      spark.sparkContext.parallelize(rows.reverse, 16))
    for (rdd <- layouts) {
      val out = graft.operators.Skew.heavyHitters(rdd.toDF("tok"), "tok", k = 5)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      out.toSeq shouldBe Seq(("hot", 300L, 3000L))
    }
  }

  test("heavyHitters: empty input yields empty output") {
    import spark.implicits._
    graft.operators.Skew.heavyHitters(
      Seq.empty[String].toDF("tok"), "tok", k = 10).count() shouldBe 0L
  }

  test("heavyHitters: NULL keys are excluded from hitters AND the total") {
    import spark.implicits._
    // 6 nulls + 3 "a" + 1 "b". Nulls dropped on entry: total = 4 and "a"
    // (3 of 4 > 1/2) is the only hitter — the old null-sentinel encoding
    // both hid the nulls and was threatened by them. With nulls counted
    // the total would be 10 and "a" (3) would MISS the k=2 threshold (5),
    // so the expectation distinguishes the two contracts.
    val df = (Seq.fill(6)(null: String) ++ Seq("a", "a", "a", "b")).toDF("tok")
    val out = graft.operators.Skew.heavyHitters(df, "tok", k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    out.toSeq shouldBe Seq(("a", 3L))
  }

  test("native minhash signature equals the 16 declarative columns on the real corpus") {
    import graft.functions.Portable.{coeffA, coeffB, uhash}
    import graft.functions.{MinHashSignature, ShingleHashes}
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    for (n <- Seq(8, 16)) {
      val feats = corpus.select(col("doc_id"),
        ShingleHashes.ofCol(col("text"), 3).as("features"))
      val oldCols = (0 until n).map(i =>
        array_min(transform(col("features"), h => uhash(h, coeffA(i), coeffB(i)))))
      val diff = feats.select(
          array(oldCols: _*).as("declarative"),
          MinHashSignature.ofCol(col("features"), n).as("fused"))
        .filter(!(col("declarative") === col("fused")))
      diff.count() shouldBe 0L
    }
  }

  test("native simhash equals the lane-packed aggregation on the real corpus") {
    import graft.functions.Portable.{hash56, tokens}
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    val lanes = 3; val laneBits = 20; val nGroups = 20; val bits = 60
    val mask = (1L << laneBits) - 1
    val toks = corpus
      .select(col("doc_id").as("doc"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc"), hash56(col("tok")).as("h"))
    val packedSums = (0 until nGroups).map { g =>
      sum((0 until lanes).map { l =>
        val j = g * lanes + l
        shiftleft(shiftright(col("h"), j).bitwiseAND(lit(1L)), l * laneBits)
      }.reduce(_ + _)).as(s"g$g")
    }
    val declarative = toks.groupBy("doc")
      .agg(count(lit(1)).as("cnt"), packedSums: _*)
      .select(col("doc"),
        array((0 until nGroups).map(g => col(s"g$g")): _*).as("gs"), col("cnt"))
      .select(col("doc"),
        expr(s"""aggregate(sequence(0, ${bits - 1}), CAST(0 AS BIGINT),
                |  (acc, j) -> acc + IF(
                |    2 * ((element_at(gs, CAST(j div $lanes AS INT) + 1) >> ((j % $lanes) * $laneBits)) & $mask) > cnt,
                |    shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT)))""".stripMargin)
          .as("old_sig"))
    val fused = corpus.select(col("doc_id").as("doc"),
      graft.functions.SimHashSignature.ofCol(col("text")).as("new_sig"))
    declarative.join(fused, Seq("doc"))
      .filter(col("old_sig") =!= col("new_sig")).count() shouldBe 0L
  }

  test("graft_minhash is SQL-registered and matches the Column path") {
    val viaSql = spark
      .sql("SELECT graft_minhash(graft_shingles('alpha beta gamma delta', 3), 4) AS s")
      .collect().head.getSeq[Long](0)
    val viaCol = spark.range(1)
      .select(graft.functions.MinHashSignature.ofCol(
        graft.functions.ShingleHashes.ofCol(
          org.apache.spark.sql.functions.lit("alpha beta gamma delta"), 3), 4).as("s"))
      .collect().head.getSeq[Long](0)
    viaSql shouldBe viaCol
    viaSql.length shouldBe 4
  }

  test("unicodeClean: NFC composes, controls strip, U+FFFD counted, tab/newline kept") {
    import spark.implicits._
    import graft.operators.Curation
    val rows = Seq(
      (1L, "cafe\u0301"),              // decomposed -> composed, len 5 -> 4
      (2L, "a\u0001b\u0007c"),         // controls stripped
      (3L, "ok\uFFFDtext\uFFFD"),      // mojibake counted, kept
      (4L, "tab\there\nline"),         // structural whitespace KEPT
      (5L, "plain")).toDF("id", "text")
    val out = Curation.unicodeClean(rows, "id", "text")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    out(0) shouldBe ((1L, "caf\u00E9", true, 0L, 0L, 4L))
    out(1) shouldBe ((2L, "abc", false, 2L, 0L, 3L))
    out(2) shouldBe ((3L, "ok\uFFFDtext\uFFFD", false, 0L, 2L, 8L))
    out(3) shouldBe ((4L, "tab\there\nline", false, 0L, 0L, 13L))
    out(4) shouldBe ((5L, "plain", false, 0L, 0L, 5L))
  }

  test("urlPolicyGate: longest prefix wins; unmatched fall through to default") {
    import spark.implicits._
    import graft.operators.Curation
    val rows = Seq(
      (1L, "https://a.example/private/secret"),   // deny /private/
      (2L, "https://a.example/private/ok/page"),  // allow /private/ok/ (longer)
      (3L, "https://a.example/public"),           // no rule -> default
      (4L, "https://b.example/x")).toDF("id", "url")
    val rules = Seq(
      "https://a.example/private/" -> false,
      "https://a.example/private/ok/" -> true)
    val out = Curation.urlPolicyGate(rows, "id", "url", rules,
        defaultAllow = true)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(2), r.getBoolean(3)))
    out.toSeq shouldBe Seq(
      (1L, "https://a.example/private/", false),
      (2L, "https://a.example/private/ok/", true),
      (3L, null, true),
      (4L, null, true))
    // default flips with the parameter for the unmatched rows only
    Curation.urlPolicyGate(rows, "id", "url", rules, defaultAllow = false)
      .filter(col("matched_rule").isNull)
      .collect().map(_.getBoolean(3)).toSeq shouldBe Seq(false, false)
  }

  test("urlPolicyGateByLength matches the theta gate; longest length wins across groups") {
    import spark.implicits._
    import graft.operators.Curation
    // three distinct prefix lengths, a chain where ALL three match one
    // URL (longest must win), plus duplicate (id, url) rows to pin the
    // one-row-per-INPUT-row contract the theta gate's groupBy collapses
    val rows = Seq(
      (1L, "https://a.example/private/ok/page"),  // all 3 chain rules match
      (2L, "https://a.example/private/x"),        // 2 match -> middle wins
      (3L, "https://a.example/p"),                // 1 matches (shortest)
      (4L, "https://b.example/x"),                // none -> default
      (1L, "https://a.example/private/ok/page")   // exact duplicate row
    ).toDF("id", "url")
    val rules = Seq(
      "https://a.example/" -> false,
      "https://a.example/private/" -> false,
      "https://a.example/private/ok/" -> true,
      "https://b.other/" -> false)
    val byLen = Curation.urlPolicyGateByLength(rows, "id", "url", rules,
        defaultAllow = true)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(2), r.getBoolean(3)))
    // duplicate input rows are PRESERVED (no groupBy): 5 in, 5 out
    byLen.toSeq shouldBe Seq(
      (1L, "https://a.example/private/ok/", true),
      (1L, "https://a.example/private/ok/", true),
      (2L, "https://a.example/private/", false),
      (3L, "https://a.example/", false),
      (4L, null, true))
    // value-equivalence with the theta shape, whose groupBy collapses
    // the duplicate (id, url) row — equal on the distinct set
    val theta = Curation.urlPolicyGate(rows, "id", "url", rules,
        defaultAllow = true)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(2), r.getBoolean(3)))
    theta.toSeq shouldBe byLen.toSeq.distinct
  }

  test("urlPolicyGateByLength: non-BMP rule prefixes match (codepoint group key)") {
    import spark.implicits._
    import graft.operators.Curation
    // the fox emoji is non-BMP: String.length counts it as TWO UTF-16
    // units but Spark substring slices ONE codepoint — keying the
    // length groups on UTF-16 units made this rule silently never
    // match (round-10 advisory)
    val fox = new String(Character.toChars(0x1F98A))
    val rows = Seq(
      (1L, s"https://x.example/$fox/page"),
      (2L, s"https://x.example/$fox/"),
      (3L, "https://x.example/plain")).toDF("id", "url")
    val rules = Seq(s"https://x.example/$fox/" -> false)
    for (gate <- Seq(
        Curation.urlPolicyGateByLength(rows, "id", "url", rules),
        Curation.urlPolicyGate(rows, "id", "url", rules))) {
      gate.orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(2), r.getBoolean(3)))
        .toSeq shouldBe Seq(
          (1L, s"https://x.example/$fox/", false),
          (2L, s"https://x.example/$fox/", false),
          (3L, null, true))
    }
  }

  test("urlPolicyGateShuffle matches the broadcast gates; the byLength limit hands off to it") {
    import spark.implicits._
    import graft.operators.Curation
    val rows = Seq(
      (1L, "https://a.example/private/ok/page"),
      (2L, "https://a.example/private/x"),
      (3L, "https://a.example/p"),
      (4L, "https://b.example/x"),
      (1L, "https://a.example/private/ok/page") // duplicate preserved
    ).toDF("id", "url")
    val rules = Seq(
      "https://a.example/" -> false,
      "https://a.example/private/" -> false,
      "https://a.example/private/ok/" -> true,
      "https://b.other/" -> false)
    val want = Seq(
      (1L, "https://a.example/private/ok/", true),
      (1L, "https://a.example/private/ok/", true),
      (2L, "https://a.example/private/", false),
      (3L, "https://a.example/", false),
      (4L, null, true))
    val shuffled = Curation.urlPolicyGateShuffle(rows, "id", "url",
        rules.toDF("rule", "allow"), defaultAllow = true)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(2), r.getBoolean(3)))
    shuffled.toSeq shouldBe want
    // past the broadcast limit the Seq API delegates to the shuffle
    // shape — same report
    val handedOff = Curation.urlPolicyGateByLength(rows, "id", "url",
        rules, defaultAllow = true, broadcastRuleLimit = 2)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(2), r.getBoolean(3)))
    handedOff.toSeq shouldBe want
  }

  test("tokenSpectrum: deterministic top-k with exact cumulative coverage") {
    import spark.implicits._
    // 10 tokens total: a x5, b x3, c x1, d x1 -> top-3 covers 9/10 = 90%
    val df = Seq("a a a b b", "a a b c d").toDF("text")
    val out = graft.operators.TextAnalysis.tokenSpectrum(df, "text", k = 3)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    out.toSeq shouldBe Seq(
      (1L, "a", 5L, 5000L),
      (2L, "b", 3L, 8000L),
      (3L, "c", 1L, 9000L)) // ties broken by token asc: c before d
  }

  test("graft_minhash: empty array yields NULL on the SQL surface (array_min convention)") {
    val rows = spark.sql(
      """SELECT graft_minhash(CAST(array() AS ARRAY<BIGINT>), 4) AS empty,
        |       graft_minhash(CAST(NULL AS ARRAY<BIGINT>), 4) AS nul,
        |       graft_minhash(array(7L), 4) AS one""".stripMargin)
      .collect().head
    rows.isNullAt(0) shouldBe true  // empty input: null out, no task crash
    rows.isNullAt(1) shouldBe true  // null input: null out (BinaryExpression)
    rows.getSeq[Long](2).length shouldBe 4
  }

  test("coEngagement: popularity guard drops the flood item; pair counts exact") {
    import spark.implicits._
    // item 100 is touched by ALL 10 users (the head item) — with the
    // guard at 5 it contributes nothing; items 1/2 build the real edges.
    val rows =
      (1L to 10L).map(u => (u, 100L)) ++            // flood item
      Seq((1L, 1L), (2L, 1L), (3L, 1L),             // item 1: users 1,2,3
        (1L, 2L), (2L, 2L),                         // item 2: users 1,2
        (1L, 2L))                                   // duplicate event: distinct-folded
    val out = graft.operators.Graph.coEngagement(
        rows.toDF("u", "item"), "u", "item", maxUsersPerItem = 5, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // (1,2) share items 1 AND 2; (1,3) and (2,3) share item 1 only
    out.toSeq shouldBe Seq((1L, 2L, 2L), (1L, 3L, 1L), (2L, 3L, 1L))
  }

  test("preferencePairs: margin filter, tie-breaks to smallest id, singleton and near-tie groups dropped") {
    import spark.implicits._
    val df = Seq(
      // g1: ties at BOTH ends — chosen and rejected must each resolve to
      // the smallest id of the tied set
      ("g1", 1L, 10L), ("g1", 2L, 10L), ("g1", 3L, 2L), ("g1", 4L, 2L),
      ("g2", 5L, 7L), ("g2", 6L, 5L), // margin 2 < 5 → dropped
      ("g3", 7L, 9L) // singleton: chosen == rejected → dropped
    ).toDF("grp", "id", "s")
    val out = Eval.preferencePairs(df, Seq("grp"), "id", col("s"),
      minMargin = 5L).collect()
    out.length shouldBe 1
    val r = out.head
    r.getAs[String]("grp") shouldBe "g1"
    r.getAs[Long]("chosen_id") shouldBe 1L
    r.getAs[Long]("rejected_id") shouldBe 3L
    r.getAs[Long]("chosen_score") shouldBe 10L
    r.getAs[Long]("rejected_score") shouldBe 2L
    r.getAs[Long]("margin") shouldBe 8L
  }

  test("expectations: row/unique/referential rules count planted violations; report in declaration order") {
    import spark.implicits._
    // k=1 duplicated (1 uniqueness violation), one negative v, fk=99 has
    // no dim row (1 orphan)
    val fact = Seq((1L, 10L, 5L), (1L, 10L, -1L), (2L, 11L, 7L),
      (3L, 99L, 8L)).toDF("k", "fk", "v")
    val dim = Seq(10L, 11L).toDF("pk")
    val out = Profile.expectations(fact, Seq(
        Profile.RowExpectation("a_v_nonneg", col("v") < 0),
        Profile.UniqueExpectation("b_k_unique", Seq("k")),
        Profile.RefExpectation("c_fk_in_dim", Seq("fk"), dim, Seq("pk"))))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    out.toSeq shouldBe Seq(
      ("a_v_nonneg", 1L, 4L, false),
      ("b_k_unique", 1L, 4L, false),
      ("c_fk_in_dim", 1L, 4L, false))
    // a clean suite passes
    val clean = Profile.expectations(fact, Seq(
        Profile.RowExpectation("v_bound", col("v") > 100)))
      .head()
    clean.getAs[Long]("violations") shouldBe 0L
    clean.getAs[Boolean]("pass") shouldBe true
    // duplicate rule names refuse loudly
    intercept[IllegalArgumentException] {
      Profile.expectations(fact, Seq(
        Profile.RowExpectation("dup", col("v") < 0),
        Profile.RowExpectation("dup", col("v") > 0)))
    }
  }

  test("importanceScores: target-resembling docs outrank off-target; smoothing keeps unseen buckets finite") {
    val out = TextAnalysis.importanceScores(docs(
        1L -> "aa bb cc", 2L -> "aa bb cc", 3L -> "xx yy zz"),
        "doc_id", "text", isTarget = col("doc_id") === 1L,
        buckets = 4096)
      .orderBy("doc").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // aa/bb/cc buckets: corpus 2, target 1 → div(1e6·2, 3) = 666666;
    // xx/yy/zz: corpus 1, target 0 → div(1e6·1, 2) = 500000
    out.toSeq shouldBe Seq((1L, 3L, 666666L), (2L, 3L, 666666L),
      (3L, 3L, 500000L))
  }

  test("histogramDrift: identical sides all-zero; planted shift moves share mass; width mismatch refuses") {
    import spark.implicits._
    val a = Profile.histogramShard(
      Seq((0L, 100L), (0L, 1100L), (1L, 100L), (1L, 2100L))
        .toDF("shard", "c"), "shard", col("c"), widthCents = 1000L)
    val same = Profile.histogramDrift(a, a).collect()
    same.map(_.getAs[Long]("delta_x1m")).sum shouldBe 0L
    same.map(r => (r.getAs[Long]("share_a_x1m"),
      r.getAs[Long]("share_b_x1m"))).foreach { case (sa, sb) =>
      sa shouldBe sb
    }
    val b = Profile.histogramShard(
      Seq((0L, 100L), (0L, 1100L), (1L, 1100L), (1L, 2100L))
        .toDF("shard", "c"), "shard", col("c"), widthCents = 1000L)
    val drift = Profile.histogramDrift(a, b).collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("delta_x1m")))
      .toMap
    // a: buckets 0,1,2 hold 2,1,1 of 4; b: 1,2,1 — bucket 0 loses 25pts,
    // bucket 1 gains 25pts, bucket 2 flat
    drift(0L) shouldBe 250000L
    drift(1L) shouldBe 250000L
    drift(2L) shouldBe 0L
    // width contract: mismatched artifacts refuse
    val rootA = java.nio.file.Files.createTempDirectory("drift-a").toString
    val rootB = java.nio.file.Files.createTempDirectory("drift-b").toString
    val df = Seq((0L, 100L)).toDF("shard", "c")
    Profile.buildHistogramArtifact(df, "shard", col("c"), 1000L, s"$rootA/h")
    Profile.buildHistogramArtifact(df, "shard", col("c"), 500L, s"$rootB/h")
    intercept[IllegalArgumentException] {
      Profile.histogramDriftFromArtifacts(spark, s"$rootA/h", s"$rootB/h")
    }
  }

  test("maintenanceAdvice: repair outranks compact; debt threshold is a strict inequality") {
    import spark.implicits._
    val census = Seq(
      // both debris AND debt: repair wins (heal before fold)
      ("a", "rows", 100L, 50L, 2L),
      ("a", "meta", 1L, 50L, 2L),
      // debt exactly AT the 10% threshold: 10 * 10000 == 1000 * 100 —
      // strict inequality keeps it ok
      ("b", "rows", 100L, 10L, 0L),
      // debt just past it
      ("c", "rows", 100L, 11L, 0L),
      ("d", "rows", 100L, 0L, 0L)
    ).toDF("artifact", "substore", "rows", "tombstone_rows",
      "crash_leftovers")
    val out = graft.operators.ArtifactStore
      .maintenanceAdvice(census, debtX10000 = 1000L)
      .collect().map(r => r.getString(0) -> r.getAs[String]("action"))
      .toMap
    out shouldBe Map("a" -> "repair", "b" -> "ok", "c" -> "compact",
      "d" -> "ok")
  }

  test("maintenanceAdvice: rebalance on 4x bucket-byte drift, below compact in priority; exact-4x stays ok") {
    import spark.implicits._
    val census = Seq(
      // overgrown only: bytes > 4 * target * dirs (81 > 80)
      ("a", "buckets", 100L, 0L, 0L, 81L, 4L, 5L),
      // exactly AT 4x: strict inequality keeps it ok
      ("b", "buckets", 100L, 0L, 0L, 80L, 4L, 5L),
      // overgrown AND tombstone debt: compact outranks rebalance
      ("c", "buckets", 100L, 50L, 0L, 81L, 4L, 5L),
      // no recorded target: never advises rebalance
      ("d", "buckets", 100L, 0L, 0L, 999999L, 4L, 0L)
    ).toDF("artifact", "substore", "rows", "tombstone_rows",
      "crash_leftovers", "live_bytes", "bucket_dirs",
      "target_bucket_bytes")
    val out = graft.operators.ArtifactStore
      .maintenanceAdvice(census, debtX10000 = 1000L)
      .collect().map(r => r.getString(0) -> r.getAs[String]("action"))
      .toMap
    out shouldBe Map("a" -> "rebalance", "b" -> "ok", "c" -> "compact",
      "d" -> "ok")
  }

  test("maintenanceAdvice: drift on the IVF vectors geometry advises retrain, not rebalance (round-14 verdict #2)") {
    import spark.implicits._
    val census = Seq(
      // the measured vectors row drifted past 4x → retrain
      ("a", "vectors", 100L, 0L, 0L, 81L, 4L, 5L),
      ("a", "ids", 100L, 0L, 0L, 999L, 4L, 0L),
      // a non-measured row (no target) can never trip the rule, no
      // matter its bytes — the round-14 ADVICE features-row scenario
      ("b", "features", 100L, 0L, 0L, 999999L, 4L, 0L),
      ("b", "buckets", 400L, 0L, 0L, 80L, 4L, 5L)
    ).toDF("artifact", "substore", "rows", "tombstone_rows",
      "crash_leftovers", "live_bytes", "bucket_dirs",
      "target_bucket_bytes")
    val out = graft.operators.ArtifactStore
      .maintenanceAdvice(census, debtX10000 = 1000L)
      .collect().map(r => r.getString(0) -> r.getAs[String]("action"))
      .toMap
    out shouldBe Map("a" -> "retrain", "b" -> "ok")
  }

  test("executeMaintenance: duplicate aliases fail loud instead of mis-routing advice (round-14 verdict #5)") {
    intercept[IllegalArgumentException] {
      graft.operators.Maintenance.executeMaintenance(spark,
        Seq(("a", "/tmp/graft-dup-x"), ("a", "/tmp/graft-dup-y")))
    }
  }

  test("executeMaintenance: advisor-ordered IVF retrain dispatches to retrainIvfIndex and resets the drift clock") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val root = java.nio.file.Files
      .createTempDirectory("graft-retrain-exec").toString
    // a planted 1-byte target trips the 4x drift rule deterministically
    graft.operators.VectorIndex.buildIvfIndex(emb, "vec_id", "embedding",
      s"$root/ivf", nlist = 4, cellTargetBytes = 1L)
    val arts = Seq(("ivf", s"$root/ivf"))
    val wet = graft.operators.Maintenance
      .executeMaintenance(spark, arts).head()
    wet.getAs[String]("action") shouldBe "retrain"
    wet.getAs[Boolean]("executed") shouldBe true
    wet.getAs[String]("detail") shouldBe "retrainIvfIndex"
    // the retrain re-measured cell_target_bytes on the retrained
    // geometry, so a fresh census reads ok
    graft.operators.Maintenance.executeMaintenance(spark, arts)
      .head().getAs[String]("action") shouldBe "ok"
  }

  test("retractFromHistogram: drifted presented rows fail loud against the ledger fingerprint (round-14 verdict #3)") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-histfp").toString
    val rows = Seq((0L, 100L), (0L, 2100L), (1L, 150L), (1L, 3100L))
      .toDF("shard", "c")
    Profile.buildHistogramArtifact(rows, "shard", col("c"), 1000L,
      s"$root/h")
    // compact first — the retraction must subtract via negatives, where
    // drifted rows would corrupt silently without the fingerprint
    Profile.compactHistogram(spark, s"$root/h")
    val drifted = Seq((1L, 150L), (1L, 9999L)).toDF("shard", "c")
    val e = intercept[IllegalArgumentException] {
      Profile.retractFromHistogram(drifted, "shard", col("c"), s"$root/h")
    }
    e.getMessage should include("fingerprint")
    // the exact replay still retracts: quantiles equal a shard-0 build
    Profile.retractFromHistogram(rows.filter(col("shard") === 1L),
      "shard", col("c"), s"$root/h")
    val got = Profile.quantilesFromHistogramArtifact(spark, s"$root/h",
        qsX10000 = Seq(5000, 10000))
      .orderBy("q_x10000").collect()
      .map(r => (r.getAs[Int]("q_x10000"), r.getAs[Long]("upper_cents")))
    val want = {
      val r2 = java.nio.file.Files
        .createTempDirectory("graft-histfp2").toString
      Profile.buildHistogramArtifact(rows.filter(col("shard") === 0L),
        "shard", col("c"), 1000L, s"$r2/h")
      Profile.quantilesFromHistogramArtifact(spark, s"$r2/h",
          qsX10000 = Seq(5000, 10000))
        .orderBy("q_x10000").collect()
        .map(r => (r.getAs[Int]("q_x10000"),
          r.getAs[Long]("upper_cents")))
    }
    got shouldBe want
  }

  test("executeMaintenance: dry-run plans but never acts; acted stores read back clean") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val root = java.nio.file.Files
      .createTempDirectory("graft-exec").toString
    graft.operators.VectorIndex.buildIvfIndex(emb, "vec_id", "embedding",
      s"$root/ivf", nlist = 4)
    graft.operators.VectorIndex.retractFromIvfIndex(
      emb.filter(col("vec_id") % 4 === 1).select("vec_id"), "vec_id",
      s"$root/ivf")
    val arts = Seq(("ivf", s"$root/ivf"))
    val dry = graft.operators.Maintenance
      .executeMaintenance(spark, arts, debtX10000 = 500L, dryRun = true)
      .head()
    dry.getAs[String]("action") shouldBe "compact"
    dry.getAs[Boolean]("executed") shouldBe false
    // dry-run touched nothing: tombstones still there
    new java.io.File(s"$root/ivf/tombstones").exists() shouldBe true
    val wet = graft.operators.Maintenance
      .executeMaintenance(spark, arts, debtX10000 = 500L)
      .head()
    wet.getAs[String]("detail") shouldBe "compactIvfIndex"
    new java.io.File(s"$root/ivf/tombstones").exists() shouldBe false
    graft.operators.Maintenance
      .executeMaintenance(spark, arts, debtX10000 = 500L)
      .head().getAs[String]("action") shouldBe "ok"
  }

  test("probeIvfIndexWhere: predicate applies before top-k (full k among survivors); pin-equal to filtered brute force at nprobe=nlist") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val root = java.nio.file.Files
      .createTempDirectory("graft-fann").toString + "/idx"
    VectorIndex.buildIvfIndex(emb, "vec_id", "embedding", root, nlist = 4)
    val qs = emb.filter(col("vec_id") < 5)
    val keepEven = pmod(col("vec_id"), lit(2)) === 0
    val ann = VectorIndex.probeIvfIndexWhere(qs, root, "vec_id",
        "embedding", keep = keepEven, k = 5, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // every neighbor satisfies the predicate, and the filter never
    // under-fills k (post-filtering a plain top-5 would)
    ann.foreach { case (_, _, n) => n % 2 shouldBe 0L }
    ann.groupBy(_._1).values.foreach(_.length shouldBe 5)
    val exact = Similarity.bruteForceTopK(qs,
        emb.filter(keepEven), "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    ann.sortBy(t => (t._1, t._2)).toSeq shouldBe
      exact.sortBy(t => (t._1, t._2)).toSeq
  }

  test("knnLabelVote: string labels vote correctly; ties break to the SMALLER label (round-13 verdict #3)") {
    import spark.implicits._
    // query 1: neighbors vote zebra, zebra, apple → zebra wins on count;
    // query 2: 2-2 tie between "b" and "a" → the smaller label "a" wins
    val topk = Seq(
      (1L, 1, 10L), (1L, 2, 11L), (1L, 3, 12L),
      (2L, 1, 10L), (2L, 2, 11L), (2L, 3, 13L), (2L, 4, 14L)
    ).toDF("query_id", "rank", "neighbor_id")
    val labels = Seq(
      (1L, "zebra"), (2L, "a"),
      (10L, "b"), (11L, "b"), (12L, "apple"),
      (13L, "a"), (14L, "a")
    ).toDF("id", "lab")
    val out = Eval.knnLabelVote(topk, labels, "id", "lab")
      .orderBy("query_id").collect()
      .map(r => (r.getLong(0), r.getAs[String]("true_label"),
        r.getAs[String]("predicted_label"), r.getAs[Long]("votes")))
    // query 1: "b" = 2 votes beats "apple" = 1 → predicted "b", wrong
    out(0) shouldBe ((1L, "zebra", "b", 2L))
    // query 2: "b" = 2 (10, 11) vs "a" = 2 (13, 14): tie → smaller
    // label "a" — the determinism the old -col(label) tie-break lost
    // on strings (it cast to double → null)
    out(1) shouldBe ((2L, "a", "a", 2L))
  }

  test("preferencePairs: non-numeric VALUES fail loud; numeric text in string columns works (round-14 advisory)") {
    import spark.implicits._
    // string columns holding numeric text cast cleanly and work — the
    // round-13 fail-loud guard was stricter than the bug it fixed
    val ok = Seq(("g", "1", "5"), ("g", "2", "1"))
      .toDF("grp", "id", "s")
    val pairs = Eval.preferencePairs(ok, Seq("grp"), "id", col("s"))
      .collect()
    pairs.length shouldBe 1
    pairs.head.getAs[Long]("chosen_id") shouldBe 1L
    pairs.head.getAs[Long]("rejected_id") shouldBe 2L
    // a string VALUE that does not parse raises in-plan at execution
    val df = Seq(("g", "x1", 5L), ("g", "x2", 1L)).toDF("grp", "id", "s")
    val e = intercept[Exception] {
      Eval.preferencePairs(df, Seq("grp"), "id", col("s")).collect()
    }
    e.getMessage should include("is not numeric")
    val df2 = Seq(("g", 1L, "hi"), ("g", 2L, "lo")).toDF("grp", "id", "s")
    val e2 = intercept[Exception] {
      Eval.preferencePairs(df2, Seq("grp"), "id", col("s")).collect()
    }
    e2.getMessage should include("is not numeric")
    // non-numeric, non-string types still refuse at plan time
    val df3 = Seq(("g", Array(1), 5L)).toDF("grp", "id", "s")
    intercept[IllegalArgumentException] {
      Eval.preferencePairs(df3, Seq("grp"), "id", col("s"))
    }
  }

  test("census: every row count — all substores AND tombstones — rides ONE Spark job (round-14 verdict #6)") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val root = java.nio.file.Files
      .createTempDirectory("graft-censusjobs").toString
    graft.operators.VectorIndex.buildIvfIndex(emb, "vec_id", "embedding",
      s"$root/ivf", nlist = 4)
    graft.operators.VectorIndex.retractFromIvfIndex(
      emb.filter(col("vec_id") % 8 === 1).select("vec_id"), "vec_id",
      s"$root/ivf")
    // no `meta` substore on purpose: a meta store would cost census one
    // cachedMeta read job on a root this JVM never built (builds seed
    // the cache), which is the meta-cache discipline, not the count path
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$root/tiny/rows")
    Seq(1L).toDF("w").write.parquet(s"$root/tiny/aux")
    val sc = spark.sparkContext
    sc.setJobGroup("graft-census-jobs", "census job-count pin")
    val census = try graft.operators.ArtifactStore.census(spark,
      Seq(("ivf", s"$root/ivf"), ("tiny", s"$root/tiny")))
    finally sc.clearJobGroup()
    // 8 count scans (5 ivf substores + tombstones, 2 tiny substores)
    // union into ONE count query — two jobs under AQE (partial-count
    // shuffle + final fold) — instead of a schema-inference job PLUS a
    // count job per substore (the returned frame itself is a local
    // relation; no further jobs until the caller acts on it)
    sc.statusTracker.getJobIdsForGroup("graft-census-jobs")
      .length should be <= 2
    census.filter(col("substore") === "vectors")
      .head().getAs[Long]("rows") shouldBe emb.count()
    census.filter(col("artifact") === "ivf" &&
        col("substore") === "ids")
      .head().getAs[Long]("tombstone_rows") shouldBe
      emb.filter(col("vec_id") % 8 === 1).count()
  }

  test("census: a root holding ONLY crash debris still surfaces (synthetic substore row) and the advisor orders repair") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-debris").toString + "/store"
    val debris = new java.io.File(s"$root/features.__old")
    require(debris.mkdirs(), s"could not plant $debris")
    val census = graft.operators.ArtifactStore.census(spark,
      Seq(("wounded", root)))
    val rows = census.collect()
    rows.length shouldBe 1
    rows.head.getString(1) shouldBe "(none)"
    rows.head.getAs[Long]("rows") shouldBe 0L
    rows.head.getAs[Long]("crash_leftovers") shouldBe 1L
    val advice = graft.operators.ArtifactStore.maintenanceAdvice(census)
      .collect()
    advice.length shouldBe 1
    advice.head.getAs[String]("action") shouldBe "repair"
  }

  test("census: a 3-artifact fleet keeps the count-job pin; duplicate aliases refuse loud (round-15 verdict #6 + advisory)") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-censusfleet").toString
    // three flat artifacts, two substores each — 6 count groups, well
    // inside one CensusUnionChunk, so the whole fleet still counts in
    // ≤ 2 jobs (one chunked union under AQE)
    for (a <- Seq("a1", "a2", "a3")) {
      Seq((1L, a)).toDF("id", "v").write.parquet(s"$root/$a/rows")
      Seq(1L, 2L).toDF("w").write.parquet(s"$root/$a/aux")
    }
    val sc = spark.sparkContext
    sc.setJobGroup("graft-census-fleet", "census fleet job pin")
    val census = try graft.operators.ArtifactStore.census(spark,
      Seq(("a1", s"$root/a1"), ("a2", s"$root/a2"), ("a3", s"$root/a3")))
    finally sc.clearJobGroup()
    sc.statusTracker.getJobIdsForGroup("graft-census-fleet")
      .length should be <= 2
    census.count() shouldBe 6
    census.filter(col("artifact") === "a2" && col("substore") === "aux")
      .head().getAs[Long]("rows") shouldBe 2L
    // counts key by alias: two roots under one alias would silently
    // merge into one row — the census refuses instead
    val e = intercept[IllegalArgumentException] {
      graft.operators.ArtifactStore.census(spark,
        Seq(("dup", s"$root/a1"), ("dup", s"$root/a2")))
    }
    e.getMessage should include("duplicate artifact aliases")
  }
}
