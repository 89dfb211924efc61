package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Portable
import graft.operators.{AsOfJoin, Curation, Dedup, Eval, Graph, Layout, Profile, Quantize, RangeJoin, Retrieval, Sequence, Similarity, Skew, TextAnalysis, TimeSeries, VectorIndex}
import graft.streaming.StreamOps
import org.apache.spark.sql.graft.InputBytesMeter

/** Scale-linearity probe: times the dedup/text operators on 1×/2×/4×/8×
  * replications of the documents corpus and reports the growth exponent —
  * the empirical answer to "would this plan hold at 1000× the data?".
  * A well-partitioned operator should scale ~O(n) in corpus size (ratio8
  * ≈ 8, exponent ≈ 1); anything super-linear means candidate-pair blowup.
  *
  * Replicas get shifted doc ids AND every token prefixed with the replica
  * id (disjoint shingle/token namespaces), so near-dup clusters can NOT
  * merge across replicas — the workload (docs, pairs, cluster structure)
  * grows linearly by construction and the measured exponent isolates the
  * ENGINE's scaling. (A weaker per-replica suffix marker is not enough:
  * 15 of 16 min-hashes survive a one-shingle change, replicas of the same
  * doc collide in LSH bands, and the corpus genuinely develops m-member
  * clusters — m²/2 candidate pairs per base doc, quadratic in m.)
  *
  * Usage: `runMain graft.Probe scale [maxMultiplier] [opPrefix,...]`
  * (default 8; must be a power of two; the optional second arg restricts
  * to ops whose name starts with one of the prefixes). Reads
  * SPARK_GRAFT_SF_DIR (default sf0.1).
  */
object ScaleProbe {

  def run(spark: SparkSession, args: Array[String]): Unit = {
    val maxMult = args.headOption.map(_.toInt).getOrElse(8)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val baseCount = docs.count()
    val multipliers = Iterator.iterate(1)(_ * 2).takeWhile(_ <= maxMult).toSeq

    // Stage each replica ONCE (timed section excludes the writes); a
    // multiplier-m corpus is the union of the first m replica dirs, so the
    // staging footprint is maxMult × base, not sum(multipliers) × base.
    val stageRoot = java.nio.file.Files.createTempDirectory("graft-scaleprobe").toString
    val replicaDirs: IndexedSeq[String] = (0 until maxMult).map { r =>
      val dir = s"$stageRoot/r$r"
      docs.select(
          (col("doc_id") + lit(r.toLong * 10000000L)).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", s"r${r}_$$1").as("text"))
        .write.mode("overwrite").parquet(dir)
      dir
    }
    def corpus(m: Int): DataFrame = spark.read.parquet(replicaDirs.take(m): _*)

    // ---- Natural-corpus (shared-vocabulary Zipfian) staging ----
    // The disjoint-token-namespace replicas above isolate ENGINE scaling
    // but are structurally BLIND to cross-doc feature sharing: replicas
    // cannot share a single shingle by construction, so an unpruned
    // inverted-index candidate generator measures linear there no matter
    // how badly it would flood on real text. The zipf_* ops run the
    // inverted-index family on a corpus with the opposite property: every
    // doc draws its tokens from ONE fixed vocabulary with p(rank r) ∝ 1/r
    // (inverse-CDF floor(V^u) over a hash-uniform u — Zipf s=1, the
    // natural-corpus head/tail shape), so stop-features are shared
    // corpus-wide and the docs-per-feature histogram grows with m —
    // exactly the flooding workload the maxBucket guard exists for.
    // Growing m adds docs over the SAME vocabulary (ids continue, heads
    // densify), unlike the namespace-shifted replicas.
    val zipfBase = 5000L
    lazy val zipfDirs: IndexedSeq[String] = (0 until maxMult).map { r =>
      val dir = s"$stageRoot/zipf/r$r"
      spark.range(r * zipfBase, (r + 1) * zipfBase)
        .select(col("id").as("doc_id"),
          concat_ws(" ", transform(sequence(lit(1), lit(60)), j =>
            concat(lit("t"), floor(pow(lit(20000.0),
              (Portable.hash56(concat(col("id").cast("string"), lit("_"),
                j.cast("string"))) % 1000000L).cast("double") / 1e6))
              .cast("long").cast("string")))).as("text"))
        .write.mode("overwrite").parquet(dir)
      dir
    }
    def zipfCorpus(m: Int): DataFrame = spark.read.parquet(zipfDirs.take(m): _*)

    // Boilerplate variant: same Zipfian body, but every 5th doc carries an
    // identical 11-token license-header prefix. Random Zipf draws alone
    // flood only mildly (a specific shared TRIGRAM needs the same three
    // tokens in sequence — measured exponent ~0.5 unguarded); real floods
    // come from REPEATED BLOCKS, where every header shingle is shared by
    // the whole 20% cohort and candidate pairs grow C(cohort, 2) ∝ m².
    lazy val zipfBoilerDirs: IndexedSeq[String] = {
      val header = "standard license header terms apply to this document " +
        "revision two zero"
      (0 until maxMult).map { r =>
        val dir = s"$stageRoot/zipfb/r$r"
        spark.read.parquet(zipfDirs(r))
          .select(col("doc_id"),
            when(col("doc_id") % 5 === 0,
              concat(lit(header + " "), col("text")))
              .otherwise(col("text")).as("text"))
          .write.mode("overwrite").parquet(dir)
        dir
      }
    }
    def zipfBoiler(m: Int): DataFrame =
      spark.read.parquet(zipfBoilerDirs.take(m): _*)

    // Cipher replicas for CHAR-GRAM operators (winnowing): the token-prefix
    // scheme is the WRONG construction there — inserting the same "rN_"
    // glue between every pair of words plants an identical 3-char sequence
    // at every token boundary, and 12-char grams spanning boundaries all
    // collide corpus-wide (measured: 20× the raw-corpus wall-clock, a
    // corpus artifact, not the operator). A per-replica alphabet ROTATION
    // (translate a→(a+r) mod 26) keeps every doc's length, token shape and
    // bucket-size distribution identical while making cross-replica gram
    // namespaces disjoint — any gram containing a letter differs between
    // replicas. zh docs are excluded: ideographs are outside the cipher
    // alphabet, so untranslated zh text would replicate verbatim and
    // manufacture cross-replica near-dup clusters (m²/2 pairs per doc).
    lazy val cipherDirs: IndexedSeq[String] = {
      require(maxMult <= 26,
        "cipher corpus: rotation alphabet supports at most 26 disjoint " +
          "replicas — beyond that rotations repeat and replicas become " +
          "verbatim cross-replica duplicates (the construction's failure " +
          "mode); cap the multiplier or extend the cipher")
      val from = "abcdefghijklmnopqrstuvwxyz"
      (0 until maxMult).map { r =>
        val dir = s"$stageRoot/cipher/r$r"
        val to = from.drop(r) + from.take(r)
        docs.filter(col("lang") =!= "zh")
          .select((col("doc_id") + lit(r.toLong * 10000000L)).as("doc_id"),
            translate(lower(col("text")), from, to).as("text"))
          .write.mode("overwrite").parquet(dir)
        dir
      }
    }
    def cipherCorpus(m: Int): DataFrame =
      spark.read.parquet(cipherDirs.take(m): _*)

    // Staged outside the timed section (a parquet write inside an op would
    // bill staging to the operator): per-multiplier synthetic event files
    // for the streaming-alerts probe. Users scale with m; 10 events/user
    // at 1100 cents against a 2000-cent threshold → 5 alerts/user, so
    // per-key state and emit width stay constant.
    lazy val alertDirs: Map[Int, String] = multipliers.map { m =>
      val users = 100000L * m
      val dir = s"$stageRoot/alerts/m$m"
      spark.range(users * 10).select((col("id") % users).as("user_id"),
          lit(11.0).as("value"))
        .write.mode("overwrite").parquet(dir)
      m -> dir
    }.toMap

    // Time-series operators probe on arithmetic inputs (spark.range) sized
    // by the multiplier instead of corpus replicas: keys scale with m so
    // per-key density (window partition width, matches per interval) stays
    // CONSTANT — the workload grows linearly by construction and the
    // exponent isolates the engine, exactly like the token-prefix scheme
    // does for the text operators.
    def asofInputs(m: Int): (DataFrame, DataFrame) = {
      val n = 1000000L * m; val keys = 1000L * m
      val left = spark.range(n).select((col("id") % keys).as("k"),
        (expr(s"id div ${keys}L") * 2).as("ts"), col("id").as("lid"))
      val right = spark.range(n).select((col("id") % keys).as("k"),
        (expr(s"id div ${keys}L") * 2 + 1).as("ts"), col("id").as("v"))
      (left, right)
    }

    // Per-replica LSH index versions for the ingest_triage probe: built
    // once on demand (the untimed warm-up pass triggers any build a
    // multiplier needs), then every timed run probes the STORED
    // signatures only.
    val triageBuilt = scala.collection.mutable.Set[Int]()
    def triageIdx(r: Int): String = {
      val p = s"$stageRoot/triage/r$r"
      if (!triageBuilt(r)) {
        Dedup.buildLshIndex(
          spark.read.parquet(replicaDirs(r)).filter(col("doc_id") % 4 =!= 0),
          "doc_id", "text", p, shingleSize = 3, numHashes = 16, bands = 4)
        triageBuilt += r
      }
      p
    }

    // Bipartite (user, item) incidence for the co-engagement probes: a
    // long tail of ~2-user items plus one hot item whose audience grows
    // with m (hot pairs grow m²; tail pairs grow linearly).
    def coInputs(m: Int): DataFrame = {
      val users = 10000L * m
      // every odd user touches the hot item: hot pairs = (users/2)²/2,
      // growing m² — 12.5M pairs at 1×, 200M at 4×, so the flood
      // dominates the linear tail once the guard is off
      val tail = spark.range(users * 20).select(
        (col("id") % users).as("u"),
        ((col("id") * 2654435761L) % (users * 10) + 100000000L).as("item"))
      val hot = spark.range(users / 2).select(
        (col("id") * 2 + 1).as("u"), lit(0L).as("item"))
      tail.unionByName(hot)
    }

    // ---- Streaming-state staging: TIME-ORDERED day chunks ----
    // The stateful-streaming scaling claims are about the TIME axis: state
    // must be bounded by watermark/horizon/open-windows however long the
    // stream runs. So these probes grow the number of DAYS with m (rate,
    // keys and horizon fixed) and read state-row counts per batch — the
    // claim is state FLAT in m while wall time grows ~linearly. One
    // parquet file per day, moved into the dir in day order (the file
    // source processes in timestamp order), so a maxFilesPerTrigger=1
    // drain replays the stream in event-time order and the watermark
    // advances between micro-batches — the regime where eviction is
    // observable at all (a single-batch drain never evicts mid-batch and
    // would report state = everything, refuting nothing).
    lazy val streamDayDirs: Map[Int, String] = multipliers.map { m =>
      val days = 4 * m; val users = 500L; val perDay = 20000L
      val stepUs = 86400000000L / perDay
      val dir = new java.io.File(s"$stageRoot/streamdays/m$m")
      dir.mkdirs()
      (0 until days).foreach { d =>
        val tmp = java.nio.file.Files.createTempDirectory("graft-probe-day")
        spark.range(perDay).select(
            (col("id") % users).as("user_id"),
            (lit(d.toLong * perDay) + col("id")).as("event_id"),
            expr(s"timestamp_micros(${d}L * 86400000000L + id * ${stepUs}L)")
              .as("ts"),
            element_at(array(lit("view"), lit("click"), lit("purchase")),
              (col("id") % 3 + 1).cast("int")).as("event_type"),
            lit(1.5).as("value"))
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = tmp.toFile.listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          dir.toPath.resolve(f"chunk-$d%04d.parquet"))
      }
      m -> dir.toString
    }.toMap

    // Per-(op, multiplier) state-row counts recorded by the streaming
    // probes (warm-up and timed runs both record; the timed run's value
    // overwrites). Reported on a separate JSON line.
    val stateRowsSeen = scala.collection.mutable.LinkedHashMap[(String, Int), Long]()
    def recordState(name: String, m: Int, rows: Long): Unit =
      stateRowsSeen((name, m)) = rows
    // staged-store bytes written per mutation (round-12: the labels
    // O(touched) evidence is BYTES, not wall time — wall time at probe
    // scale is job-overhead-bound); last write per (op, m) wins, i.e.
    // the timed run
    val bytesSeen = scala.collection.mutable.LinkedHashMap[(String, Int), Long]()
    def recordBytes(name: String, m: Int, bytes: Long): Unit =
      bytesSeen((name, m)) = bytes

    // URL-gate probe fixtures: a FIXED synthetic URL per base-corpus doc;
    // the rule list is the scaled lever — 250 site-prefix rules that can
    // match plus 512·m−250 deeper never-matching ones (distinct by the
    // q$i segment), spanning a handful of distinct prefix lengths like a
    // real robots corpus.
    // (no localCheckpoint: the probe harness unpersists ALL cached RDDs
    // between runs, which would orphan the checkpoint blocks; the url
    // construction is map-only and cheap to recompute per run. The ×16
    // explode lifts the FIXED url side to ~80k rows so the theta
    // control's urls × rules product dominates its fixed overhead and
    // the linearity is measurable, not masked.)
    def gateUrls: DataFrame = corpus(1)
      .select(col("doc_id"), explode(expr("sequence(0, 15)")).as("rep"))
      .select((col("doc_id") * 16 + col("rep")).as("doc_id"))
      .select(col("doc_id"),
        concat(lit("https://site"), pmod(col("doc_id"), lit(1000)),
          lit(".example/p/"), col("doc_id")).as("url"))
    // absorb-probe fixtures: the FIXED fresh batch (replica-0 %4==0
    // slice under disjoint ids; texts are exact dups of indexed docs so
    // the stored-index probe finds real matches), and the per-multiplier
    // built-once base artifacts
    val absorbBaseBuilt = scala.collection.mutable.Set[Int]()
    def absorbBatch: DataFrame = corpus(1).filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") + 900000000L).as("doc_id"), col("text"))

    // retract-probe fixtures: OWN base artifacts (the in-place mutation
    // must not perturb the absorb sweep's base), plus a slice counter so
    // every invocation — warm and timed — retracts a FRESH disjoint
    // replica-0 slice and does real component-bounded work against an
    // always-consistent store (a repeat of the SAME slice would be the
    // trivial already-retracted no-op and measure nothing)
    val retractBaseBuilt = scala.collection.mutable.Set[Int]()
    val retractSlice = new java.util.concurrent.atomic.AtomicInteger(0)

    // bytes-probe fixtures: per-multiplier bucketed base artifacts with
    // N ∝ corpus rows (constant ~512-row bucket target, the geometry
    // under which O(touched) means bytes-flat), plus a fresh-id counter
    // so warm and timed runs both absorb a REAL disjoint batch
    val absorbBytesBuilt = scala.collection.mutable.Set[Int]()
    val absorbBytesSlice = new java.util.concurrent.atomic.AtomicInteger(0)
    def absorbBytesBatch(k: Int): DataFrame = corpus(1).orderBy("doc_id")
      .limit(16)
      .select((col("doc_id") + 900000000L + k.toLong * 1000000L).as("doc_id"),
        col("text"))

    // bytes-READ probe fixtures (round-13, the read twins of
    // absorbbytes_labels): per-multiplier stores whose GEOMETRY scales
    // with the corpus (labels buckets, index parts, IVF cells all ∝ m —
    // the production sizing rule), a tiny STAGED batch/query file per
    // invocation so the fixed input's own file read doesn't mask the
    // store reads, and the degenerate single-part controls whose every
    // read is the whole store.
    val readBytesBuilt = scala.collection.mutable.Set[Int]()
    def stagedTinyBatch(k: Int): DataFrame = {
      val p = s"$stageRoot/rdbatch/k$k"
      absorbBytesBatch(k).coalesce(1).write.mode("overwrite").parquet(p)
      spark.read.parquet(p)
    }
    lazy val vecDirs: IndexedSeq[String] = (0 until maxMult).map { r =>
      val dir = s"$stageRoot/vec/r$r"
      spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select((col("vec_id") + lit(r.toLong * 10000000L)).as("vec_id"),
          col("embedding"))
        .write.mode("overwrite").parquet(dir)
      dir
    }
    def vecCorpus(m: Int): DataFrame =
      spark.read.parquet(vecDirs.take(m): _*)
    lazy val vecQueriesPath: String = {
      val p = s"$stageRoot/vecq"
      spark.read.parquet(s"$sfDir/embeddings.parquet")
        .filter(col("vec_id") < 10).coalesce(1)
        .write.mode("overwrite").parquet(p)
      p
    }
    val probeBytesBuilt = scala.collection.mutable.Set[Int]()
    val retractBytesBuilt = scala.collection.mutable.Set[Int]()
    val prodAbsorbBuilt = scala.collection.mutable.Set[Int]()
    // a FIXED-SIZE takedown (4 replica-0 ids, fresh slice per call so a
    // replay is a real retraction of not-yet-tombstoned ids), staged as
    // a tiny one-file parquet so the input's own read is constant
    def stagedTakedown(k: Int): DataFrame = {
      val p = s"$stageRoot/rvtd/k$k"
      spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select("vec_id").orderBy("vec_id")
        .limit(4 * (k + 1)).orderBy(col("vec_id").desc).limit(4)
        .coalesce(1).write.mode("overwrite").parquet(p)
      spark.read.parquet(p)
    }

    def gateRules(m: Int): Seq[(String, Boolean)] =
      (0 until 250).map(i => s"https://site${4 * i}.example/" -> (i % 2 == 0)) ++
        (250 until 4096 * m).map(i =>
          s"https://site${i % 1000}.example/q$i/" -> (i % 2 == 1))

    val ops: Seq[(String, Int => Long)] = Seq(
      "dedup_exact" -> (m => Dedup.exact(corpus(m), "doc_id", "text").count()),
      "dedup_minhash_lsh" -> (m =>
        Dedup.minHashLsh(corpus(m), "doc_id", "text", shingleSize = 3, numHashes = 16,
          bands = 4, threshold = 0.5).count()),
      "dedup_simhash" -> (m =>
        Dedup.simHash(corpus(m), "doc_id", "text", maxHamming = 3).count()),
      "text_quality" -> (m =>
        TextAnalysis.qualityScore(corpus(m), "doc_id", "text").count()),
      "doc_chunking" -> (m =>
        TextAnalysis.chunk(corpus(m), "doc_id", "text", window = 40, stride = 30).count()),
      "asof_join" -> { m =>
        val (left, right) = asofInputs(m)
        // right is unique per (k, ts) by construction — single-shuffle plan
        AsOfJoin.backward(left, right, "k", "ts", Seq("v"),
          validateUnique = false).count()
      },
      "range_join" -> { m =>
        val n = 2000000L * m
        val points = spark.range(n).select(col("id").as("pid"), col("id").as("x"))
        val intervals = spark.range(n / 50)
          .select(col("id").as("iid"), (col("id") * 50).as("s"),
            (col("id") * 50 + 99).as("e")) // every point in ~2 intervals
        RangeJoin.pointInInterval(points, intervals, "x", "s", "e",
          bucketWidth = 64).count()
      },
      // Eval side stays FIXED (replica 0) while the corpus grows — the
      // real decontamination shape: benchmark sets don't grow with the
      // corpus, so a linear exponent certifies the broadcast-probe plan.
      "decontamination" -> (m =>
        Curation.decontaminate(corpus(m), corpus(1), "doc_id", "text",
          shingleSize = 5, thresholdPct = 20)
          .agg(sum("matched_shingles")).first().getLong(0)),
      "repetition" -> (m =>
        Curation.repetitionStats(corpus(m), "doc_id", "text", n = 2).count()),
      // Two-pass global-stats shape: token DF table + join-back. Disjoint
      // replica token namespaces keep per-token DF constant, so the
      // exponent isolates the engine, not a densifying vocabulary.
      "rarity_score" -> (m =>
        Curation.rarityScore(corpus(m), "doc_id", "text")
          .agg(sum("df_sum")).first().getLong(0)),
      // count() would let Catalyst prune the regexp columns (the b11
      // bench caveat); summing the redacted lengths forces the real work.
      "pii_redaction" -> (m =>
        Curation.redactPii(corpus(m), "doc_id", "text")
          .agg(sum(length(col("redacted")))).first().getLong(0)),
      // numShards scales with m (the deploy guidance: shards ≈ cores ×
      // data growth), so per-shard stream length — the window partition a
      // single task walks — stays constant.
      "sequence_packing" -> (m =>
        Curation.packSequences(corpus(m), "doc_id", "text",
          capacity = 256, numShards = 8 * m).count()),
      // Disjoint replica token namespaces keep each doc's distinct-token
      // set and per-token DF constant as the corpus grows — the exponent
      // isolates the tf/df shuffles and the per-doc window.
      "distinctive_terms" -> (m =>
        Curation.distinctiveTerms(corpus(m), "doc_id", "text", k = 3)
          .agg(sum("df")).first().getLong(0)),
      // Steady-state incremental shape: the batch stays FIXED (replica 0)
      // while the index grows with m — linearity certifies the probe cost
      // is driven by the index scan, never index × batch.
      "incremental_dedup" -> (m =>
        Dedup.incrementalNew(corpus(1), corpus(m), "doc_id", "text").count()),
      "column_profile" -> (m =>
        Profile.columns(corpus(m), Seq("doc_id", "text")).count()),
      // Two-pass MG heavy hitters on a corpus whose DISTINCT-token count
      // grows linearly with m (disjoint replica namespaces) — exactly the
      // regime the operator exists for: the candidate set stays bounded
      // by (k−1)·partitions whatever the vocabulary does, so a ~linear
      // exponent certifies two linear scans + a bounded recount, never a
      // full-vocabulary keyed shuffle.
      "heavy_hitters" -> (m =>
        Skew.heavyHitters(
          corpus(m).select(explode(Portable.tokens(col("text"))).as("token")),
          "token", k = 100).count()),
      // sum(q_sum) forces the full transform (count() would prune the
      // quantization projection away — the b11 bench caveat).
      "quantize_int8" -> { m =>
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val grown = (0 until m).map(r => emb.select(
          (col("vec_id") + lit(r.toLong * 10000000L)).as("vec_id"),
          col("embedding"))).reduce(_ unionByName _)
        Quantize.int8(grown, "embedding")
          .select(expr("aggregate(q, 0L, (a, x) -> a + x)").as("qs"))
          .agg(sum("qs")).first().getLong(0)
      },
      // Funnel (x47): users scale with m, 20 events per user constant —
      // the per-key fold width (the only per-task state) never grows.
      "funnel" -> { m =>
        val users = 100000L * m
        val ev = spark.range(users * 20).select(
          (col("id") % users).as("user_id"),
          expr(s"id div $users").as("ts"), col("id").as("event_id"),
          expr(s"element_at(array('view','click','purchase'), " +
            s"cast((id div $users) % 3 as int) + 1)").as("event_type"))
        Sequence.funnel(ev, "user_id", "ts", "event_id", "event_type",
            Seq("view", "click", "purchase"))
          .agg(sum("reached")).first().getLong(0)
      },
      // Retention (x48 shape): users scale with m, 8 activity weeks per
      // user constant — two keyed shuffles whose per-key width is fixed.
      "retention" -> { m =>
        val users = 200000L * m
        val ev = spark.range(users * 16).select(
          (col("id") % users).as("user_id"),
          expr(s"(id div $users) % 8").as("wk"))
        val first = ev.groupBy("user_id").agg(min("wk").as("cw"))
        ev.join(first, Seq("user_id")).groupBy("cw", "wk")
          .agg(count_distinct(col("user_id")).as("users"))
          .agg(sum("users")).first().getLong(0)
      },
      // Semantic dedup (x54 composition): deterministic pseudo-random
      // vectors (disjoint ids per multiplier step — no replica collisions),
      // with LSH bits growing log2(m) so expected bucket occupancy stays
      // constant — exactly the documented deploy guidance (raise bits with
      // the corpus). Candidate pairs then grow ~linearly and the exponent
      // isolates the bucket join + component rounds.
      "semantic_dedup" -> { m =>
        val n = 20000L * m; val dim = 16
        val bits = 8 + (31 - Integer.numberOfLeadingZeros(m))
        val vecs = spark.range(n).select(col("id").as("vec_id"),
          transform(sequence(lit(1), lit(dim)),
            j => (Portable.hash56(concat(col("id").cast("string"), lit("_"),
              j.cast("string"))) % 2001 - 1000) / 1000.0).as("embedding"))
        val pairs = Dedup.embeddingCosineLsh(vecs, "vec_id", "embedding",
            bits = bits, threshold = 0.8)
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
        Dedup.canonicalize(vecs.select("vec_id"), "vec_id", pairs).count()
      },
      // Quantized brute-force ANN (x55): fixed 10-query set, corpus grows —
      // candidates are 10 × corpus, strictly linear by construction.
      "ann_quantized" -> { m =>
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val grown = (0 until m).map(r => emb.select(
          (col("vec_id") + lit(r.toLong * 10000000L)).as("vec_id"),
          col("embedding"))).reduce(_ unionByName _)
        Quantize.dotTopK(grown.filter(col("vec_id") < 10), grown,
          "vec_id", "embedding", k = 5).count()
      },
      // IVF-SQ8 (x56): fixed queries and fixed nlist/nprobe — probed
      // candidates are nprobe/nlist of the corpus, linear in m.
      "ann_ivf_sq8" -> { m =>
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val grown = (0 until m).map(r => emb.select(
          (col("vec_id") + lit(r.toLong * 10000000L)).as("vec_id"),
          col("embedding"))).reduce(_ unionByName _)
        Quantize.ivfDotTopK(grown.filter(col("vec_id") < 10), grown,
          "vec_id", "embedding", k = 5, nlist = 64, nprobe = 4).count()
      },
      // Domain curation (x126): domains scale with m at ~20 docs/domain
      // constant — extraction/blocklist are map-side, and the one
      // domain-keyed window's partition width never grows.
      "domain_curation" -> { m =>
        val n = 200000L * m; val domains = n / 20L
        val urls = spark.range(n).select(col("id").as("doc_id"),
          (col("id") * 31L % 1000L).as("quality"),
          concat(lit("https://www.d"), (col("id") % domains).cast("string"),
            lit(".example.com/p/"), col("id")).as("url"))
        Curation.domainCurate(urls, "doc_id", "url", "quality",
            multiPartSuffixes = Seq("co.uk"),
            blockedDomains = Seq("d7.example.com"), maxPerDomain = 10)
          .agg(sum(when(col("keep"), 1L).otherwise(0L))).first().getLong(0)
      },
      // Compaction planner (x127): partitions scale with m at 100 files
      // each — the per-partition cumulative-sum window width stays
      // constant, so only the scan and the shuffle grow.
      "compaction_plan" -> { m =>
        val parts = 1000L * m
        val files = spark.range(parts * 100).select(
          (col("id") % parts).as("part"), col("id").as("file"),
          ((col("id") * 97L) % 100000L + 1000L).as("bytes"))
        Layout.compactionPlan(files, "part", "file", "bytes",
            targetBytes = 1000000L)
          .agg(max("group_id")).first().getLong(0)
      },
      // Luhn card audit (x128): pure map-side transform/aggregate over
      // the corpus text — the exponent certifies no hidden shuffle. The
      // sum forces the redaction projection (count() would prune it).
      "luhn_audit" -> (m =>
        Curation.luhnCardAudit(corpus(m), "doc_id", "text")
          .agg(sum(length(col("redacted")))).first().getLong(0)),
      // Curriculum mixture (x132): corpus ×m, 3 fixed epochs, shards
      // scaling with m so per-(epoch, shard) rank windows stay constant
      // width — the replay artifact must scale like epoch_shuffle.
      "curriculum_mixture" -> (m =>
        Eval.curriculumMixture(
            corpus(m).select(col("doc_id"),
              (col("doc_id") % 5).cast("string").as("stratum")),
            "doc_id", "stratum",
            schedule = Seq(Map.empty[String, Int], Map("1" -> 150, "3" -> 50),
              Map("1" -> 250, "3" -> 0)),
            shards = math.min(8 * m, 64))
          .agg(sum("pos")).first().getLong(0)),
      // PQ/ADC ANN (x130): fixed queries and a fixed 8×8 codebook — the
      // LUT is constant-size, training/encoding are broadcast joins, and
      // scored candidates are queries × corpus — strictly linear like the
      // other flat-scan ANN probes.
      "ann_pq" -> { m =>
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val grown = (0 until m).map(r => emb.select(
          (col("vec_id") + lit(r.toLong * 10000000L)).as("vec_id"),
          col("embedding"))).reduce(_ unionByName _)
        Quantize.pqTopK(grown.filter(col("vec_id") < 10), grown,
          "vec_id", "embedding", k = 5, dim = 64, subspaces = 8,
          codebookSize = 8, trainIterations = 1).count()
      },
      // Paragraph dedup (x57): token-prefixed replicas keep paragraph
      // namespaces disjoint, so per-digest frequency is constant; summing
      // scrubbed lengths forces the full join-back + regroup.
      "paragraph_dedup" -> { m =>
        val withParas = corpus(m)
          .select(col("doc_id"), split(col("text"), "\\s+").as("__t"))
          .select(col("doc_id"), concat_ws("\n", transform(
            sequence(lit(0), greatest(expr("div(size(__t) + 2, 3)"), lit(1)) - 1),
            i => concat_ws(" ", slice(col("__t"), i * 3 + 1, lit(3))))).as("text"))
        Dedup.paragraphDedup(withParas, "doc_id", "text")
          .agg(sum(length(col("scrubbed_text")))).first().getLong(0)
      },
      // Bloom-prefiltered incremental dedup (x62): batch fixed (replica
      // 0), index grows — cost must track the index scan + bitmap fold;
      // the anti-join side is bounded by the batch regardless of m.
      "bloom_incremental" -> (m =>
        Dedup.bloomProbeNew(corpus(1), corpus(m), "doc_id", "text",
          numBits = 1L << 22, numHashes = 5).count()),
      // Cluster-balanced sample (x63): corpus grows, nlist/perCell fixed —
      // assignment is broadcast+map-side, the quota is WindowGroupLimit,
      // so the exponent certifies no global-sort creep.
      "cluster_sample" -> { m =>
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val grown = (0 until m).map(r => emb.select(
          (col("vec_id") + lit(r.toLong * 10000000L)).as("vec_id"),
          col("embedding"))).reduce(_ unionByName _)
        Similarity.clusterBalancedSample(grown, "vec_id", "embedding",
          nlist = 16, perCell = 50).count()
      },
      // Exact quantiles (x64): the value domain (doc lengths) is constant
      // as the corpus grows, so the histogram — and the single-partition
      // cumulative window over it — stays fixed-size; only the groupBy
      // scan scales.
      "exact_quantiles" -> (m =>
        Profile.exactQuantiles(
            corpus(m).select(length(col("text")).as("len")), "len",
            Seq(2500, 5000, 7500, 9900))
          .agg(sum("value")).first().getLong(0)),
      // Vocab coverage (x65): disjoint replica token namespaces keep
      // per-token frequency constant while distinct tokens grow ×m — the
      // top-V cut and broadcast probe must stay linear in the token count.
      "vocab_coverage" -> (m =>
        TextAnalysis.vocabCoverage(corpus(m), "doc_id", "text", vocabSize = 500)
          .agg(sum("oov_tokens")).first().getLong(0)),
      // Substring dedup (x75): the transient all-positions explode is
      // O(total chars) by construction — the probe certifies the
      // generate-and-filter stays map-side (cost linear in corpus chars,
      // no anchor-row blowup). Token-prefixed replicas shift anchor
      // positions but keep per-window duplicate frequency constant.
      "substring_dedup" -> (m =>
        Dedup.substringDedup(corpus(m), "doc_id", "text",
            k = 64, stride = 16, minDocs = 2)
          .agg(sum("shared_spans")).first().getLong(0)),
      // Snapshot diff (x93): both versions grow with m; only slim
      // (id, digest) rows reach the full-outer shuffle, so the exponent
      // certifies the diff never rereads bodies post-join.
      "snapshot_diff" -> { m =>
        val oldSnap = corpus(m)
        val newSnap = corpus(m).withColumn("text",
          when(col("doc_id") % 10 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        Dedup.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
          .groupBy("status").count()
          .agg(sum("count")).first().getLong(0)
      },
      // Rolling actives (x91): keys scale with m, activity days per key
      // constant — the windowDays fan-out must stay map-side and the
      // distinct-count shuffle per-day bounded.
      "rolling_actives" -> { m =>
        val keys = 100000L * m
        val ev = spark.range(keys * 10).select(
          (col("id") % keys).as("user_id"),
          (expr(s"id div ${keys}L") * 86400000000L).as("t"))
        Sequence.rollingActives(ev, "user_id", "t", windowDays = 7)
          .agg(sum("actives")).first().getLong(0)
      },
      // Shingle containment (x95): disjoint replica token namespaces keep
      // shared-gram candidates within replicas — linearity certifies the
      // inverted index never goes corpus².
      "containment" -> (m =>
        Dedup.shingleContainment(corpus(m), "doc_id", "text",
            shingleSize = 3, thresholdPct = 50)
          .agg(sum("common")).first().getLong(0)),
      // Winnowing fingerprints (x125): disjoint replica token namespaces
      // keep fingerprint collisions within replicas — linearity certifies
      // the window-min selection stays map-side and the guarded
      // fingerprint join never goes corpus². The zipf twin measures the
      // shared-vocabulary flood with the maxBucket guard on.
      // Probed through the fused native expression (the production path,
      // x125b): the declarative HOF form measures the same exponents —
      // the dataflow beyond extraction is identical — at ~4x the constant.
      "winnowing" -> (m =>
        Dedup.winnowingOverlap(cipherCorpus(m), "doc_id", "text",
            k = 12, window = 8, minShared = 8L, nativeExpr = true)
          .agg(coalesce(sum("common"), lit(0L))).first().getLong(0)),
      "zipf_winnowing" -> (m =>
        Dedup.winnowingOverlap(zipfCorpus(m), "doc_id", "text",
            k = 12, window = 8, minShared = 8L, nativeExpr = true)
          .agg(coalesce(sum("common"), lit(0L))).first().getLong(0)),
      // Edit-distance dedup (x97): 24-char replica-prefixed titles keep
      // q-gram namespaces disjoint (the replica tag is inside the first
      // gram), so candidates stay within replicas and the exponent
      // isolates the gram index + levenshtein verify.
      "editdist_dedup" -> (m =>
        Dedup.editDistanceDedup(
            corpus(m).select(col("doc_id"),
              substring(col("text"), 1, 24).as("title")),
            "doc_id", "title", maxDist = 8, gramSize = 6)
          .agg(sum("dist")).first().getLong(0)),
      // Collocations (x96): disjoint token namespaces keep the pair table
      // growing ×m with constant per-pair counts; the probe certifies the
      // vocab²-bounded marginals never dominate.
      "collocations" -> (m =>
        TextAnalysis.collocations(corpus(m), "text", minCount = 5L, k = 50)
          .agg(sum("pair_count")).first().getLong(0)),
      // BM25 (x76): replica token prefixes would zero the match set, so
      // the query carries one term per replica — matched postings grow
      // linearly while the per-term df stays constant. The map-side term
      // filter must keep the postings shuffle bounded by matches, not by
      // the token stream.
      "bm25" -> (m =>
        Retrieval.bm25(corpus(m), "doc_id", "text",
            (0 until m).map(r => s"r${r}_spark"))
          .agg(sum("score_x1e3")).first().getLong(0)),
      // PageRank (x77): nodes scale with m at constant out-degree 5 and
      // fixed 3 supersteps — each superstep is two keyed shuffles over an
      // edge list growing linearly, so the exponent certifies the
      // join-agg dataflow (and the per-step checkpoint barrier) adds no
      // super-linear term.
      "pagerank" -> { m =>
        val n = 200000L * m
        val edges = spark.range(n * 5).select(
          (col("id") % n).as("src"),
          ((col("id") * 2654435761L + 7L) % n).as("dst"))
        Graph.pageRank(edges, "src", "dst", iterations = 3)
          .agg(sum("rank_x1e12")).first().getLong(0)
      },
      // Time-scoped dedup (x85): digests scale with m, sightings per
      // digest constant — the window partition width (the only per-task
      // state) never grows with the corpus.
      "timescoped_dedup" -> { m =>
        val digests = 100000L * m; val sightings = 10L
        val ev = spark.range(digests * sightings).select(
          col("id").as("eid"),
          concat(lit("c"), (col("id") % digests).cast("string")).as("content"),
          (expr(s"id div ${digests}L") * 3600000000L +
            (col("id") % 7) * 86400000000L).as("t"))
        Dedup.timeScopedDedup(ev, "eid", "content", "t",
            horizonUs = 43200000000L)
          .agg(sum(when(col("keep"), 1L).otherwise(0L))).first().getLong(0)
      },
      // LM surprise (x82): disjoint replica token namespaces keep each
      // bigram's count and prefix count constant while the bigram table
      // grows ×m — the exponent certifies the vocab²-bounded stats tables
      // never turn the scoring join super-linear.
      "lm_surprise" -> (m =>
        TextAnalysis.lmSurprise(corpus(m), "doc_id", "text")
          .agg(sum("surprise_x1e6")).first().getLong(0)),
      // Resample (x80): keys scale with m, observations-per-key and grid
      // density constant — one keyed window shuffle + a bounded map-side
      // explode; the exponent certifies the grid fan-out stays per-row.
      "resample" -> { m =>
        val keys = 50000L * m; val obsPerKey = 20L
        val obs = spark.range(keys * obsPerKey).select(
          (col("id") % keys).as("k"),
          (expr(s"id div ${keys}L") * 97L).as("t"),
          ((col("id") * 31L) % 1000L).as("v"))
        TimeSeries.resampleLinear(obs, "k", "t", "v", stepUs = 10L)
          .agg(sum("value_cents")).first().getLong(0)
      },
      // Z-order layout (x78): pure map + one range shuffle + sort — the
      // cheapest family here; the probe certifies the range-partitioner
      // sampling doesn't creep super-linear as rows grow.
      "zorder_layout" -> { m =>
        val n = 4000000L * m
        val pts = spark.range(n).select(col("id"),
          (col("id") % 256).as("ub"), (expr("id div 256") % 256).as("db"))
        Layout.clusterByZ(pts, col("ub"), col("db"), bits = 8,
            numPartitions = 32)
          .agg(sum("zkey")).first().getLong(0)
      },
      // Natural-corpus probes (see the zipf staging comment): the shared
      // Zipfian vocabulary floods stop-features, so these certify the
      // maxBucket candidate guards keep the inverted-index family
      // sub-quadratic on the workload the disjoint-namespace corpus
      // cannot even express.
      "zipf_minhash_lsh" -> (m =>
        Dedup.minHashLsh(zipfCorpus(m), "doc_id", "text", shingleSize = 3,
          numHashes = 16, bands = 4, threshold = 0.5).count()),
      "zipf_ngram_jaccard" -> (m =>
        Dedup.ngramJaccard(zipfCorpus(m), "doc_id", "text",
          n = 12, threshold = 0.5).count()),
      "zipf_containment" -> (m =>
        Dedup.shingleContainment(zipfCorpus(m), "doc_id", "text",
          shingleSize = 3, thresholdPct = 50).count()),
      "zipf_editdist" -> (m =>
        Dedup.editDistanceDedup(
            zipfCorpus(m).select(col("doc_id"),
              substring(col("text"), 1, 24).as("title")),
            "doc_id", "title", maxDist = 8, gramSize = 6)
          .agg(coalesce(sum("dist"), lit(0L))).first().getLong(0)),
      // CONTROL: the same operator with the flood guard effectively OFF
      // (maxBucket = corpus size) on the shared-vocabulary corpus. Random
      // Zipf draws flood only mildly (a shared trigram needs the same
      // three tokens in sequence), so this control quantifies the
      // no-boilerplate baseline.
      "zipf_unguarded_containment" -> (m =>
        Dedup.shingleContainment(zipfCorpus(m), "doc_id", "text",
          shingleSize = 3, thresholdPct = 50, maxBucket = Long.MaxValue)
          .count()),
      // The guarded/unguarded A/B on the BOILERPLATE corpus (see
      // zipfBoilerDirs): the header cohort is 20% of every multiplier's
      // docs, so each header shingle's bucket grows with m and the
      // unguarded candidate set grows C(0.2·n, 2) ∝ m² — run the
      // unguarded one capped (`ScaleProbe 4 boiler`); the guard prunes
      // those buckets (>256 docs already at 1×) and should stay flat.
      // (Named boiler_*, NOT zipfb_*: the op filter is prefix-match, and
      // a "zipf" run must not drag in the deliberately-quadratic
      // control.)
      "boiler_containment" -> (m =>
        Dedup.shingleContainment(zipfBoiler(m), "doc_id", "text",
          shingleSize = 3, thresholdPct = 50).count()),
      "boiler_unguarded_containment" -> (m =>
        Dedup.shingleContainment(zipfBoiler(m), "doc_id", "text",
          shingleSize = 3, thresholdPct = 50, maxBucket = Long.MaxValue)
          .count()),
      // Hybrid retrieval (x101): both legs grow with the corpus — BM25
      // postings linearly (one query term per replica, constant per-term
      // df, like the bm25 probe) and the dense brute-force leg as fixed
      // query × growing corpus. The RRF fuse is top-k-bounded, so the
      // exponent certifies the legs, not the combiner.
      "hybrid_retrieval" -> { m =>
        import org.apache.spark.sql.expressions.Window
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val grown = (0 until m).map(r => emb.select(
          (col("vec_id") + lit(r.toLong * 10000000L)).as("vec_id"),
          col("embedding"))).reduce(_ unionByName _)
        val lex = Retrieval.bm25(corpus(m), "doc_id", "text",
            (0 until m).map(r => s"r${r}_spark"))
          .withColumn("rank", row_number().over(
            Window.orderBy(col("score_x1e3").desc, col("doc"))))
          .filter(col("rank") <= 50).select(col("doc"), col("rank"))
        val dense = Similarity.bruteForceTopK(
            grown.filter(col("vec_id") === 0), grown,
            "vec_id", "embedding", k = 50)
          .select(col("neighbor_id").as("doc"), col("rank"))
        Retrieval.rrfFuse(Seq(lex, dense), "doc", "rank", kRrf = 60)
          .orderBy(col("rrf_x1e6").desc, col("doc")).limit(20).count()
      },
      // Streaming threshold alerts (x102): users scale with m, per-user
      // event count / state / alert fan-out constant — the exponent
      // certifies the flatMapGroupsWithState stage shuffles once on the
      // key and its state stays O(users), with no per-batch global work.
      "stream_alerts" -> { m =>
        val qn = s"probe_alerts_${m}_${System.nanoTime()}"
        val n = StreamOps.streamingThresholdAlerts(spark, alertDirs(m),
          thresholdCents = 2000L, queryName = qn).count()
        // drop the memory-sink table — each invocation registers a fresh
        // one (unique name), and leaked sinks would pin millions of alert
        // rows on the driver and skew every later op's timing
        spark.catalog.dropTempView(qn)
        n
      },
      // madOutliers (x84): rows scale with m at FIXED key count (8) and
      // FIXED value domain (10k distinct, ≈ the per-key distinct-cents
      // width of the sf0.1 events table) — the exponent certifies the
      // histogram-median shape stays scan-bound: per-key histograms and
      // the cumulative windows over them are domain-sized, so only the
      // two groupBy scans and the med/mad join-backs grow.
      "mad_outliers" -> { m =>
        val n = 500000L * m
        val ev = spark.range(n).select((col("id") % 8).as("key"),
          ((col("id") * 2654435761L) % 10000L).as("cents"))
        Profile.madOutliers(ev, "key", "cents")
          .agg(sum("outliers")).first().getLong(0)
      },
      // The x84-regression bisect twin: rows FIXED (2M), value domain
      // scales with m — isolates the cost of a widening per-key histogram
      // (the r7 testdata regeneration changed the events value
      // distribution; this measures how much that lever can move x84).
      "mad_outliers_domain" -> { m =>
        val ev = spark.range(2000000L).select((col("id") % 8).as("key"),
          ((col("id") * 2654435761L) % (10000L * m)).as("cents"))
        Profile.madOutliers(ev, "key", "cents")
          .agg(sum("outliers")).first().getLong(0)
      },
      // Split manifest (x103): corpus-wide LSH + canonicalize + one
      // grouped checksum agg — token-prefixed replicas keep clusters
      // within replicas, so pairs grow ×m and the exponent certifies the
      // LSH/label-propagation chain plus the bit_xor rollup stay linear.
      "split_manifest" -> { m =>
        val docs = corpus(m)
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
          .count()
      },
      // Cluster census (x105): LSH pairs + canonicalize + two keyed
      // aggregates — same linear-workload construction as split_manifest;
      // the census aggregates are cluster-count-sized, never corpus².
      "cluster_census" -> { m =>
        val docs = corpus(m)
        val pairs = Dedup.minHashLsh(docs, "doc_id", "text",
          shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5)
          .select("doc_a", "doc_b")
        Dedup.canonicalize(docs, "doc_id", pairs)
          .groupBy("canonical_id").agg(count(lit(1)).as("size"))
          .groupBy("size").agg(count(lit(1)).as("clusters"))
          .count()
      },
      // Ingest triage (x108): FIXED batch (replica 0's %4==0 slice)
      // probed against a GROWING persisted-index version chain — one LSH
      // index version per replica, built once in staging (untimed; the
      // warm-up pass triggers any missing builds). Timed work = Bloom
      // exact-dedup against m replicas' docs + a stored-signature probe
      // per version: each version probe is (fixed batch × fixed version)
      // so the total must grow ∝ m — THE scaling claim of the versioned
      // ingest loop (index × batch bounded, never index²).
      "ingest_triage" -> { m =>
        val batch = corpus(1).filter(col("doc_id") % 4 === 0)
        val idxDocs = corpus(m).filter(col("doc_id") % 4 =!= 0)
        val exactNovel = Dedup.bloomProbeNew(batch, idxDocs, "doc_id", "text",
          numBits = 1L << 20, numHashes = 5).localCheckpoint()
        val keepers = corpus(1).join(
          exactNovel.select(col("keeper_id").as("doc_id")), Seq("doc_id"))
        val nearPairs = (0 until m).map(r =>
          Dedup.probeLshIndex(keepers, triageIdx(r), "doc_id", "text",
            shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5))
          .reduce(_ unionByName _)
        exactNovel.select(col("keeper_id").as("doc_id"), col("dup_count"))
          .join(nearPairs.groupBy(col("doc_a").as("doc_id"))
            .agg(count(lit(1)).as("near_matches")), Seq("doc_id"), "left")
          .count()
      },
      // x88 funnel staging A/B: the SAME end-to-end curation funnel with
      // stage id-sets eagerly localCheckpoint()ed (staged) vs the fully
      // declarative plan (unstaged, branches replay the shared dedup
      // prefix but pay no materialization barriers). Identical data,
      // identical result — the pair answers "when do the 4 barriers beat
      // the replayed prefix?" (round-7 verdict: staged measured 1.41×
      // SLOWER at sf0.1 1×; this probe measures where/if that crosses).
      "funnel_staged" -> (m =>
        graft.queries.ExtensionQueries.curationFunnel(corpus(m),
          stageCheckpoints = true).count()),
      "funnel_unstaged" -> (m =>
        graft.queries.ExtensionQueries.curationFunnel(corpus(m),
          stageCheckpoints = false).count()),
      // Source-overlap estimate (x114): the number of SOURCES is fixed
      // (20) while the corpus grows, so the signature collapse must stay
      // one linear map-side-combined pass with a 20-row result; the
      // pairwise stage (190 rows) must stay invisible at any multiplier.
      "source_overlap_est" -> { m =>
        val docs = corpus(m).select(col("doc_id"),
          concat(lit("s"), pmod(col("doc_id"), lit(20L))).as("source"),
          col("text"))
        Eval.sourceOverlap(docs, "source", "text", withExact = false).count()
      },
      // LSH recall eval (x115): disjoint-namespace replicas grow the
      // ground-truth pair set linearly; truth (guarded inverted index)
      // and detector (banded LSH) legs compose, so the audit should track
      // the slower of zipf_ngram_jaccard/dedup_minhash_lsh. The zipf twin
      // certifies the truth side's maxBucket guard under the
      // shared-vocabulary flood the namespace corpus cannot express.
      "lsh_recall" -> (m =>
        Eval.lshRecallByBucket(corpus(m), "doc_id", "text").count()),
      "zipf_lsh_recall" -> (m =>
        Eval.lshRecallByBucket(zipfCorpus(m), "doc_id", "text").count()),
      // Epoch shuffle (x116): 3 epochs × m·corpus rows ranked in
      // per-(epoch, shard) windows; shards fixed at 32, so window width
      // grows with m but every sort stays shard-local — expect ~linear
      // (n log n inside shards), and NO global-sort cliff.
      "epoch_shuffle" -> (m =>
        Eval.epochShuffle(corpus(m), "doc_id", epochs = 3, shards = 32)
          .count()),
      // BPE merge training (x119): growing m adds docs over the SAME
      // Zipfian vocabulary (digits letter-mapped so tokens pass the
      // [a-z]+ filter), so the distinct-word state every iteration
      // touches is CONSTANT while only the one corpus-side frequency
      // groupBy grows — the vocab-bounded design claim, measured.
      "bpe_merges" -> { m =>
        val letters = zipfCorpus(m).select(col("doc_id"),
          translate(col("text"), "0123456789", "abcdefghij").as("text"))
        TextAnalysis.bpeMergeSteps(letters, "text", steps = 3).count()
      },
      // BPE encode (x120): training is vocab-bounded (above); the encode
      // adds the per-word length join against the GROWING corpus token
      // stream plus the per-doc aggregate — the one genuinely linear
      // stage, so the pair separates trainer cost from encoder cost.
      "bpe_encode" -> { m =>
        val letters = zipfCorpus(m).select(col("doc_id"),
          translate(col("text"), "0123456789", "abcdefghij").as("text"))
        TextAnalysis.bpeEncode(letters, "doc_id", "text", steps = 3).count()
      },
      // Personalized PageRank (x107): same linear-graph construction as
      // the pagerank probe (nodes ×m, out-degree 5, 3 supersteps), seeds
      // a fixed 1/50 slice of the nodes — the restricted-teleport rank
      // must keep the per-superstep join-agg dataflow and checkpoint
      // discipline of x77.
      "personalized_pagerank" -> { m =>
        val n = 200000L * m
        val edges = spark.range(n * 5).select(
          (col("id") % n).as("src"),
          ((col("id") * 2654435761L + 7L) % n).as("dst"))
        val seeds = spark.range(n).select(col("id").as("node"))
          .filter(col("node") % 50 === 0)
        Graph.personalizedPageRank(edges, "src", "dst", seeds, iterations = 3)
          .agg(sum("rank_x1e12")).first().getLong(0)
      },
      // Bipartite co-engagement: a long tail of ~2-user items (pairs grow
      // linearly with m) plus ONE hot item whose audience grows with m —
      // hot pairs grow m². The guard drops the hot item at every m, so
      // the guarded exponent certifies the linear tail; the unguarded
      // control (prefix-isolated, run it capped: `ScaleProbe 4
      // unguarded_`) measures the m² flood the guard exists to stop.
      // Degree-ordered triangle counting (x155): a ring with distance-2
      // chords (n triangles, degree 4 — the linear backbone) PLUS one
      // hub adjacent to EVERY node. Naive wedge generation pays n²/2
      // pairs at the hub; the orientation points every hub edge INTO
      // the hub (it has the max degree), so the hub's out-degree is 0
      // and its wedges never exist — linearity in m IS the orientation
      // claim, measured on the adversarial shape, with zero recall
      // loss (the 2n hub triangles are all found from their ring-node
      // corners).
      "triangle_hub_nodes" -> { m =>
        val n = 20000L * m
        val ring = spark.range(n).select(col("id").as("a"),
            ((col("id") + 1) % n).as("b"))
          .unionByName(spark.range(n).select(col("id").as("a"),
            ((col("id") + 2) % n).as("b")))
        val hub = spark.range(n).select(col("id").as("a"), lit(n).as("b"))
        Graph.triangleCount(ring.unionByName(hub), "a", "b")
          .agg(sum("triangles")).first().getLong(0)
      },
      "coengagement_guarded" -> (m =>
        Graph.coEngagement(coInputs(m), "u", "item",
          maxUsersPerItem = 64, topK = 100).count()),
      "unguarded_coengagement" -> (m =>
        Graph.coEngagement(coInputs(m), "u", "item",
          maxUsersPerItem = Int.MaxValue, topK = 100).count()),
      // Unicode hygiene (x147): pure map-side native-expression +
      // regexp transform — the exponent certifies no hidden shuffle; the
      // sum forces the cleaning projection (count() would prune it).
      "unicode_clean" -> (m =>
        Curation.unicodeClean(corpus(m), "doc_id", "text")
          .agg(sum(col("chars_after"))).first().getLong(0)),
      // Token spectrum (x148): disjoint replica namespaces grow the
      // vocabulary ×m at constant per-token counts — the keyed count and
      // TakeOrdered cut must stay linear in the token stream; the
      // 100-row cumulative window is constant-size by construction.
      "token_spectrum" -> (m =>
        TextAnalysis.tokenSpectrum(corpus(m), "text", k = 100)
          .agg(sum(col("cum_pct_x10000"))).first().getLong(0)),
      // URL policy gate at robots scale (x150/x150b): URLS FIXED, RULES
      // ×m (4096·m prefixes, ~6 distinct lengths) — the lever that kills
      // the theta shape. The per-length hash variant's per-URL work is
      // |distinct lengths| hash probes, ~constant in the rule count; the
      // theta control (prefix-isolated — run capped, `ScaleProbe 4
      // theta_`) pays urls × rules startsWith calls, linear in m by
      // construction. The exponent PAIR is the join-algebra trade
      // measured.
      // Incremental label absorb (x152): STORED corpus generation ×m
      // (labels + LSH index built once per multiplier, OUTSIDE the
      // timing — they are the pre-existing artifact), batch FIXED (the
      // replica-0 %4==0 slice under offset ids — exact dups of indexed
      // docs, so the probe finds real matches). The timed run is the
      // absorb alone: batch front end + stored-index probe + contracted
      // label propagation + artifact write. Sub-linearity certifies the
      // update never re-runs corpus LSH/propagation; the full-rebuild
      // control (prefix-isolated — run capped, `ScaleProbe 4
      // rebuildlabels_`) pays the corpus-wide build every time, linear
      // by construction.
      "absorb_labels_corpus" -> { m =>
        val root = s"$stageRoot/abs/m$m"
        if (!absorbBaseBuilt(m)) {
          Dedup.buildCanonicalLabels(corpus(m), "doc_id", "text",
            s"$root/labels", shingleSize = 3, numHashes = 16, bands = 4,
            threshold = 0.5)
          Dedup.buildLshIndex(corpus(m), "doc_id", "text", s"$root/idx",
            shingleSize = 3, numHashes = 16, bands = 4)
          absorbBaseBuilt += m
        }
        Dedup.absorbIntoLabels(absorbBatch, "doc_id", "text",
            s"$root/labels", s"$root/idx", shingleSize = 3,
            numHashes = 16, bands = 4, threshold = 0.5,
            outLabelsPath = Some(s"$root/outLabels"),
            outIndexPath = Some(s"$root/outIdx"))
          .count()
      },
      // BYTES WRITTEN per absorb vs corpus size (round-12, re-based in
      // round 14 on task outputMetrics.bytesWritten — the insert-append
      // fast path bypasses the staged writers entirely, so the old
      // stagedBytesWritten counter would read a flattering 0; output
      // metrics count every datasource file the absorb commits, append
      // or staged swap alike). Base ×m with N ∝ rows (≈512-row buckets)
      // and a FIXED 16-doc batch under fresh ids per invocation:
      // written bytes = O(batch) — flat in m (the recorded
      // absorb_bytes_written series is the evidence; the wall-time
      // exponent of this op is job-overhead-bound and not the claim).
      // The control (prefix-isolated) is a PRE-BUCKETING flat labels
      // store (no meta → the legacy staged-swap mutation path), which
      // rewrites the WHOLE store per absorb — bytes linear in m by
      // construction.
      "absorbbytes_labels" -> { m =>
        val root = s"$stageRoot/absbytes/m$m"
        if (!absorbBytesBuilt(m)) {
          val base = corpus(m)
          val n = math.max(16L, base.count() / 512L).toInt
          Dedup.buildCanonicalLabels(base, "doc_id", "text",
            s"$root/labels", shingleSize = 3, numHashes = 16, bands = 4,
            threshold = 0.5, numBuckets = n)
          Dedup.buildLshIndex(base, "doc_id", "text", s"$root/idx",
            shingleSize = 3, numHashes = 16, bands = 4)
          absorbBytesBuilt += m
        }
        val (_, _, _, outBytes) = InputBytesMeter.measureRW(spark.sparkContext) {
          Dedup.absorbIntoLabels(absorbBytesBatch(absorbBytesSlice.getAndIncrement()),
            "doc_id", "text", s"$root/labels", s"$root/idx",
            shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5)
        }
        recordBytes("absorbbytes_labels", m, outBytes)
        outBytes
      },
      "flatbytes_labels_control" -> { m =>
        val root = s"$stageRoot/flatbytes/m$m"
        if (!absorbBytesBuilt(-m)) {
          val base = corpus(m)
          // pre-bucketing FLAT store (no meta): absorb takes the legacy
          // corpus-sized staged-swap path over identical content
          Dedup.buildCanonicalLabels(base, "doc_id", "text",
            s"$root/lbuck", shingleSize = 3, numHashes = 16, bands = 4,
            threshold = 0.5)
          Dedup.readLabels(spark, s"$root/lbuck").localCheckpoint()
            .write.mode("overwrite").parquet(s"$root/labels")
          Dedup.buildLshIndex(base, "doc_id", "text", s"$root/idx",
            shingleSize = 3, numHashes = 16, bands = 4)
          absorbBytesBuilt += -m
        }
        val (_, _, _, outBytes) = InputBytesMeter.measureRW(spark.sparkContext) {
          Dedup.absorbIntoLabels(absorbBytesBatch(
              1000 + absorbBytesSlice.getAndIncrement()),
            "doc_id", "text", s"$root/labels", s"$root/idx",
            shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5)
        }
        recordBytes("flatbytes_labels_control", m, outBytes)
        outBytes
      },
      // BYTES READ per drained micro-batch vs stored-corpus size
      // (round-13: every labels point-read is bucket-pruned and the
      // index probe reads only the batch's bucket/feature partitions).
      // Store geometry ∝ m (labels N = 8m, index parts = 64m) with a
      // FIXED staged 16-doc batch: the recorded bytes-read series must
      // stay ~flat; the single-part control reads the whole labels
      // table + index per batch — linear by construction.
      "readbytes_labels_drain" -> { m =>
        val root = s"$stageRoot/rdbytes/m$m"
        if (!readBytesBuilt(m)) {
          val base = corpus(m)
          Dedup.buildCanonicalLabels(base, "doc_id", "text",
            s"$root/labels", shingleSize = 3, numHashes = 16, bands = 4,
            threshold = 0.5, numBuckets = 8 * m)
          Dedup.buildLshIndex(base, "doc_id", "text", s"$root/idx",
            shingleSize = 3, numHashes = 16, bands = 4,
            numBucketParts = 64 * m)
          readBytesBuilt += m
        }
        val batch = stagedTinyBatch(2000 + absorbBytesSlice.getAndIncrement())
        val (_, bytes, rows) = InputBytesMeter.measureIO(spark.sparkContext) {
          StreamOps.absorbLabelBatch(batch, s"$root/labels", s"$root/idx",
            "doc_id", "text", shingleSize = 3, numHashes = 16, bands = 4,
            threshold = 0.5)
        }
        recordBytes("readbytes_labels_drain", m, bytes)
        recordBytes("readbytes_labels_drain_rows", m, rows)
        bytes
      },
      "readbytes_drain_control" -> { m =>
        val root = s"$stageRoot/rdbytesc/m$m"
        if (!readBytesBuilt(-m)) {
          val base = corpus(m)
          Dedup.buildCanonicalLabels(base, "doc_id", "text",
            s"$root/labels", shingleSize = 3, numHashes = 16, bands = 4,
            threshold = 0.5, numBuckets = 1)
          Dedup.buildLshIndex(base, "doc_id", "text", s"$root/idx",
            shingleSize = 3, numHashes = 16, bands = 4,
            numBucketParts = 1)
          readBytesBuilt += -m
        }
        val batch = stagedTinyBatch(4000 + absorbBytesSlice.getAndIncrement())
        val (_, bytes, rows) = InputBytesMeter.measureIO(spark.sparkContext) {
          StreamOps.absorbLabelBatch(batch, s"$root/labels", s"$root/idx",
            "doc_id", "text", shingleSize = 3, numHashes = 16, bands = 4,
            threshold = 0.5)
        }
        recordBytes("readbytes_drain_control", m, bytes)
        recordBytes("readbytes_drain_control_rows", m, rows)
        bytes
      },
      // BYTES READ per IVF probe vs stored-corpus size (round-13: the
      // vectors store is cell-partitioned and the probe prunes to its
      // nprobe cells). nlist ∝ m keeps cell bytes constant — the
      // production sizing rule — so probe bytes stay ~flat (the
      // codebook read grows with nlist but is dim×nlist tiny). The
      // control is the TRUE A/B of the round-13 change: the SAME index
      // geometry with its vectors store flattened post-build, which
      // routes the probe down the pre-round-13 full-scan path
      // (cellPartitioned = false) — bytes ∝ corpus by construction.
      "probebytes_ivf" -> { m =>
        val root = s"$stageRoot/pvbytes/m$m/idx"
        if (!probeBytesBuilt(m)) {
          VectorIndex.buildIvfIndex(vecCorpus(m), "vec_id", "embedding",
            root, nlist = 16 * m)
          probeBytesBuilt += m
        }
        val q = spark.read.parquet(vecQueriesPath)
        val (_, bytes, rows) = InputBytesMeter.measureIO(spark.sparkContext) {
          VectorIndex.probeIvfIndex(q, root, "vec_id", "embedding",
            k = 10, nprobe = 2).count()
        }
        recordBytes("probebytes_ivf", m, bytes)
        recordBytes("probebytes_ivf_rows", m, rows)
        bytes
      },
      "probebytes_ivf_control" -> { m =>
        val root = s"$stageRoot/pvbytesc/m$m/idx"
        if (!probeBytesBuilt(-m)) {
          VectorIndex.buildIvfIndex(vecCorpus(m), "vec_id", "embedding",
            root, nlist = 16 * m)
          // flatten the vectors store: the cell column stays a data
          // column but no cell=<k> dirs remain, so probeIvfIndex takes
          // the flat-store fallback (the pre-pruning full scan) over
          // byte-identical content
          val flat = spark.read.parquet(s"$root/vectors")
            .localCheckpoint()
          graft.operators.ArtifactStore.deletePath(spark,
            s"$root/vectors")
          flat.write.parquet(s"$root/vectors")
          probeBytesBuilt += -m
        }
        val q = spark.read.parquet(vecQueriesPath)
        val (_, bytes, rows) = InputBytesMeter.measureIO(spark.sparkContext) {
          VectorIndex.probeIvfIndex(q, root, "vec_id", "embedding",
            k = 10, nprobe = 2).count()
        }
        recordBytes("probebytes_ivf_control", m, bytes)
        recordBytes("probebytes_ivf_control_rows", m, rows)
        bytes
      },
      // ROWS READ per IVF RETRACTION vs stored-corpus size (round-14:
      // takedown scoping routes through the id-hash (vec_id, cell)
      // sidecar — a takedown gives only ids, the cell is content-
      // derived, so only an id-keyed geometry can prune this read).
      // Sidecar parts ∝ m (the production sizing rule), takedown FIXED
      // at 4 staged ids per invocation (fresh slice each call so warm
      // and timed runs both do real work — tombstone appends are
      // idempotent but the scoping read is what's measured): rows read
      // must stay ~flat. The control is the TRUE A/B: the same store
      // with its sidecar stripped and id_parts dropped from the meta,
      // which routes scoping down the legacy full vec_id column scan —
      // rows ∝ corpus by construction.
      "retractbytes_ivf" -> { m =>
        val root = s"$stageRoot/rvbytes/m$m/idx"
        if (!retractBytesBuilt(m)) {
          VectorIndex.buildIvfIndex(vecCorpus(m), "vec_id", "embedding",
            root, nlist = 16 * m, numIdParts = 8 * m)
          retractBytesBuilt += m
        }
        val td = stagedTakedown(absorbBytesSlice.getAndIncrement())
        val (_, bytes, rows) = InputBytesMeter.measureIO(spark.sparkContext) {
          VectorIndex.retractFromIvfIndex(td, "vec_id", root)
        }
        recordBytes("retractbytes_ivf", m, bytes)
        recordBytes("retractbytes_ivf_rows", m, rows)
        bytes
      },
      "retractbytes_ivf_control" -> { m =>
        val root = s"$stageRoot/rvbytesc/m$m/idx"
        if (!retractBytesBuilt(-m)) {
          VectorIndex.buildIvfIndex(vecCorpus(m), "vec_id", "embedding",
            root, nlist = 16 * m, numIdParts = 8 * m)
          // strip the sidecar + its meta field: scoping falls back to
          // the pre-round-14 full vec_id scan over byte-identical
          // vectors content
          graft.operators.ArtifactStore.deletePath(spark, s"$root/ids")
          val m2 = spark.read.parquet(s"$root/meta").drop("id_parts")
            .localCheckpoint()
          graft.operators.ArtifactStore.deletePath(spark, s"$root/meta")
          m2.write.parquet(s"$root/meta")
          Dedup.invalidateIndexMeta(spark, root)
          retractBytesBuilt += -m
        }
        val td = stagedTakedown(absorbBytesSlice.getAndIncrement())
        val (_, bytes, rows) = InputBytesMeter.measureIO(spark.sparkContext) {
          VectorIndex.retractFromIvfIndex(td, "vec_id", root)
        }
        recordBytes("retractbytes_ivf_control", m, bytes)
        recordBytes("retractbytes_ivf_control_rows", m, rows)
        bytes
      },
      // PRODUCTION-GEOMETRY absorb I/O (round-14): a FIXED 16-doc
      // novel batch absorbed IN PLACE into a stored generation whose
      // labels geometry scales with the corpus (N = 8m — the production
      // sizing rule). The insert-append fast path makes the labels
      // write O(batch): the recorded OUT-BYTES and ROWS-READ series
      // must stay ~flat across m (wall at this data scale is
      // job-overhead-bound and ambient-noisy — measured swings of ±5 s
      // on an idle-looking machine; bytes/rows are the deterministic
      // axes, the repo's standing probe discipline). The control is a
      // PRE-BUCKETING flat labels store (no meta → the legacy full
      // staged-swap mutation path) over the same corpus — its written
      // bytes ∝ corpus by construction. The INDEX side is held at a
      // FIXED geometry in BOTH variants so the pair isolates the one
      // term that differs (a first cut scaled index parts with m too,
      // and the shared per-read partition-discovery listings of 64m
      // dirs drowned the labels signal in both variants). This grades
      // the mutation family in the regime it targets (batch ≪ corpus),
      // the complement of the bench quartet's adversarial
      // batch ≈ corpus/4.
      "absorbwall_prod_bucketed" -> { m =>
        val root = s"$stageRoot/prodabs/m$m"
        if (!prodAbsorbBuilt(m)) {
          val base = corpus(m)
          Dedup.buildCanonicalLabels(base, "doc_id", "text",
            s"$root/labels", shingleSize = 3, numHashes = 16, bands = 4,
            threshold = 0.5, numBuckets = 8 * m)
          Dedup.buildLshIndex(base, "doc_id", "text", s"$root/idx",
            shingleSize = 3, numHashes = 16, bands = 4,
            numBucketParts = 64)
          prodAbsorbBuilt += m
        }
        val (_, _, rows, outBytes) =
          InputBytesMeter.measureRW(spark.sparkContext) {
            Dedup.absorbIntoLabels(
              absorbBytesBatch(6000 + absorbBytesSlice.getAndIncrement()),
              "doc_id", "text", s"$root/labels", s"$root/idx",
              shingleSize = 3, numHashes = 16, bands = 4,
              threshold = 0.5)
          }
        recordBytes("absorbwall_prod_bucketed_outbytes", m, outBytes)
        recordBytes("absorbwall_prod_bucketed_rows", m, rows)
        outBytes
      },
      "absorbwall_prod_flatstore" -> { m =>
        val root = s"$stageRoot/prodabsf/m$m"
        if (!prodAbsorbBuilt(-m)) {
          val base = corpus(m)
          // a pre-bucketing FLAT labels store: build bucketed to a
          // scratch path, rewrite the rows as one plain parquet dir
          // (no meta) — absorb then takes the legacy corpus-sized
          // staged-swap path over byte-identical content
          Dedup.buildCanonicalLabels(base, "doc_id", "text",
            s"$root/lbuck", shingleSize = 3, numHashes = 16, bands = 4,
            threshold = 0.5)
          val flat = Dedup.readLabels(spark, s"$root/lbuck")
            .localCheckpoint()
          flat.write.mode("overwrite").parquet(s"$root/labels")
          Dedup.buildLshIndex(base, "doc_id", "text", s"$root/idx",
            shingleSize = 3, numHashes = 16, bands = 4,
            numBucketParts = 64)
          prodAbsorbBuilt += -m
        }
        val (_, _, rows, outBytes) =
          InputBytesMeter.measureRW(spark.sparkContext) {
            Dedup.absorbIntoLabels(
              absorbBytesBatch(7000 + absorbBytesSlice.getAndIncrement()),
              "doc_id", "text", s"$root/labels", s"$root/idx",
              shingleSize = 3, numHashes = 16, bands = 4,
              threshold = 0.5)
          }
        recordBytes("absorbwall_prod_flatstore_outbytes", m, outBytes)
        recordBytes("absorbwall_prod_flatstore_rows", m, rows)
        outBytes
      },
      "rebuildlabels_corpus" -> { m =>
        val out = s"$stageRoot/abs/rebuild_m$m"
        Dedup.buildCanonicalLabels(corpus(m).unionByName(absorbBatch),
          "doc_id", "text", out, shingleSize = 3, numHashes = 16,
          bands = 4, threshold = 0.5)
        Dedup.readLabels(spark, out).count()
      },
      // Retraction (x157): STORED corpus generation ×m (built once per
      // multiplier, outside the timing), retract set FIXED (a disjoint
      // replica-0 slice per invocation), IN PLACE — the production
      // takedown path: tombstone append + touched-component
      // re-canonicalization + labels swap. Sub-linearity certifies the
      // deletion never re-runs corpus LSH/propagation (the remaining
      // corpus term is the column-pruned labels/index scans the
      // component lookup pays); the linear control is the same
      // full-rebuild rebuildlabels_ family as the absorb sweep — one
      // rebuild control serves both maintenance duals.
      "retract_labels_corpus" -> { m =>
        val root = s"$stageRoot/ret/m$m"
        if (!retractBaseBuilt(m)) {
          Dedup.buildCanonicalLabels(corpus(m), "doc_id", "text",
            s"$root/labels", shingleSize = 3, numHashes = 16, bands = 4,
            threshold = 0.5)
          Dedup.buildLshIndex(corpus(m), "doc_id", "text", s"$root/idx",
            shingleSize = 3, numHashes = 16, bands = 4)
          retractBaseBuilt += m
        }
        val k = retractSlice.getAndIncrement() % 32
        Dedup.retractFromLabels(
          corpus(1).filter(col("doc_id") % 32 === k).select("doc_id"),
          "doc_id", s"$root/labels", s"$root/idx", threshold = 0.5)
          .count()
      },
      "urlgate_bylength_rules" -> (m =>
        Curation.urlPolicyGateByLength(gateUrls, "doc_id", "url",
            gateRules(m))
          .agg(sum(when(col("allowed"), 1L).otherwise(0L)))
          .first().getLong(0)),
      // The beyond-broadcast SHUFFLE algebra (x150c) on the same lever:
      // rules ×m as a DataFrame, URLs exploded into their |distinct
      // lengths| prefixes, ONE equi-join against the shuffled rule
      // table. Expected near-flat in the rule count like the bylength
      // sweep (the join probes, not scans, the rules); the shuffle
      // constant is what the broadcast shapes avoid below the cliff.
      "urlgateshuffle_rules" -> { m =>
        val s2 = spark
        import s2.implicits._
        Curation.urlPolicyGateShuffle(gateUrls, "doc_id", "url",
            gateRules(m).toDF("rule", "allow"))
          .agg(sum(when(col("allowed"), 1L).otherwise(0L)))
          .first().getLong(0)
      },
      "theta_urlgate_rules" -> (m =>
        Curation.urlPolicyGate(gateUrls, "doc_id", "url", gateRules(m))
          .agg(sum(when(col("allowed"), 1L).otherwise(0L)))
          .first().getLong(0)),
      // Windowed append-mode aggregate (x112/x113 and the x89/x53 routes):
      // stream LENGTH grows ×m (days), rate/keys/watermark fixed — state
      // must stay bounded by open windows × keys (flat in m, recorded on
      // the stream_state_rows line) while wall time grows with the drained
      // rows + per-micro-batch scheduling.
      "stream_state_hotkeys_windowed" -> { m =>
        val (out, st) = StreamOps.hotKeyWindowStateProbe(spark,
          streamDayDirs(m), "user_id")
        recordState("stream_state_hotkeys_windowed", m, st)
        out
      },
      // Chained-stateful machinery (x149: dedup + windowed agg in ONE
      // query): stream length ×m, the COMBINED two-operator state must
      // stay bounded by open-horizon dedup keys + open windows (flat in
      // m; sum of both operators per progress entry, max over batches).
      "stream_state_dau_chained" -> { m =>
        val (out, st) = StreamOps.dauChainedStateProbe(spark,
          streamDayDirs(m))
        recordState("stream_state_dau_chained", m, st)
        out
      },
      // Timer-based sessionizer (x134, state-v2 ListState + event-time
      // timers): stream length ×m, 10-minute gap (shorter than the
      // ~36-min per-user event spacing, so sessions close continuously
      // as the watermark advances). The ListState buffer — read back
      // through the statestore source exactly as the
      // sessionBufferFromState consumer reads it — must hold only the
      // not-yet-provably-closed tail (~rate × (gap + watermark lag)),
      // flat in m, while emitted sessions grow with the stream.
      "stream_state_session_timers" -> { m =>
        val (out, st) = StreamOps.sessionStateProbe(spark,
          streamDayDirs(m), java.time.Duration.ofMinutes(10))
        recordState("stream_state_session_timers", m, st)
        out
      },
      // Stream-stream join machinery (x34/x133/x136/x137 share it): fixed
      // 1-hour horizon, stream length ×m — both side buffers must stay
      // ≈ rate × (horizon + watermark lag), flat in m.
      "stream_state_join_horizon" -> { m =>
        val (out, st) = StreamOps.joinHorizonStateProbe(spark,
          streamDayDirs(m), "1 HOUR")
        recordState("stream_state_join_horizon", m, st)
        out
      },
      // Streaming Misra–Gries (x138): the corpus — and with the disjoint
      // replica namespaces its VOCABULARY — grows ×m; the MapState must
      // stay ≤ shards × (k−1) rows whatever the vocabulary does (the
      // whole point of sketch-in-state), read back through the statestore
      // source exactly like the snapshot consumer.
      "stream_state_mg_vocab" -> { m =>
        val st = StreamOps.mgStateProbe(spark, corpus(m), k = 100,
          shards = 8, chunks = 4)
        recordState("stream_state_mg_vocab", m, st)
        st
      },
      // Ingest ABSORB (x110): fixed batches, version chain v0..v(m−1)
      // grown with m (the shared triageIdx builders), PLUS the absorb
      // step x108's probe stops short of — admitted keepers build a NEW
      // index version (batch-bounded work, the write included in the
      // timing on purpose: it IS the absorb step), and a follow-up batch
      // probes the chain INCLUDING the fresh version. Linearity in m
      // certifies probe cost stays Σ_r (fixed batch × version r) and the
      // admit step adds only batch-bounded work — the version chain never
      // reintroduces index × batch growth.
      "ingest_absorb_chain" -> { m =>
        val b1 = corpus(1).filter(col("doc_id") % 4 === 0)
        val idxDocs = corpus(m).filter(col("doc_id") % 4 =!= 0)
        val exactNovel = Dedup.bloomProbeNew(b1, idxDocs, "doc_id", "text",
          numBits = 1L << 20, numHashes = 5).localCheckpoint()
        val keepers = corpus(1).join(
          exactNovel.select(col("keeper_id").as("doc_id")), Seq("doc_id"))
        val near = (0 until m).map(r =>
          Dedup.probeLshIndex(keepers, triageIdx(r), "doc_id", "text",
            shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5))
          .reduce(_ unionByName _)
        val admitted = keepers.join(
            near.select(col("doc_a").as("doc_id")).distinct(),
            Seq("doc_id"), "left_anti")
          .localCheckpoint()
        val vNew = s"$stageRoot/absorb/m${m}_${System.nanoTime()}"
        Dedup.buildLshIndex(admitted, "doc_id", "text", vNew,
          shingleSize = 3, numHashes = 16, bands = 4)
        val b2 = corpus(1).filter(col("doc_id") % 4 === 1)
          .select((col("doc_id") + 500000000L).as("doc_id"), col("text"))
        ((0 until m).map(triageIdx) :+ vNew).map(p =>
          Dedup.probeLshIndex(b2, p, "doc_id", "text",
            shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5))
          .reduce(_ unionByName _)
          .count()
      })

    val opFilter: String => Boolean = args.lift(1) match {
      case Some(prefixes) =>
        val ps = prefixes.split(",").map(_.trim).filter(_.nonEmpty)
        name => ps.exists(name.startsWith)
      case None => _ => true
    }
    // Checkpoint-using operators (pageRank, canonicalize compositions)
    // pin block-manager memory per invocation; drop it between runs so a
    // later multiplier never pays eviction thrash for an earlier one's
    // leftovers (every run's action has fully completed first).
    def dropPersisted(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val results = ops.filter(o => opFilter(o._1)).map { case (name, run) =>
      val times = multipliers.map { m =>
        run(m) // warm-up: codegen+JIT for this input
        dropPersisted()
        val t0 = System.nanoTime()
        run(m)
        val t = (System.nanoTime() - t0) / 1e9
        dropPersisted()
        m -> t
      }
      name -> times
    }

    val opsJson = results.map { case (name, times) =>
      val t1 = times.head._2
      val tMax = times.last._2
      val mMax = times.last._1
      // growth exponent: t ∝ n^e  =>  e = log(tMax/t1) / log(mMax)
      val exponent =
        if (mMax > 1 && t1 > 0) math.log(tMax / t1) / math.log(mMax.toDouble) else 0.0
      val series = times.map { case (m, t) => f""""x$m":$t%.3f""" }.mkString(",")
      f""""$name":{$series,"exponent":$exponent%.2f}"""
    }.mkString(",")
    // State-row curves for the streaming probes (flat = the bounded-state
    // claim holds as the stream/vocabulary grows) — their own line so the
    // final line stays the scale_linearity object.
    if (stateRowsSeen.nonEmpty) {
      val byOp = stateRowsSeen.toSeq.groupBy(_._1._1)
      val sJson = byOp.toSeq.sortBy(_._1).map { case (op, entries) =>
        val series = entries.sortBy(_._1._2)
          .map { case ((_, m), rows) => s""""x$m":$rows""" }.mkString(",")
        s""""$op":{$series}"""
      }.mkString(",")
      println(s"""{"metric":"stream_state_rows","ops":{$sJson}}""")
    }
    // Byte curves (flat = the O(touched) claim holds as the stored
    // corpus grows; the single-part controls are linear by
    // construction): absorbbytes_/flatbytes_ ops record STAGED BYTES
    // WRITTEN per mutation, readbytes_/probebytes_ ops record INPUT
    // BYTES READ per drained micro-batch / index probe — two lines so
    // each claim keeps its own metric name.
    def printBytesLine(metric: String,
        entries: Seq[((String, Int), Long)]): Unit =
      if (entries.nonEmpty) {
        val byOp = entries.groupBy(_._1._1)
        val bJson = byOp.toSeq.sortBy(_._1).map { case (op, es) =>
          val sorted = es.sortBy(_._1._2)
          val series = sorted.map { case ((_, m), b) => s""""x$m":$b""" }
            .mkString(",")
          val b1 = sorted.head._2.toDouble
          val bMax = sorted.last._2.toDouble
          val mMax = sorted.last._1._2
          val expo =
            if (mMax > 1 && b1 > 0) math.log(bMax / b1) / math.log(mMax.toDouble)
            else 0.0
          f""""$op":{$series,"exponent":$expo%.2f}"""
        }.mkString(",")
        println(s"""{"metric":"$metric","ops":{$bJson}}""")
      }
    // rows-read is the exact local-FS scale proxy (see InputBytesMeter:
    // the vectorized reader's bytesRead misses column-chunk payload on
    // file://); both series are emitted so either axis can be judged.
    // `_rows` series route to the rows line whatever their family;
    // retractbytes_ measures the takedown's READ side.
    val (readRows, bytesAll) = bytesSeen.toSeq
      .partition(_._1._1.endsWith("_rows"))
    val (readBytes, writeBytes) = bytesAll.partition(e =>
      Seq("readbytes_", "probebytes_", "retractbytes_")
        .exists(e._1._1.startsWith))
    printBytesLine("absorb_bytes_written", writeBytes)
    printBytesLine("probe_bytes_read", readBytes)
    printBytesLine("probe_rows_read", readRows)
    println(
      s"""{"metric":"scale_linearity","base_docs":$baseCount,""" +
        s""""multipliers":[${multipliers.mkString(",")}],"ops":{$opsJson}}""")
    // best-effort staging cleanup (multi-GB at high multipliers)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    rm(new java.io.File(stageRoot))
  }
}
