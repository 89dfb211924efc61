package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import scala.jdk.CollectionConverters._

import graft.config._
import graft.operators.{ArtifactStore, Curation, Dedup, Graph, Profile, VectorIndex}
import graft.orchestration.{BatchHandler, BatchProcessor, PipelineOrchestrator, TableManager}
import graft.testkit.MockApiServer

/** The round-12 labels-store contract: hash-bucketed layout, O(touched)
  * mutation (only buckets holding a touched row are rewritten), the
  * two-phase commit-marker crash protocol with `repairStore`, the
  * graceful broadcast degradation on mega-components, and the two
  * round-11 tombstone advisories (builds clear stale tombstones; only
  * indexed ids are tombstoned).
  */
class LabelsBucketSpec extends SparkSpec with Matchers {

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }
  private def blk(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")

  private def labelMap(path: String): Map[Long, (Long, Boolean)] =
    Dedup.readLabels(spark, path).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap

  /** Per-bucket file-name sets — the "which buckets were rewritten"
    * observable. Local paths only (tests). */
  private def bucketFiles(root: String): Map[String, Set[String]] =
    ArtifactStore.listBucketDirs(spark, root).map { p =>
      val dir = new java.io.File(p.stripPrefix("file:"))
      val names = Option(dir.listFiles()).getOrElse(Array.empty)
        .map(_.getName).filter(_.startsWith("part-")).toSet
      dir.getName -> names
    }.toMap

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toString

  // distinct-token singleton docs so every doc is its own component and
  // lands in a hash-determined bucket; u50/u65 are the one near-dup pair
  private def spreadCorpus: DataFrame = docs(
    (1L to 12L).map(i => i -> blk(s"s${i}t", 12)) ++ Seq(
      50L -> blk("z", 20), 65L -> blk("z", 20).replace("z5 ", "z5x ")): _*)

  test("bucketed absorb rewrites only the buckets holding a touched row") {
    val root = freshRoot("babs")
    Dedup.buildCanonicalLabels(spreadCorpus, "doc_id", "text",
      s"$root/labels", shingleSize = 3, numHashes = 16, bands = 8,
      threshold = 0.5, numBuckets = 16)
    Dedup.buildLshIndex(spreadCorpus, "doc_id", "text", s"$root/idx",
      shingleSize = 3, numHashes = 16, bands = 8)
    val before = bucketFiles(s"$root/labels")
    before.size should be > 4 // the 14 docs spread over several of 16 buckets

    // batch: one brand-new near-dup of doc 50 (smaller id takes over as
    // keeper → docs 50 and 65 relabel) and one novel singleton
    val batch = docs(20L -> blk("z", 20).replace("z6 ", "z6y "),
      90L -> blk("q", 15))
    Dedup.absorbIntoLabels(batch, "doc_id", "text", s"$root/labels",
      s"$root/idx", shingleSize = 3, numHashes = 16, bands = 8,
      threshold = 0.5)

    // oracle: full rebuild over corpus + batch
    Dedup.buildCanonicalLabels(spreadCorpus.unionByName(batch), "doc_id",
      "text", s"$root/labelsFull", shingleSize = 3, numHashes = 16,
      bands = 8, threshold = 0.5)
    labelMap(s"$root/labels") shouldBe labelMap(s"$root/labelsFull")

    // O(touched): touched docs are {20, 90, 50, 65} → at most 4 buckets
    // rewritten, and every untouched bucket's files are byte-identical
    val after = bucketFiles(s"$root/labels")
    val changed = (before.keySet ++ after.keySet)
      .filter(k => before.get(k) != after.get(k))
    changed.size should be <= 4
    (after.keySet -- changed) should not be empty
  }

  test("absorb under the RELIABLE-checkpoint mode (round-16 verdict #7): same labels, intermediates survive executor loss by construction") {
    val root = freshRoot("brel")
    // Files under the context's reliable checkpoint dir. The dir is set
    // once per SparkContext (by the first reliable checkpoint, from
    // spark.graft.mutation.checkpointDir), so each family's absorb is
    // judged by the files it ADDS there; a localCheckpoint adds none.
    def ckptFiles(): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        Option(f.listFiles()).map(_.toSeq.flatMap(c =>
          if (c.isDirectory) walk(c) else Seq(c))).getOrElse(Seq.empty)
      spark.sparkContext.getCheckpointDir.toSeq
        .flatMap(d => walk(new java.io.File(new java.net.URI(d).getPath)))
        .map(_.getPath).toSet
    }
    def reliably(absorb: => Unit): Set[String] = {
      spark.conf.set("spark.graft.mutation.reliableCheckpoint", "true")
      spark.conf.set("spark.graft.mutation.checkpointDir",
        s"$root/reliable-ckpt")
      val before = ckptFiles()
      try absorb finally {
        spark.conf.unset("spark.graft.mutation.reliableCheckpoint")
        spark.conf.unset("spark.graft.mutation.checkpointDir")
      }
      ckptFiles() -- before
    }

    // labels: equal to the full rebuild over corpus + batch, the
    // family's exactness oracle (which the default-mode absorb meets)
    Dedup.buildCanonicalLabels(spreadCorpus, "doc_id", "text",
      s"$root/labels", shingleSize = 3, numHashes = 16, bands = 8,
      threshold = 0.5, numBuckets = 16)
    Dedup.buildLshIndex(spreadCorpus, "doc_id", "text", s"$root/idx",
      shingleSize = 3, numHashes = 16, bands = 8)
    val batch = docs(20L -> blk("z", 20).replace("z6 ", "z6y "),
      90L -> blk("q", 15))
    withClue("label absorb: ") {
      reliably(Dedup.absorbIntoLabels(batch, "doc_id", "text",
        s"$root/labels", s"$root/idx", shingleSize = 3, numHashes = 16,
        bands = 8, threshold = 0.5)) should not be empty
    }
    Dedup.buildCanonicalLabels(spreadCorpus.unionByName(batch), "doc_id",
      "text", s"$root/labelsFull", shingleSize = 3, numHashes = 16,
      bands = 8, threshold = 0.5)
    labelMap(s"$root/labels") shouldBe labelMap(s"$root/labelsFull")

    // IVF and histogram: the same absorb on two copies of one base, one
    // per mode — the reliable copy must equal the default-mode copy
    def rows(path: String, cols: String*): Seq[String] =
      spark.read.parquet(path).select(cols.map(col): _*).collect()
        .map(_.toString).sorted.toSeq
    import spark.implicits._
    val base = Seq(1L -> Array(1.0f, 0.0f), 2L -> Array(0.0f, 1.0f),
      3L -> Array(0.9f, 0.1f), 4L -> Array(0.1f, 0.9f))
      .toDF("vec_id", "embedding")
    val vecs = Seq(5L -> Array(0.8f, 0.2f), 6L -> Array(0.2f, 0.8f))
      .toDF("vec_id", "embedding")
    val spend = (1 to 60).map(i => (i % 3, i * 37L % 500L)).toDF("shard", "v")
    val hist = spend.filter(col("shard") < 2)
    val feed = spend.filter(col("shard") === 2)
    for (mode <- Seq("default", "reliable")) {
      VectorIndex.buildIvfIndex(base, "vec_id", "embedding",
        s"$root/ivf-$mode", nlist = 2)
      Profile.buildHistogramArtifact(hist, "shard", col("v"),
        widthCents = 50L, s"$root/hist-$mode")
    }
    VectorIndex.absorbIntoIvfIndex(vecs, "vec_id", "embedding",
      s"$root/ivf-default")
    Profile.absorbIntoHistogram(feed, "shard", col("v"), s"$root/hist-default")
    withClue("IVF absorb: ") {
      reliably(VectorIndex.absorbIntoIvfIndex(vecs, "vec_id", "embedding",
        s"$root/ivf-reliable")) should not be empty
    }
    withClue("histogram absorb: ") {
      reliably(Profile.absorbIntoHistogram(feed, "shard", col("v"),
        s"$root/hist-reliable")) should not be empty
    }
    rows(s"$root/ivf-reliable/vectors", "vec_id", "cell") shouldBe
      rows(s"$root/ivf-default/vectors", "vec_id", "cell")
    rows(s"$root/ivf-reliable/vectors", "vec_id").size shouldBe 6
    rows(s"$root/hist-reliable/shards", "shard", "bucket", "cnt") shouldBe
      rows(s"$root/hist-default/shards", "shard", "bucket", "cnt")
    rows(s"$root/hist-reliable/absorbed", "shard") shouldBe
      Seq("[0]", "[1]", "[2]")

    // the mode covers every eager checkpoint, not only the mutation
    // paths: PageRank's supersteps write files and rank the same
    val g = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L, 4L -> 2L)
      .toDF("src", "dst")
    def ranks() = Graph.pageRank(g, "src", "dst", iterations = 3)
      .orderBy("node").collect().toSeq
    val defaultRanks = ranks()
    var reliableRanks = Seq.empty[org.apache.spark.sql.Row]
    withClue("pageRank: ") {
      reliably { reliableRanks = ranks() } should not be empty
    }
    reliableRanks shouldBe defaultRanks

    // the ingest loop's remaining set: checkpointed to files while the
    // batches run, the same bronze rows land, and `process` deletes the
    // files before it returns
    val server = new MockApiServer().start()
    try {
      def ingest(sink: String, eachBatch: => Unit): Seq[String] = {
        val cfg = PipelineConfig(
          endpoint = EndpointConfig("test", server.baseUrl, "/api/data"),
          transport = TransportConfig(baseTimeoutSeconds = 10, warmupTimeoutSeconds = 5),
          middleware = Seq(JsonBodyConfig),
          tables = TablesConfig(None, SinkTableConfig(sink, "demo", mode = "overwrite"),
            Seq(ColumnMapping("request_id", Some("id")))),
          execution = ExecutionConfig(numPartitions = 2, batchSize = 20, maxAttempts = 1,
            maxConcurrentRequests = 4))
        val tables = new TableManager(spark)
        tables.createTable(cfg.tables.sink)
        val src = PipelineOrchestrator.prepareSource(cfg,
          (1L to 60L).map(i => (i, i % 7)).toDF("o_orderkey", "o_custkey"), "o_orderkey")
        val handler = new BatchHandler(cfg, None, cfg.tables.sink.identifier, tables.format)
        new BatchProcessor(spark, src, cfg.tables.sink.identifier, cfg.execution)
          .process { df => eachBatch; handler.process(df) }
        spark.table(cfg.tables.sink.identifier)
          .select("request_id", "url", "status_code", "success", "body_text")
          .collect().map(_.toString).sorted.toSeq
      }
      val defaultBronze = ingest("reliable_ingest_default", ())
      val pre = ckptFiles()
      var during = Set.empty[String]
      var reliableBronze = Seq.empty[String]
      withClue("ingest: ") {
        reliably {
          reliableBronze = ingest("reliable_ingest", during ++= ckptFiles() -- pre)
        } shouldBe empty
        during should not be empty
      }
      reliableBronze should have size 60
      reliableBronze shouldBe defaultBronze
    } finally server.stop()
  }

  test("out-of-contract re-ingest with NEW text is a benign skip in BOTH index substores (no mixed signatures)") {
    val root = freshRoot("bcontract")
    Dedup.buildCanonicalLabels(spreadCorpus, "doc_id", "text",
      s"$root/labels", shingleSize = 3, numHashes = 16, bands = 8,
      threshold = 0.5, numBuckets = 16)
    Dedup.buildLshIndex(spreadCorpus, "doc_id", "text", s"$root/idx",
      shingleSize = 3, numHashes = 16, bands = 8)
    def featRows = spark.read.parquet(s"$root/idx/features")
      .filter(col("doc") === 3L)
    def bucketRows = spark.read.parquet(s"$root/idx/buckets")
      .filter(col("doc") === 3L)
    val origFeats = featRows.head().getAs[scala.collection.Seq[Long]]("features").toSet
    val origSigs = bucketRows.collect()
      .map(r => (r.getAs[Int]("band"), r.getAs[String]("sig"))).toSet
    origSigs.size shouldBe 8
    // doc 3 arrives AGAIN with completely different text (ids-disjoint
    // contract broken). Its new band-sigs land in different h dirs — an
    // h-pruned present check misses them and would append a SECOND
    // signature generation for one doc (round-13 advisory); the
    // features-side id-keyed check must catch it and skip both appends.
    Dedup.absorbIntoLabels(docs(3L -> blk("totallynew", 14)), "doc_id",
      "text", s"$root/labels", s"$root/idx",
      shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.5)
    featRows.count() shouldBe 1L
    featRows.head().getAs[scala.collection.Seq[Long]]("features").toSet shouldBe origFeats
    bucketRows.count() shouldBe 8L
    bucketRows.collect()
      .map(r => (r.getAs[Int]("band"), r.getAs[String]("sig")))
      .toSet shouldBe origSigs
  }

  test("insert-append fast path: all-novel absorb appends new files only; untouched bucket content never rewritten") {
    val root = freshRoot("bfast")
    Dedup.buildCanonicalLabels(spreadCorpus, "doc_id", "text",
      s"$root/labels", shingleSize = 3, numHashes = 16, bands = 8,
      threshold = 0.5, numBuckets = 16)
    Dedup.buildLshIndex(spreadCorpus, "doc_id", "text", s"$root/idx",
      shingleSize = 3, numHashes = 16, bands = 8)
    val before = bucketFiles(s"$root/labels")
    // two novel singletons: no edges, no relabels → pure inserts
    val batch = docs(90L -> blk("q", 15), 91L -> blk("w", 15))
    Dedup.absorbIntoLabels(batch, "doc_id", "text", s"$root/labels",
      s"$root/idx", shingleSize = 3, numHashes = 16, bands = 8,
      threshold = 0.5)
    val after = bucketFiles(s"$root/labels")
    // every pre-existing file is still there byte-for-name — the absorb
    // only ADDED files (the bucket rewrite would have replaced them)
    before.foreach { case (dir, files) =>
      files.subsetOf(after.getOrElse(dir, Set.empty)) shouldBe true
    }
    Dedup.buildCanonicalLabels(spreadCorpus.unionByName(batch), "doc_id",
      "text", s"$root/labelsFull", shingleSize = 3, numHashes = 16,
      bands = 8, threshold = 0.5)
    labelMap(s"$root/labels") shouldBe labelMap(s"$root/labelsFull")
  }

  test("crash between the two geometry appends: the replay probe routes the retry down the full mutation and both geometries converge") {
    val root = freshRoot("bhalf")
    Dedup.buildCanonicalLabels(spreadCorpus, "doc_id", "text",
      s"$root/labels", shingleSize = 3, numHashes = 16, bands = 8,
      threshold = 0.5, numBuckets = 16)
    Dedup.buildLshIndex(spreadCorpus, "doc_id", "text", s"$root/idx",
      shingleSize = 3, numHashes = 16, bands = 8)
    val batch = docs(90L -> blk("q", 15), 91L -> blk("w", 15))
    Dedup.absorbIntoLabels(batch, "doc_id", "text", s"$root/labels",
      s"$root/idx", shingleSize = 3, numHashes = 16, bands = 8,
      threshold = 0.5)
    // simulate the crash window: delete the batch's rows from the
    // canonical-keyed twin only (b= keeps them — exactly the state a
    // kill between the two appends leaves)
    import org.apache.spark.sql.functions.{col => c}
    (0 until 16).foreach { k =>
      val dir = new java.io.File(s"$root/labels/c=$k")
      if (dir.exists()) {
        val rows = spark.read.parquet(dir.toString)
          .filter(!c("doc").isin(90L, 91L)).localCheckpoint()
        Option(dir.listFiles()).getOrElse(Array.empty).foreach(_.delete())
        if (rows.isEmpty) { dir.delete(); () }
        else rows.write.mode("overwrite").parquet(dir.toString)
      }
    }
    // the twin is now MISSING the batch; a by-canonical member read
    // proves it
    spark.read.parquet(
        ArtifactStore.listBucketDirs(spark, s"$root/labels", "c"): _*)
      .filter(c("doc").isin(90L, 91L)).count() shouldBe 0L
    // re-running the SAME absorb must converge: the replay probe sees
    // the committed b= rows and takes the full drop-and-reinsert path
    Dedup.absorbIntoLabels(batch, "doc_id", "text", s"$root/labels",
      s"$root/idx", shingleSize = 3, numHashes = 16, bands = 8,
      threshold = 0.5)
    Dedup.buildCanonicalLabels(spreadCorpus.unionByName(batch), "doc_id",
      "text", s"$root/labelsFull", shingleSize = 3, numHashes = 16,
      bands = 8, threshold = 0.5)
    labelMap(s"$root/labels") shouldBe labelMap(s"$root/labelsFull")
    // BOTH geometries hold the batch exactly once
    val twin = spark.read.parquet(
        ArtifactStore.listBucketDirs(spark, s"$root/labels", "c"): _*)
      .filter(c("doc").isin(90L, 91L))
    twin.count() shouldBe 2L
    val main = spark.read.parquet(
        ArtifactStore.listBucketDirs(spark, s"$root/labels", "b"): _*)
      .filter(c("doc").isin(90L, 91L))
    main.count() shouldBe 2L
  }

  test("crash after commit marker: store untouched until repair; re-running the absorb converges") {
    val root = freshRoot("bcrash1")
    Dedup.buildCanonicalLabels(spreadCorpus, "doc_id", "text",
      s"$root/labels", shingleSize = 3, numHashes = 16, bands = 8,
      threshold = 0.5, numBuckets = 16)
    Dedup.buildLshIndex(spreadCorpus, "doc_id", "text", s"$root/idx",
      shingleSize = 3, numHashes = 16, bands = 8)
    val pre = labelMap(s"$root/labels")
    val batch = docs(20L -> blk("z", 20).replace("z6 ", "z6y "))

    ArtifactStore.testCrashPoint = 1
    try {
      an[IllegalStateException] should be thrownBy
        Dedup.absorbIntoLabels(batch, "doc_id", "text", s"$root/labels",
          s"$root/idx", shingleSize = 3, numHashes = 16, bands = 8,
          threshold = 0.5)
    } finally ArtifactStore.testCrashPoint = 0

    // marker written but nothing applied: live store still reads PRE
    labelMap(s"$root/labels") shouldBe pre

    // recovery is re-running the same absorb: its entry repair rolls the
    // marked staging forward, then the absorb itself is a no-op merge
    Dedup.absorbIntoLabels(batch, "doc_id", "text", s"$root/labels",
      s"$root/idx", shingleSize = 3, numHashes = 16, bands = 8,
      threshold = 0.5)
    Dedup.buildCanonicalLabels(spreadCorpus.unionByName(batch), "doc_id",
      "text", s"$root/labelsFull", shingleSize = 3, numHashes = 16,
      bands = 8, threshold = 0.5)
    labelMap(s"$root/labels") shouldBe labelMap(s"$root/labelsFull")
    // and the grown index holds no duplicate signatures
    spark.read.parquet(s"$root/idx/features").groupBy("doc").count()
      .agg(max("count")).head().getLong(0) shouldBe 1L
  }

  test("crash mid-apply leaves a mixed store; repairStore rolls it forward exactly") {
    val root = freshRoot("bcrash2")
    Dedup.buildCanonicalLabels(spreadCorpus, "doc_id", "text",
      s"$root/labels", shingleSize = 3, numHashes = 16, bands = 8,
      threshold = 0.5, numBuckets = 16)
    Dedup.buildLshIndex(spreadCorpus, "doc_id", "text", s"$root/idx",
      shingleSize = 3, numHashes = 16, bands = 8)
    // retract six singletons — spread over ≥ 2 of the 16 hash buckets
    // with near-certainty, so crash point 2 really leaves a mixed state
    val rids = Seq(1L, 2L, 3L, 4L, 5L, 6L)
    val retract = docs(rids.map(i => i -> ""): _*).select("doc_id")

    ArtifactStore.testCrashPoint = 2
    try {
      an[IllegalStateException] should be thrownBy
        Dedup.retractFromLabels(retract, "doc_id", s"$root/labels",
          s"$root/idx", threshold = 0.5)
    } finally ArtifactStore.testCrashPoint = 0

    ArtifactStore.repairStore(spark, s"$root/labels")
    Dedup.buildCanonicalLabels(
      spreadCorpus.filter(!col("doc_id").isin(rids: _*)), "doc_id", "text",
      s"$root/labelsFull", shingleSize = 3, numHashes = 16, bands = 8,
      threshold = 0.5)
    labelMap(s"$root/labels") shouldBe labelMap(s"$root/labelsFull")
  }

  test("unmarked staging debris is rolled back by repairStore; store unchanged") {
    val root = freshRoot("bdebris")
    Dedup.buildCanonicalLabels(spreadCorpus, "doc_id", "text",
      s"$root/labels", shingleSize = 3, numHashes = 16, bands = 8,
      threshold = 0.5, numBuckets = 16)
    val pre = labelMap(s"$root/labels")
    val debris = new java.io.File(s"$root/labels/.__bstaging/b=3")
    debris.mkdirs() shouldBe true
    ArtifactStore.repairStore(spark, s"$root/labels")
    new java.io.File(s"$root/labels/.__bstaging").exists() shouldBe false
    labelMap(s"$root/labels") shouldBe pre
  }

  test("mega-component retraction with a tiny broadcastRowLimit still matches the rebuild") {
    // 40 exact copies = one LSH mega-component (the index deliberately
    // breaks the post-exact-dedup build contract), plus two bystanders
    val mega = (100L until 140L).map(i => i -> blk("m", 18))
    val corpus = docs(mega ++ Seq(50L -> blk("z", 20), 70L -> blk("y", 20)): _*)
    val root = freshRoot("bmega")
    Dedup.buildCanonicalLabels(corpus, "doc_id", "text", s"$root/labels",
      shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.5,
      numBuckets = 8)
    Dedup.buildLshIndex(corpus, "doc_id", "text", s"$root/idx",
      shingleSize = 3, numHashes = 16, bands = 8)
    val retract = docs(100L -> "", 101L -> "").select("doc_id")
    // limit 2 < every takedown set (rids=2 is at the boundary; affCanon,
    // members, survivors all exceed it) → the unconditional hints are
    // dropped and the joins plan without a forced driver broadcast
    Dedup.retractFromLabels(retract, "doc_id", s"$root/labels",
      s"$root/idx", threshold = 0.5, broadcastRowLimit = 1L)
    Dedup.buildCanonicalLabels(
      corpus.filter(!col("doc_id").isin(100L, 101L)), "doc_id", "text",
      s"$root/labelsFull", shingleSize = 3, numHashes = 16, bands = 8,
      threshold = 0.5)
    labelMap(s"$root/labels") shouldBe labelMap(s"$root/labelsFull")
  }

  test("only INDEXED ids are tombstoned; a never-indexed id can be re-ingested without compact") {
    val corpus = docs(50L -> blk("z", 20), 65L -> blk("z", 20).replace("z5 ", "z5x "),
      70L -> blk("y", 20), 99L -> null.asInstanceOf[String])
    val root = freshRoot("btomb")
    Dedup.buildCanonicalLabels(corpus, "doc_id", "text", s"$root/labels",
      shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.5,
      numBuckets = 8)
    Dedup.buildLshIndex(corpus, "doc_id", "text", s"$root/idx",
      shingleSize = 3, numHashes = 16, bands = 8)
    // doc 99 has null text → in the labels (singleton) but NOT indexed
    labelMap(s"$root/labels").keySet should contain(99L)
    spark.read.parquet(s"$root/idx/features")
      .filter(col("doc") === 99L).count() shouldBe 0L

    Dedup.retractFromLabels(docs(99L -> "", 50L -> "").select("doc_id"),
      "doc_id", s"$root/labels", s"$root/idx", threshold = 0.5)
    // round-11 advisory: the tombstone store holds ONLY the indexed id
    spark.read.parquet(s"$root/idx/tombstones").collect()
      .map(_.getLong(0)).toSeq shouldBe Seq(50L)
    labelMap(s"$root/labels").keySet should contain noneOf(50L, 99L)

    // a genuinely new doc re-using the never-indexed id 99 absorbs
    // WITHOUT a compact — the clash guard no longer fires for it
    Dedup.absorbIntoLabels(docs(99L -> blk("fresh", 15)), "doc_id",
      "text", s"$root/labels", s"$root/idx", shingleSize = 3,
      numHashes = 16, bands = 8, threshold = 0.5)
    labelMap(s"$root/labels")(99L) shouldBe ((99L, true))
  }

  test("rebalanceLabels re-buckets the store: rows identical, new geometry live, later mutations exact") {
    val root = freshRoot("brebal")
    Dedup.buildCanonicalLabels(spreadCorpus, "doc_id", "text",
      s"$root/labels", shingleSize = 3, numHashes = 16, bands = 8,
      threshold = 0.5, numBuckets = 4)
    Dedup.buildLshIndex(spreadCorpus, "doc_id", "text", s"$root/idx",
      shingleSize = 3, numHashes = 16, bands = 8)
    val b1 = docs(20L -> blk("z", 20).replace("z6 ", "z6y "))
    Dedup.absorbIntoLabels(b1, "doc_id", "text", s"$root/labels",
      s"$root/idx", shingleSize = 3, numHashes = 16, bands = 8,
      threshold = 0.5)
    val pre = labelMap(s"$root/labels")
    val preDirs = ArtifactStore.listBucketDirs(spark, s"$root/labels").size
    preDirs should be <= 4

    Dedup.rebalanceLabels(spark, s"$root/labels", 32)
    labelMap(s"$root/labels") shouldBe pre
    ArtifactStore.listBucketDirs(spark, s"$root/labels").size should
      be > preDirs

    // the refreshed geometry serves the NEXT mutation exactly
    val b2 = docs(90L -> blk("q", 15))
    Dedup.absorbIntoLabels(b2, "doc_id", "text", s"$root/labels",
      s"$root/idx", shingleSize = 3, numHashes = 16, bands = 8,
      threshold = 0.5)
    Dedup.buildCanonicalLabels(
      spreadCorpus.unionByName(b1).unionByName(b2), "doc_id", "text",
      s"$root/labelsFull", shingleSize = 3, numHashes = 16, bands = 8,
      threshold = 0.5)
    labelMap(s"$root/labels") shouldBe labelMap(s"$root/labelsFull")
  }

  test("total takedown empties the store; readLabels stays typed; a fresh absorb restarts the lifecycle") {
    val corpus = docs(1L -> blk("a", 12), 2L -> blk("c", 12),
      3L -> blk("e", 12))
    val root = freshRoot("bempty")
    Dedup.buildCanonicalLabels(corpus, "doc_id", "text", s"$root/labels",
      shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.5,
      numBuckets = 8)
    Dedup.buildLshIndex(corpus, "doc_id", "text", s"$root/idx",
      shingleSize = 3, numHashes = 16, bands = 8)
    Dedup.retractFromLabels(corpus.select("doc_id"), "doc_id",
      s"$root/labels", s"$root/idx", threshold = 0.5)
    // every bucket deleted — the store reads as a TYPED empty frame
    val empty = Dedup.readLabels(spark, s"$root/labels")
    empty.count() shouldBe 0L
    empty.schema.fieldNames.toSeq shouldBe Seq("doc", "canonical_id",
      "is_keeper")
    // the lifecycle restarts: a fresh batch absorbs into the empty store
    val batch = docs(10L -> blk("z", 20),
      11L -> blk("z", 20).replace("z5 ", "z5x "))
    Dedup.absorbIntoLabels(batch, "doc_id", "text", s"$root/labels",
      s"$root/idx", shingleSize = 3, numHashes = 16, bands = 8,
      threshold = 0.5)
    labelMap(s"$root/labels") shouldBe Map(10L -> ((10L, true)),
      11L -> ((10L, false)))
  }

  test("a rebuild at a tombstoned root clears the stale deletion vector") {
    val corpus = docs(50L -> blk("z", 20), 65L -> blk("z", 20).replace("z5 ", "z5x "),
      70L -> blk("y", 20))
    val root = freshRoot("brebuild")
    Dedup.buildCanonicalLabels(corpus, "doc_id", "text", s"$root/labels",
      shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.5)
    Dedup.buildLshIndex(corpus, "doc_id", "text", s"$root/idx",
      shingleSize = 3, numHashes = 16, bands = 8)
    Dedup.retractFromLabels(docs(50L -> "").select("doc_id"), "doc_id",
      s"$root/labels", s"$root/idx", threshold = 0.5)
    ArtifactStore.hasTombstones(spark, s"$root/idx") shouldBe true

    // periodic REBUILD over the full corpus at the same root (round-11
    // advisory): the fresh index must not inherit the tombstone — doc 50
    // is searchable again
    Dedup.buildLshIndex(corpus, "doc_id", "text", s"$root/idx",
      shingleSize = 3, numHashes = 16, bands = 8)
    ArtifactStore.hasTombstones(spark, s"$root/idx") shouldBe false
    Dedup.probeLshIndex(docs(900L -> blk("z", 20)), s"$root/idx",
        "doc_id", "text", shingleSize = 3, numHashes = 16, bands = 8,
        threshold = 0.5)
      .select("doc_b").collect().map(_.getLong(0)).toSet should contain(50L)
  }

  /** The canonical-keyed twin's content, read raw from the c=<k> dirs. */
  private def twinMap(path: String): Map[Long, (Long, Boolean)] = {
    val dirs = ArtifactStore.listBucketDirs(spark, path, "c")
    if (dirs.isEmpty) Map.empty
    else spark.read.parquet(dirs: _*)
      .select("doc", "canonical_id", "is_keeper").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
  }

  test("canonical-keyed twin stays row-identical to the doc-keyed geometry through absorb, retract, rebalance") {
    val root = freshRoot("btwin")
    Dedup.buildCanonicalLabels(spreadCorpus, "doc_id", "text",
      s"$root/labels", shingleSize = 3, numHashes = 16, bands = 8,
      threshold = 0.5, numBuckets = 16)
    Dedup.buildLshIndex(spreadCorpus, "doc_id", "text", s"$root/idx",
      shingleSize = 3, numHashes = 16, bands = 8)
    twinMap(s"$root/labels") shouldBe labelMap(s"$root/labels")

    // absorb with a RELABEL (doc 20 takes keeper-ship of the {50, 65}
    // component) — the moved rows must leave their old canonical's
    // c-bucket and land in the new one
    val batch = docs(20L -> blk("z", 20).replace("z6 ", "z6y "),
      90L -> blk("q", 15))
    Dedup.absorbIntoLabels(batch, "doc_id", "text", s"$root/labels",
      s"$root/idx", shingleSize = 3, numHashes = 16, bands = 8,
      threshold = 0.5)
    twinMap(s"$root/labels") shouldBe labelMap(s"$root/labels")

    // retraction of the keeper hands canonical-ship on; both geometries
    // must agree afterwards
    Dedup.retractFromLabels(docs(20L -> "").select("doc_id"), "doc_id",
      s"$root/labels", s"$root/idx", threshold = 0.5)
    twinMap(s"$root/labels") shouldBe labelMap(s"$root/labels")

    Dedup.rebalanceLabels(spark, s"$root/labels", 32)
    twinMap(s"$root/labels") shouldBe labelMap(s"$root/labels")
  }

  test("point reads are bucket-pruned: only the keys' dirs are scanned, rows exact") {
    import spark.implicits._
    val root = freshRoot("bprune")
    Dedup.buildCanonicalLabels(spreadCorpus, "doc_id", "text",
      s"$root/labels", shingleSize = 3, numHashes = 16, bands = 8,
      threshold = 0.5, numBuckets = 16)
    val full = labelMap(s"$root/labels")
    val bDirs = ArtifactStore.listBucketDirs(spark, s"$root/labels").size

    // doc-keyed point read: the pruned frame's files come from at most
    // |keys| bucket dirs, and semi-joining the keys recovers exactly
    // the full table's rows for them
    val keys = Seq(50L, 65L).toDF("doc")
    val pruned = Dedup.readLabelsForDocs(spark, s"$root/labels", keys)
    val prunedDirs = pruned.inputFiles
      .map(f => f.substring(0, f.lastIndexOf('/'))).distinct
    prunedDirs.length should be <= 2
    prunedDirs.length should be < bDirs
    pruned.join(keys, Seq("doc"), "left_semi").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
      .shouldBe(full.view.filterKeys(Set(50L, 65L)).toMap)

    // canonical-keyed member read: one component key reads at most one
    // c-bucket dir and yields the full member list
    val canon = Seq(50L).toDF("canonical_id")
    val members = Dedup.membersOfCanonicals(spark, s"$root/labels", canon)
    members.inputFiles
      .map(f => f.substring(0, f.lastIndexOf('/'))).distinct
      .length should be <= 1
    members.filter(col("canonical_id") === 50L).collect()
      .map(_.getLong(0)).toSet shouldBe
      full.collect { case (d, (c, _)) if c == 50L => d }.toSet
  }

  test("rebalanceLshIndex: probes exact and inputFiles-pruned on the NEW geometry; tombstones folded; meta target re-measured") {
    import spark.implicits._
    val root = freshRoot("blshreb")
    Dedup.buildLshIndex(spreadCorpus, "doc_id", "text", s"$root/idx",
      shingleSize = 3, numHashes = 16, bands = 8,
      bucketTargetBytes = 1L) // plant 4x drift so the advisor trips
    // retract one doc first: the rebalance must FOLD the tombstone
    Dedup.retractFromLabels(docs(12L -> "").select("doc_id"), "doc_id",
      {
        // retractFromLabels needs a labels store; build a small one
        Dedup.buildCanonicalLabels(spreadCorpus, "doc_id", "text",
          s"$root/labels", shingleSize = 3, numHashes = 16, bands = 8,
          threshold = 0.5, numBuckets = 4)
        s"$root/labels"
      }, s"$root/idx", threshold = 0.5)
    new java.io.File(s"$root/idx/tombstones").exists() shouldBe true
    // the advisor sees the planted byte drift and orders rebalance
    val advice = ArtifactStore.maintenanceAdvice(
      ArtifactStore.census(spark, Seq(("idx", s"$root/idx"))))
    advice.head().getAs[String]("action") shouldBe "rebalance"
    Dedup.rebalanceLshIndex(spark, s"$root/idx", numBucketParts = 64)
    // tombstones folded; target re-measured off the planted 1 byte
    new java.io.File(s"$root/idx/tombstones").exists() shouldBe false
    ArtifactStore.invalidateMeta(spark, s"$root/idx")
    val meta = ArtifactStore.cachedMeta(spark, s"$root/idx").get
    meta.getAs[Int]("bucket_parts") shouldBe 64
    meta.getAs[Long]("bucket_target_bytes") should be > 1L
    // probe answers exact vs the in-plan reference over the live corpus
    // (doc 12 retracted), and the candidate read touches only the
    // batch's own h dirs of the NEW 64-part geometry
    val live = spreadCorpus.filter(col("doc_id") =!= 12L)
    val batch = docs(90L -> blk("z", 20).replace("z3 ", "z3q "))
    val res = Dedup.probeLshIndex(batch, s"$root/idx", "doc_id", "text",
      shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.5)
    val ref = Dedup.incrementalNearDup(batch, live, "doc_id", "text",
      shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.5)
    res.collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe
      ref.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hDirs = res.inputFiles.filter(_.contains("/buckets/h="))
      .map(f => f.substring(0, f.lastIndexOf('/'))).distinct
    val allH = ArtifactStore.listBucketDirs(spark, s"$root/idx/buckets",
      "h").size
    allH should be > 8
    hDirs.length should be <= 8 // one doc x 8 bands
    hDirs.length should be < allH
    // post-rebalance the advisor is satisfied
    ArtifactStore.maintenanceAdvice(
        ArtifactStore.census(spark, Seq(("idx", s"$root/idx"))))
      .head().getAs[String]("action") shouldBe "ok"
  }

  test("absorb auto-rebalances when avg bucket bytes drift past 4x the build target") {
    val root = freshRoot("bauto")
    // pass 1: measure the store's natural size at N=2
    Dedup.buildCanonicalLabels(spreadCorpus, "doc_id", "text",
      s"$root/labels", shingleSize = 3, numHashes = 16, bands = 8,
      threshold = 0.5, numBuckets = 2)
    val total = ArtifactStore.bucketDirBytes(spark, s"$root/labels", "b").sum
    total should be > 0L
    // pass 2: rebuild with a target the CURRENT store already exceeds
    // 4x — the next absorb must trigger the re-bucketing
    Dedup.buildCanonicalLabels(spreadCorpus, "doc_id", "text",
      s"$root/labels", shingleSize = 3, numHashes = 16, bands = 8,
      threshold = 0.5, numBuckets = 2, bucketTargetBytes = total / 16)
    Dedup.buildLshIndex(spreadCorpus, "doc_id", "text", s"$root/idx",
      shingleSize = 3, numHashes = 16, bands = 8)
    val batch = docs(90L -> blk("q", 15))
    Dedup.absorbIntoLabels(batch, "doc_id", "text", s"$root/labels",
      s"$root/idx", shingleSize = 3, numHashes = 16, bands = 8,
      threshold = 0.5)
    // N grew past the build's 2, and the rows are exactly the rebuild's
    ArtifactStore.listBucketDirs(spark, s"$root/labels").size should be > 2
    Dedup.buildCanonicalLabels(spreadCorpus.unionByName(batch), "doc_id",
      "text", s"$root/labelsFull", shingleSize = 3, numHashes = 16,
      bands = 8, threshold = 0.5)
    labelMap(s"$root/labels") shouldBe labelMap(s"$root/labelsFull")
    // the refreshed geometry serves the NEXT mutation exactly
    val b2 = docs(91L -> blk("r", 15))
    Dedup.absorbIntoLabels(b2, "doc_id", "text", s"$root/labels",
      s"$root/idx", shingleSize = 3, numHashes = 16, bands = 8,
      threshold = 0.5)
    Dedup.buildCanonicalLabels(
      spreadCorpus.unionByName(batch).unionByName(b2), "doc_id", "text",
      s"$root/labelsFull2", shingleSize = 3, numHashes = 16, bands = 8,
      threshold = 0.5)
    labelMap(s"$root/labels") shouldBe labelMap(s"$root/labelsFull2")
  }

  /** Summed lengths of the files under `dir`, `.crc` checksums skipped
    * — the byte figure every store measurement must report. */
  private def nioBytes(dir: String): Long = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try files.iterator.asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        !p.getFileName.toString.endsWith(".crc"))
      .map(p => java.nio.file.Files.size(p)).sum
    finally files.close()
  }

  /** The located-listing sum store code used to compute. */
  private def listFilesBytes(dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val it = p.getFileSystem(spark.sessionState.newHadoopConf())
      .listFiles(p, true)
    var total = 0L
    while (it.hasNext) total += it.next().getLen
    total
  }

  test("store byte figures equal the data files' lengths, .crc excluded, and the located-listing sum") {
    import spark.implicits._
    val root = freshRoot("bbytes")
    val n = 4
    val rows = (1L to 40L).map(i => (i, s"v$i" * (i.toInt % 7 + 1))).toDF("doc", "v")
    ArtifactStore.writeRoot(spark, root) { staging =>
      ArtifactStore.writeRepartition(
          rows.withColumn("b", pmod(hash(col("doc")), lit(n))), Seq(col("b")))
        .write.partitionBy("b").parquet(staging)
      Seq(n).toDF("num_buckets")
    }
    val dirs = ArtifactStore.listBucketDirs(spark, root)
    dirs should have size n
    // Spark's writer left checksum files beside the parts: the figures
    // below must skip them
    val crcs = java.nio.file.Files.list(java.nio.file.Paths.get(s"$root/b=0"))
    try crcs.iterator.asScala.exists(_.toString.endsWith(".crc")) shouldBe true
    finally crcs.close()
    val local = dirs.map(d => new java.net.URI(d).getPath)
    ArtifactStore.bucketDirBytes(spark, root, "b") shouldBe local.map(nioBytes)
    local.map(listFilesBytes) shouldBe local.map(nioBytes)
    // one mutation rewrites one bucket; every figure still matches
    val touched = Seq(3L).toDF("doc").localCheckpoint()
    val upserts = Seq((3L, "rewritten")).toDF("doc", "v").localCheckpoint()
    val k = touched.select(pmod(hash(col("doc")), lit(n))).head().getInt(0)
    ArtifactStore.mutateBucketsMulti(spark, root, "doc",
      Seq(ArtifactStore.BucketGeom("b", "doc", n, touched)), touched, upserts)
    ArtifactStore.bucketDirBytes(spark, root, "b") shouldBe local.map(nioBytes)
    listFilesBytes(s"$root/b=$k") shouldBe nioBytes(s"$root/b=$k")
  }

  test("a bucketed labels build writes one meta whose target is the live b= bytes / N") {
    val root = freshRoot("btarget")
    Dedup.buildCanonicalLabels(spreadCorpus, "doc_id", "text",
      s"$root/labels", shingleSize = 3, numHashes = 16, bands = 8,
      threshold = 0.5, numBuckets = 4)
    // read the meta back from disk, not from the cache the build seeded
    ArtifactStore.invalidateMeta(spark, s"$root/labels")
    val target = ArtifactStore.cachedMeta(spark, s"$root/labels").get
      .getAs[Long]("bucket_target_bytes")
    target should be > 0L
    target shouldBe ArtifactStore.bucketDirBytes(spark, s"$root/labels", "b").sum / 4
  }

  test("bucketDirBytesSampledAvgN probes strided dirs directly — no root listing, same stride semantics (round 17)") {
    val root = freshRoot("bstriden")
    // 64 live buckets: ids 0-31 hold 1-byte files, 32-63 hold 101-byte
    // files — a smallest-32-ids sample would read avg = 1 and miss the
    // heavy half entirely; stride ⌈64/32⌉ = 2 probes the even ids:
    // 16 light + 16 heavy
    for (k <- 0 until 64) {
      val dir = new java.io.File(s"$root/b=$k")
      require(dir.mkdirs(), s"could not create $dir")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$root/b=$k/part-0"),
        Array.fill[Byte](if (k < 32) 1 else 101)(0))
    }
    val (avg, live) = ArtifactStore.bucketDirBytesSampledAvgN(
      spark, root, "b", numBuckets = 64, maxDirs = 32)
    live shouldBe 64
    avg shouldBe (16L * 1 + 16L * 101) / 32
    // missing dirs shrink the live ESTIMATE proportionally: delete the
    // even light ids the stride probes — 16 of 32 probes hit → live ≈ 32
    for (k <- 0 until 32 by 2)
      ArtifactStore.deletePath(spark, s"$root/b=$k")
    val (avg2, live2) = ArtifactStore.bucketDirBytesSampledAvgN(
      spark, root, "b", numBuckets = 64, maxDirs = 32)
    live2 shouldBe 32
    avg2 shouldBe 101L // only heavy probes remain in the sample
    // empty store: zero average, zero live
    val (avg0, live0) = ArtifactStore.bucketDirBytesSampledAvgN(
      spark, freshRoot("bstriden-empty"), "b", numBuckets = 64)
    avg0 shouldBe 0L
    live0 shouldBe 0
  }

  test("urlPolicyGateShuffle prunes impossible prefix lengths; result unchanged") {
    import spark.implicits._
    val rules = Seq(
      ("https://a.example/", true),
      ("https://a.example/blocked/", false),
      ("https://a.example/blocked/deeper/and/deeper/still/", true)
    ).toDF("rule", "allow")
    // short-URL corpus: most URLs are shorter than the deepest rule
    val urls = Seq(
      (1L, "https://a.example/x"),
      (2L, "https://a.example/blocked/page"),
      (3L, "https://b.example/"),
      (4L, "https://a.exam")
    ).toDF("id", "url")
    val gated = Curation.urlPolicyGateShuffle(urls, "id", "url", rules)
    // one collect only: the Generate metric below reads THIS execution
    val got = gated.collect()
      .map(r => (r.getLong(0), Option(r.getString(2)), r.getBoolean(3)))
      .sortBy(_._1)
    got.toSeq shouldBe Seq(
      (1L, Some("https://a.example/"), true),
      (2L, Some("https://a.example/blocked/"), false),
      (3L, None, true),
      (4L, None, true))

    // exploded rows == Σ_urls |{rule lengths ≤ |url|}|: lengths are
    // {18, 26, 50}; urls of length 19, 30, 18, 14 → 1 + 2 + 1 + 0 = 4
    // (unpruned: 4 urls × 3 lengths = 12)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: kids.flatMap(flatten)
    }
    val generated = flatten(gated.queryExecution.executedPlan)
      .collect { case g: org.apache.spark.sql.execution.GenerateExec => g }
      .map(_.metrics("numOutputRows").value).sum
    generated shouldBe 4L
  }
}
