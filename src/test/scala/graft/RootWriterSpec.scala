package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.operators.{ArtifactStore, Dedup, Profile, TextAnalysis, VectorIndex}

/** Every artifact build and full rewrite replaces its root through the
  * one root writer (`ArtifactStore.writeRoot`): the new generation is
  * staged beside the live root, marked, and swapped in. A build that
  * fails leaves the previous generation live, tombstones included; a
  * crash after the root marker is rolled forward by `repairStore`.
  */
class RootWriterSpec extends SparkSpec with Matchers {

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-root-$tag").toString + "/store"

  private def blk(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")

  private def corpus: DataFrame = {
    import spark.implicits._
    Seq(50L -> blk("z", 20), 65L -> blk("z", 20).replace("z5 ", "z5x "),
      70L -> blk("y", 20)).toDF("doc_id", "text")
  }

  private def vecs: DataFrame = {
    import spark.implicits._
    Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.9f, 0.1f)), (4L, Array(0.1f, 0.9f))).toDF("vec_id", "embedding")
  }

  private def shards: DataFrame = {
    import spark.implicits._
    Seq((0L, 100L), (0L, 2100L), (1L, 150L), (1L, 3100L)).toDF("shard", "c")
  }

  private def staged(root: String): Boolean =
    new java.io.File(s"$root.__staging").exists()

  test("a failed LSH rebuild keeps the retracted id invisible") {
    val root = freshRoot("lshfail")
    val labels = root.stripSuffix("/store") + "/labels"
    Dedup.buildCanonicalLabels(corpus, "doc_id", "text", labels,
      shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.5)
    Dedup.buildLshIndex(corpus, "doc_id", "text", root,
      shingleSize = 3, numHashes = 16, bands = 8)
    Dedup.retractFromLabels(corpus.filter(col("doc_id") === 50L).select("doc_id"),
      "doc_id", labels, root, threshold = 0.5)
    def probe(): Set[(Long, Long)] = {
      import spark.implicits._
      Dedup.probeLshIndex(Seq(900L -> blk("z", 20)).toDF("doc_id", "text"), root,
          "doc_id", "text", shingleSize = 3, numHashes = 16, bands = 8,
          threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val before = probe()
    before.map(_._2) shouldBe Set(65L)
    // the rebuild's input throws on one row
    val failing = corpus.withColumn("text",
      when(col("doc_id") === 70L, raise_error(lit("boom"))).otherwise(col("text")))
    intercept[Exception] {
      Dedup.buildLshIndex(failing, "doc_id", "text", root,
        shingleSize = 3, numHashes = 16, bands = 8)
    }
    ArtifactStore.hasTombstones(spark, root) shouldBe true
    probe() shouldBe before
    ArtifactStore.repairStore(spark, root)
    staged(root) shouldBe false
    probe() shouldBe before
  }

  test("a failed IVF rebuild keeps the retracted id invisible") {
    val root = freshRoot("ivffail")
    VectorIndex.buildIvfIndex(vecs, "vec_id", "embedding", root, nlist = 2)
    VectorIndex.retractFromIvfIndex(vecs.filter(col("vec_id") === 3L)
      .select("vec_id"), "vec_id", root)
    def probe(): Seq[(Long, Int, Long)] =
      VectorIndex.probeIvfIndex(vecs, root, "vec_id", "embedding", k = 3,
          nprobe = 2)
        .orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val before = probe()
    before.map(_._3) should not contain 3L
    val failing = vecs.withColumn("embedding",
      when(col("vec_id") === 3L, raise_error(lit("boom")))
        .otherwise(col("embedding")))
    intercept[Exception] {
      VectorIndex.buildIvfIndex(failing, "vec_id", "embedding", root, nlist = 3)
    }
    ArtifactStore.hasTombstones(spark, root) shouldBe true
    probe() shouldBe before
    ArtifactStore.repairStore(spark, root)
    staged(root) shouldBe false
    probe() shouldBe before
  }

  test("a crash after the root marker is rolled forward for every root writer") {
    import spark.implicits._
    def meta(field: String)(root: String): Any =
      spark.read.parquet(s"$root/meta").head().getAs[Any](field)
    def labels(n: Int)(root: String): Unit =
      Dedup.buildCanonicalLabels(corpus, "doc_id", "text", root,
        shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.5,
        numBuckets = n)
    def lsh(parts: Int)(root: String): Unit =
      Dedup.buildLshIndex(corpus, "doc_id", "text", root, shingleSize = 3,
        numHashes = 16, bands = 8, numBucketParts = parts)
    def ivf(nlist: Int)(root: String): Unit =
      VectorIndex.buildIvfIndex(vecs, "vec_id", "embedding", root, nlist = nlist)
    def hist(width: Long)(root: String): Unit =
      Profile.buildHistogramArtifact(shards, "shard", col("c"), width, root)
    def bpe(steps: Int)(root: String): Unit =
      TextAnalysis.buildBpeVocab(Seq((1L, "aaaa abab bb")).toDF("id", "text"),
        "text", steps, root)
    // the ledger's shard ids and the histogram's total count
    def ledger(root: String): Any =
      (spark.read.parquet(s"$root/absorbed").select("shard").as[Long]
        .collect().sorted.toSeq,
        spark.read.parquet(s"$root/shards").agg(sum("cnt")).head().getLong(0))
    // (writer, old generation, the write that crashes, what tells the two
    // generations apart on disk, its old value, its new value)
    val cases: Seq[(String, String => Unit, String => Unit, String => Any, Any, Any)] = Seq(
      ("labels build", labels(4), labels(8), meta("num_buckets"), 4, 8),
      ("labels rebalance", labels(4), Dedup.rebalanceLabels(spark, _, 8),
        meta("num_buckets"), 4, 8),
      ("LSH build", lsh(8), lsh(16), meta("bucket_parts"), 8, 16),
      ("LSH rebalance", lsh(8), Dedup.rebalanceLshIndex(spark, _, 16),
        meta("bucket_parts"), 8, 16),
      ("IVF build", ivf(2), ivf(3), meta("nlist"), 2, 3),
      ("IVF retrain", ivf(2), VectorIndex.retrainIvfIndex(spark, _, 2),
        meta("train_iterations"), 0, 2),
      ("histogram build", hist(1000L), hist(500L), meta("width_cents"),
        1000L, 500L),
      ("histogram retract", hist(1000L),
        Profile.retractFromHistogram(shards.filter(col("shard") === 1L),
          "shard", col("c"), _),
        ledger, (Seq(0L, 1L), 4L), (Seq(0L), 2L)),
      ("BPE build", bpe(1), bpe(2), meta("steps"), 1, 2))
    for ((writer, build, write, observe, oldValue, newValue) <- cases)
      withClue(s"$writer: ") {
        val root = freshRoot("crash")
        build(root)
        observe(root) shouldBe oldValue
        ArtifactStore.testCrashPoint = 3
        try intercept[IllegalStateException](write(root))
        finally ArtifactStore.testCrashPoint = 0
        // the old generation is still live; the new one is complete and
        // marked beside it
        observe(root) shouldBe oldValue
        new java.io.File(s"$root.__staging/_SUCCESS").exists() shouldBe true
        ArtifactStore.repairStore(spark, root)
        staged(root) shouldBe false
        observe(root) shouldBe newValue
      }
  }

  test("repairStore refuses a two-field __COMMIT line, naming the root") {
    val root = freshRoot("commit2")
    Dedup.buildCanonicalLabels(corpus, "doc_id", "text", root,
      shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.5,
      numBuckets = 4)
    // the single-geometry `k,kept` manifest line no store layout writes
    val marker = new java.io.File(s"$root/.__bstaging/__COMMIT")
    marker.getParentFile.mkdirs() shouldBe true
    java.nio.file.Files.writeString(marker.toPath, "3,true")
    val e = intercept[IllegalStateException](ArtifactStore.repairStore(spark, root))
    e.getMessage should (include("unparseable __COMMIT line '3,true'") and
      include(root))
  }
}
