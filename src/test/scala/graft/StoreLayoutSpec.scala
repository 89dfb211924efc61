package graft

import org.scalatest.matchers.should.Matchers

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.operators.{ArtifactStore, Dedup, Profile, StoreLayoutException, TextAnalysis, VectorIndex}

/** Each artifact family (canonical labels, LSH index, IVF index,
  * histogram, BPE vocabulary) reads
  * and mutates through ONE store layout, recorded in its meta. A root
  * whose meta is missing, or lacks the current layout's field, must fail
  * on its first read or mutation with the named layout error — never
  * fall back to a full scan of an older layout.
  */
class StoreLayoutSpec extends SparkSpec with Matchers {

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-layout-$tag").toString

  private def copyDir(src: String, dst: String): Unit =
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(src),
      new java.io.File(dst))

  /** Replace the parquet store at `dir` with `f` of its rows. */
  private def rewrite(dir: String)(f: DataFrame => DataFrame): Unit = {
    f(spark.read.parquet(dir)).write.parquet(s"$dir.new")
    ArtifactStore.deletePath(spark, dir)
    new java.io.File(s"$dir.new").renameTo(new java.io.File(dir)) shouldBe true
  }

  /** Rewrite `root`'s meta without `field` (a placeholder column keeps a
    * one-field meta writable); "meta" deletes the meta dir. */
  private def breakMeta(root: String, field: String): Unit = {
    if (field == "meta") ArtifactStore.deletePath(spark, s"$root/meta")
    else rewrite(s"$root/meta")(_.drop(field).withColumn("placeholder", lit(0)))
    ArtifactStore.invalidateMeta(spark, root)
  }

  test("a root with no meta or an out-of-date meta fails its first read or mutation with the named layout error") {
    import spark.implicits._
    def blk(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val z = blk("z", 20)
    val corpus = Seq(50L -> z, 65L -> z.replace("z5 ", "z5x "),
      70L -> blk("y", 20)).toDF("doc_id", "text")
    val batch = Seq(80L -> blk("w", 20)).toDF("doc_id", "text")
    val vecs = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.7f, 0.7f))).toDF("vec_id", "embedding")
    val base = freshRoot("base")
    Dedup.buildCanonicalLabels(corpus, "doc_id", "text", s"$base/labels",
      shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.5)
    Dedup.buildLshIndex(corpus, "doc_id", "text", s"$base/idx",
      shingleSize = 3, numHashes = 16, bands = 8)
    VectorIndex.buildIvfIndex(vecs, "vec_id", "embedding", s"$base/ivf",
      nlist = 2)
    val shards = Seq((0L, 100L), (1L, 2100L)).toDF("shard", "c")
    Profile.buildHistogramArtifact(shards, "shard", col("c"), 1000L,
      s"$base/hist")
    val words = Seq((1L, "aaaa abab")).toDF("id", "text")
    TextAnalysis.buildBpeVocab(words, "text", steps = 1, path = s"$base/bpe")
    def absorb(labels: String, idx: String): Unit =
      Dedup.absorbIntoLabels(batch, "doc_id", "text", labels, idx,
        shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.5)
        .count(): Unit

    // (family's store under the copied root, the layout field it must
    // record, the build call that writes it, the first use: the broken
    // store's path plus a healthy twin of the other LSH-family store)
    val cases: Seq[(String, String, String, String, (String, String) => Unit)] = Seq(
      ("labels", "canon_buckets", "Dedup.buildCanonicalLabels", "read",
        (p, _) => Dedup.readLabels(spark, p).count(): Unit),
      ("labels", "canon_buckets", "Dedup.buildCanonicalLabels", "absorb",
        (p, idx) => absorb(p, idx)),
      ("idx", "feature_parts", "Dedup.buildLshIndex", "probe",
        (p, _) => Dedup.probeLshIndex(batch, p, "doc_id", "text",
          shingleSize = 3, numHashes = 16, bands = 8).count(): Unit),
      ("idx", "feature_parts", "Dedup.buildLshIndex", "absorb",
        (p, labels) => absorb(labels, p)),
      ("ivf", "id_parts", "VectorIndex.buildIvfIndex", "probe",
        (p, _) => VectorIndex.probeIvfIndex(vecs, p, "vec_id", "embedding",
          k = 1, nprobe = 1).count(): Unit),
      ("ivf", "id_parts", "VectorIndex.buildIvfIndex", "absorb",
        (p, _) => VectorIndex.absorbIntoIvfIndex(
          Seq((9L, Array(1.0f, 0.1f))).toDF("vec_id", "embedding"),
          "vec_id", "embedding", p)),
      ("hist", "width_cents", "Profile.buildHistogramArtifact", "quantiles",
        (p, _) => Profile.quantilesFromHistogramArtifact(spark, p,
          Seq(5000)).count(): Unit),
      ("hist", "width_cents", "Profile.buildHistogramArtifact", "absorb",
        (p, _) => Profile.absorbIntoHistogram(
          Seq((2L, 300L)).toDF("shard", "c"), "shard", col("c"), p)),
      ("bpe", "steps", "TextAnalysis.buildBpeVocab", "encode",
        (p, _) => TextAnalysis.bpeEncodeFromVocab(words, "id", "text", p)
          .count(): Unit))

    for {
      (store, layoutField, build, use, run) <- cases
      missing <- Seq(layoutField, "meta")
    } withClue(s"$store $use, meta missing $missing: ") {
      val root = freshRoot(s"$store-$use")
      Seq("labels", "idx", "ivf", "hist", "bpe")
        .foreach(s => copyDir(s"$base/$s", s"$root/$s"))
      breakMeta(s"$root/$store", missing)
      val twin = if (store == "labels") s"$root/idx" else s"$root/labels"
      val e = intercept[StoreLayoutException](run(s"$root/$store", twin))
      e.root shouldBe s"$root/$store"
      e.field shouldBe missing
      e.build shouldBe build
      e.getMessage should (include(s"$root/$store") and include(missing) and
        include(build))
    }
  }

  test("an IVF store whose every vector was retracted and then compacted probes to an empty answer") {
    import spark.implicits._
    val vecs = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.7f, 0.7f))).toDF("vec_id", "embedding")
    val root = freshRoot("ivfempty") + "/ivf"
    VectorIndex.buildIvfIndex(vecs, "vec_id", "embedding", root, nlist = 2)
    VectorIndex.retractFromIvfIndex(vecs.select("vec_id"), "vec_id", root)
    VectorIndex.compactIvfIndex(spark, root)
    new java.io.File(s"$root/tombstones").exists() shouldBe false
    VectorIndex.probeIvfIndex(
        Seq((-1L, Array(0.9f, 0.1f))).toDF("vec_id", "embedding"),
        root, "vec_id", "embedding", k = 3, nprobe = 2)
      .count() shouldBe 0L
  }

  test("a histogram ledger without fingerprints fails absorb and retract naming fp_rows") {
    import spark.implicits._
    val root = freshRoot("histledger") + "/h"
    val rows = Seq((0L, 100L), (1L, 2100L)).toDF("shard", "c")
    Profile.buildHistogramArtifact(rows, "shard", col("c"), 1000L, root)
    // the ledger as a store from before the fingerprint columns wrote it
    rewrite(s"$root/absorbed")(_.select("shard"))
    ArtifactStore.invalidateMeta(spark, root)
    val uses: Seq[(String, () => Unit)] = Seq(
      "absorb" -> (() => Profile.absorbIntoHistogram(
        Seq((2L, 300L)).toDF("shard", "c"), "shard", col("c"), root)),
      "retract" -> (() => Profile.retractFromHistogram(
        rows.filter(col("shard") === 1L), "shard", col("c"), root)))
    for ((use, run) <- uses) withClue(s"$use: ") {
      val e = intercept[StoreLayoutException](run())
      e.root shouldBe root
      e.field shouldBe "fp_rows"
      e.build shouldBe "Profile.buildHistogramArtifact"
    }
  }
}
